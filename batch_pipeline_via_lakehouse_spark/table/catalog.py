"""Engine-owned table: create / load / append / overwrite / scan / time travel.

Write semantics mirror the reference's contract (SURVEY.md §1.5):
``append`` and ``overwrite`` each produce a new snapshot; older snapshots stay
queryable (time travel == ``scan(snapshot_id=...)``, the analogue of Iceberg's
``FOR VERSION AS OF`` exercised in the reference's
``notebooks/iceberg_curd/create_iceberg_table.ipynb`` cells 6-11).

Partitioning is identity-style like the reference's bronze tables
(``src/elt/bronze/_bronze_handler.py:50-56`` partitions by ingest_year/month):
we write with ``partitionBy`` on shadow ``_p_<col>`` copies so the partition
value shapes the directory layout (and the manifest entry) while the real
column stays inside the Parquet file — scans of explicit file lists then need
no basePath reconstruction and schema stays uniform across commits.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .arrow_io import arrow_rewrite_job, stats_columns
from .format import (
    DataFile,
    Snapshot,
    atomic_write,
    now_ms,
    read_manifest,
    write_manifest,
)
from .stats import collect_file_stats

_P = "_p_"  # shadow partition-column prefix in directory layout


def _norm_nullability(dt):
    """Type with all nullability flags erased (for cast-necessity checks —
    Spark refuses array<int> -> array<int> casts differing only in
    containsNull)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        out = StructType()
        for f in dt.fields:
            out.add(f.name, _norm_nullability(f.dataType), True)
        return out
    if isinstance(dt, ArrayType):
        return ArrayType(_norm_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_norm_nullability(dt.keyType), _norm_nullability(dt.valueType), True)
    return dt


def conform_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Cast matching columns, add missing ones as typed nulls, reorder —
    the reference's normalize step (`src/elt/silver/_silver_handler.py:44-55`,
    P3). Columns whose type already matches (modulo nullability) pass
    through uncast."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if field.name in by_name:
            if _norm_nullability(by_name[field.name]) == _norm_nullability(field.dataType):
                cols.append(F.col(field.name))
            else:
                cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


class Table:
    def __init__(self, root: str):
        self.root = root
        self.metadata_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        with open(os.path.join(self.metadata_dir, "table.json")) as f:
            meta = json.load(f)
        self.schema: StructType = StructType.fromJson(meta["schema"])
        self.partition_cols: list[str] = meta["partition_by"]
        self.table_uuid: str = meta["uuid"]
        self._manifest_cache: dict[str, list[DataFile]] = {}

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(root: str, schema: StructType, partition_by: list[str] | None = None) -> "Table":
        partition_by = partition_by or []
        for c in partition_by:
            if c not in schema.fieldNames():
                raise ValueError(f"partition column {c!r} not in schema")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        meta = {
            "schema": schema.jsonValue(),
            "partition_by": partition_by,
            "uuid": uuid.uuid4().hex,
            "format_version": 1,
        }
        atomic_write(os.path.join(root, "metadata", "table.json"), json.dumps(meta, indent=2))
        return Table(root)

    @staticmethod
    def load(root: str) -> "Table":
        return Table(root)

    # ------------------------------------------------------------- snapshots
    def current_snapshot_id(self) -> int | None:
        vp = os.path.join(self.metadata_dir, "VERSION")
        if not os.path.exists(vp):
            return None
        with open(vp) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: int) -> Snapshot:
        with open(os.path.join(self.metadata_dir, f"snap-{snapshot_id}.json")) as f:
            return Snapshot.from_json(f.read())

    def snapshots(self) -> list[Snapshot]:
        out = []
        for p in sorted(glob.glob(os.path.join(self.metadata_dir, "snap-*.json"))):
            with open(p) as f:
                out.append(Snapshot.from_json(f.read()))
        out.sort(key=lambda s: s.snapshot_id)
        return out

    def _read_manifest_cached(self, name: str) -> list[DataFile]:
        if name not in self._manifest_cache:
            self._manifest_cache[name] = read_manifest(self.metadata_dir, name)
        return self._manifest_cache[name]

    def live_files(self, snapshot_id: int | None = None) -> list[DataFile]:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return []
        files: list[DataFile] = []
        for m in self.snapshot(sid).manifests:
            files.extend(self._read_manifest_cached(m))
        return files

    # ------------------------------------------------------------- commit
    # Above this many data files the driver-side manifest fold in commit()
    # hands off to a Spark job (one task per manifest; untouched manifests
    # are still reused by name, touched ones rewritten executor-side).
    DISTRIBUTED_COMMIT_THRESHOLD = 200_000

    def commit(
        self,
        added: list[DataFile],
        removed_paths: set[str],
        operation: str,
        summary: dict | None = None,
        spark: SparkSession | None = None,
        distributed: bool | None = None,
    ) -> int:
        """Atomically produce the next snapshot: parent manifests minus
        ``removed_paths`` (affected manifests rewritten), plus one new
        manifest for ``added``.

        ``distributed=None`` auto-selects: when ``spark`` is provided and the
        parent snapshot tracks more than DISTRIBUTED_COMMIT_THRESHOLD data
        files, manifest filtering/rewriting runs as a Spark job over the
        manifest list instead of a driver fold (same output — pytest-asserted
        on cloned tables)."""
        parent = self.current_snapshot_id()
        manifests: list[str] = []
        if parent is not None:
            parent_manifests = self.snapshot(parent).manifests
            if distributed is None:
                distributed = bool(
                    spark is not None
                    and removed_paths
                    and self._snapshot_file_count(parent) > self.DISTRIBUTED_COMMIT_THRESHOLD
                )
            if distributed:
                if spark is None:
                    raise ValueError("distributed commit requires a SparkSession")
                manifests = self._filter_manifests_distributed(
                    spark, parent_manifests, removed_paths
                )
            else:
                for m in parent_manifests:
                    # cached reads: a maintenance job issues one commit per
                    # file group, and rescanning every manifest from disk per
                    # commit would make commit cost quadratic in group count
                    entries = self._read_manifest_cached(m)
                    if removed_paths and any(e.path in removed_paths for e in entries):
                        kept = [e for e in entries if e.path not in removed_paths]
                        if kept:
                            name = write_manifest(self.metadata_dir, kept)
                            self._manifest_cache[name] = kept
                            manifests.append(name)
                    else:
                        manifests.append(m)
        if added:
            name = write_manifest(self.metadata_dir, added)
            self._manifest_cache[name] = added
            manifests.append(name)

        sid = (parent or 0) + 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent,
            operation=operation,
            manifests=manifests,
            summary={
                "added-files": len(added),
                "removed-files": len(removed_paths),
                "added-rows": sum(f.rows for f in added),
                **(summary or {}),
            },
            timestamp_ms=now_ms(),
        )
        atomic_write(os.path.join(self.metadata_dir, f"snap-{sid}.json"), snap.to_json())
        atomic_write(os.path.join(self.metadata_dir, "VERSION"), str(sid))
        return sid

    def _snapshot_file_count(self, snapshot_id: int) -> int:
        """Data-file count, O(#manifests): cached manifests answer from
        memory; only uncached ones cost a Parquet footer read. Keeps the
        per-commit distributed?-decision free for maintenance jobs, whose
        commit loop has every parent manifest cached already."""
        import pyarrow.parquet as pq

        total = 0
        for m in self.snapshot(snapshot_id).manifests:
            if m in self._manifest_cache:
                total += len(self._manifest_cache[m])
            else:
                total += pq.read_metadata(os.path.join(self.metadata_dir, m)).num_rows
        return total

    def _filter_manifests_distributed(
        self, spark: SparkSession, parent_manifests: list[str], removed_paths: set[str]
    ) -> list[str]:
        """Spark-job manifest filtering for commit: one task per manifest.
        A manifest with no removed paths is reused by name (no IO beyond the
        read); a touched one is rewritten executor-side minus the removed
        entries. The removed set ships in the task closure — it is bounded by
        the files one maintenance bundle rewrites, not by table size.

        Storage requirement: tasks read/write the metadata dir via plain
        filesystem paths, so it must be a SHARED filesystem visible to every
        executor (local mode, NFS, FUSE-mounted object store). On a cluster
        without a shared mount, swap the pyarrow read/write for the object
        store API — the per-manifest sharding is storage-agnostic."""
        if not removed_paths:
            return list(parent_manifests)
        meta_dir = self.metadata_dir
        names = list(parent_manifests)
        removed = sorted(removed_paths)

        def task(batches):
            import os as _os
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            rset = pa.array(removed, pa.string())
            for b in batches:
                for i in b.column(0).to_pylist():
                    name = names[i]
                    t = pq.read_table(_os.path.join(meta_dir, name))
                    hit = pc.is_in(t.column("path"), value_set=rset)
                    # pc.any over zero rows yields null -> `not` keeps the
                    # manifest by name, exactly like the driver fold (which
                    # reuses any untouched manifest, empty or not)
                    if not pc.any(hit).as_py():
                        yield pa.RecordBatch.from_pydict({"name": [name]})
                        continue
                    kept = t.filter(pc.invert(hit))
                    if kept.num_rows == 0:
                        continue
                    new = f"manifest-{_uuid.uuid4().hex}.parquet"
                    pq.write_table(kept, _os.path.join(meta_dir, new))
                    yield pa.RecordBatch.from_pydict({"name": [new]})

        n_tasks = max(1, min(len(names), spark.sparkContext.defaultParallelism * 4))
        rows = (
            spark.range(0, len(names), numPartitions=n_tasks)
            .mapInArrow(task, "name string")
            .collect()
        )
        return [r["name"] for r in rows]

    # ------------------------------------------------------------- write
    def write_datafiles(
        self,
        df: DataFrame,
        num_files: int | None = None,
        sort_within: list[str] | None = None,
        use_coalesce: bool = False,
    ) -> list[DataFile]:
        """Write ``df`` as immutable Parquet under a fresh commit dir and
        return manifest entries (stats collected footer-only, distributed).

        ``use_coalesce`` merges input partitions narrowly (no shuffle) —
        right for compaction, where input rows need no redistribution."""
        spark = df.sparkSession
        commit_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        out = conform_schema(df, self.schema)
        if num_files:
            out = out.coalesce(num_files) if use_coalesce else out.repartition(num_files)
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        writer = out.write.mode("error")
        if self.partition_cols:
            shadow = {_P + c: F.col(c) for c in self.partition_cols}
            out2 = out
            for name, expr in shadow.items():
                out2 = out2.withColumn(name, expr)
            writer = out2.write.mode("error").partitionBy(*[_P + c for c in self.partition_cols])
        writer.parquet(commit_dir)

        paths = sorted(glob.glob(os.path.join(commit_dir, "**", "*.parquet"), recursive=True))
        tracked, sum_cols = stats_columns(self.schema)
        stats = collect_file_stats(spark, paths, tracked, sum_cols)
        files: list[DataFile] = []
        for p in paths:
            rel = os.path.relpath(p, self.root)
            partition = {}
            for seg in rel.split(os.sep):
                if seg.startswith(_P) and "=" in seg:
                    k, v = seg.split("=", 1)
                    partition[k[len(_P):]] = unquote(v)
            rows, nbytes, st = stats[p]
            files.append(DataFile(path=rel, partition=partition, rows=rows, bytes=nbytes, stats=st))
        return files

    def append(self, df: DataFrame, num_files: int | None = None) -> int:
        files = self.write_datafiles(df, num_files=num_files)
        return self.commit(files, set(), "append")

    def append_native(self, df: DataFrame, num_files: int | None = None) -> int:
        """Append via executor-side native parquet writes (table/arrow_io):
        tasks write their own zstd files and return manifest entries — no JVM
        writer, no post-hoc stats pass. Same commit semantics as append()."""
        out = conform_schema(df, self.schema)
        if num_files:
            out = out.repartition(num_files)
        tracked, sums = stats_columns(self.schema)
        files = arrow_rewrite_job(
            out, self.root, os.path.join("data", uuid.uuid4().hex),
            self.partition_cols, tracked, sums,
        )
        return self.commit(files, set(), "append")

    def overwrite(self, df: DataFrame, num_files: int | None = None) -> int:
        files = self.write_datafiles(df, num_files=num_files)
        removed = {f.path for f in self.live_files()}
        return self.commit(files, removed, "overwrite")

    # ------------------------------------------------------------- read
    def read_files(self, spark: SparkSession, files: list[DataFile]) -> DataFrame:
        return self.read_paths(spark, [f.path for f in files])

    def read_paths(self, spark: SparkSession, rel_paths: list[str]) -> DataFrame:
        if not rel_paths:
            return spark.createDataFrame([], self.schema)
        paths = [os.path.join(self.root, p) for p in rel_paths]
        return spark.read.schema(self.schema).parquet(*paths)

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        df = self.read_files(spark, self.live_files(snapshot_id))
        return df.select(*columns) if columns else df

    # --------------------------------------------------------- metadata tables
    def metadata_df(self, spark: SparkSession, name: str) -> DataFrame:
        """Queryable metadata tables — the engine analogue of Iceberg's
        `tbl$snapshots` / `tbl$files` the reference inspects in
        `notebooks/iceberg_curd/create_iceberg_table.ipynb` cells 9-11."""
        if name == "snapshots":
            rows = [
                (
                    s.snapshot_id,
                    s.parent_id,
                    s.operation,
                    s.timestamp_ms,
                    json.dumps(s.summary, default=str),
                    len(s.manifests),
                )
                for s in self.snapshots()
            ]
            return spark.createDataFrame(
                rows,
                "snapshot_id long, parent_id long, operation string, "
                "timestamp_ms long, summary string, n_manifests int",
            )
        if name == "files":
            rows = [
                (
                    f.path,
                    json.dumps(f.partition, sort_keys=True),
                    f.rows,
                    f.bytes,
                    json.dumps(f.stats, default=str),
                )
                for f in self.live_files()
            ]
            return spark.createDataFrame(
                rows, "path string, partition string, rows long, bytes long, stats string"
            )
        raise ValueError(f"unknown metadata table {name!r} (snapshots|files)")
