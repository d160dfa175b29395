"""Z-order / Hilbert clustering rewrite.

The physical-layout operator the reference never has (SURVEY.md §2.6 note:
"the new engine's Z-order pass is exactly a global sort"): compute a
space-filling-curve key over (n_tok, hash(source), hash(doc_id)), cut the key
space into range cells from sampled keys, and rewrite each cell as one file
sorted by the key. Cells come from key quantiles, so skewed sources still
yield balanced output files; the key itself is hash-mixed, which de-clusters
hot source values across ranges.

Partitioned tables cluster within each identity partition over the remaining
dims (what Iceberg's sort-order rewrite does); unpartitioned tables cluster
globally in 3 dims. The payoff is measurable, not aesthetic: post-cluster
manifests carry tight per-file min/max on the sort dims, so point/range scans
skip most files (asserted in tests).

The rewrite is a staged exchange that keeps the data in Arrow end to end:

  plan   : per-file key-quantile samples (column-pruned native reads)
           -> driver merges into per-partition range-cell bounds
  map    : one task per data file: native read, vectorized key
           (functions/zorder kernels + FNV-1a dim hashes), sort, write ONE
           Arrow IPC run file (a record batch per overlapping cell, lz4)
  reduce : one task per group of cells: footer-indexed reads of its cells'
           batches from each run, merge, write the final zstd file + stats

Both stages are embarrassingly parallel Spark jobs over descriptors, so
parallelism == #files / #cells, independent of shuffle machinery. On a real
cluster the staging directory is the shared table store (object storage) —
the same pattern as Iceberg's shuffle-free sort rewrites.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.zorder import fnv1a64, native_cluster_key
from ..sources.scan import live_files_slim, partition_key
from ..table.arrow_io import _arrow_stats, stats_columns
from ..table.catalog import Table
from ..table.format import DataFile
from .commitlog import CommitLog

_KEY = "__cluster_key"  # staged-run column; dropped before the final write
# keys sampled per data file to place the range-cell bounds
_SAMPLE_PER_FILE = 512
# a bundle holds >= this many map-task waves (fewer and the last partial
# wave's idle slots dominate)
_BUNDLE_WAVES = 4


def cluster(
    spark: SparkSession,
    table: Table,
    mode: str = "zorder",  # zorder | hilbert
    numeric_col: str = "n_tok",
    hash_cols: tuple[str, ...] = ("source", "doc_id"),
    target_bytes: int = 128 * 1024 * 1024,
    job_id: str | None = None,
    snapshot_id: int | None = None,
) -> dict:
    """Rewrite the table clustered by a Z/Hilbert key; one commit + commit-log
    entry per identity partition (resumable with the same ``job_id``).

    Map tasks read data files with pyarrow, key rows vectorized, and stage
    one sorted run per file; reduce tasks merge each cell's slices of those
    runs into its final file. No table row ever crosses the JVM row format."""
    job_id = job_id or f"cluster-{mode}-{uuid.uuid4().hex[:12]}"
    log = CommitLog(table.root, job_id)
    meta = log.init_job(
        {"base_snapshot": snapshot_id if snapshot_id is not None else table.current_snapshot_id(),
         "mode": mode}
    )
    base = meta["base_snapshot"]

    # full-stats parse of every manifest row is the driver's only O(#files)
    # CPU here; above the plan threshold the listing strips stats to the two
    # columns clustering needs (bounds dim + token metric) executor-side
    files = live_files_slim(spark, table, base, stat_cols=(numeric_col, "n_tok"))
    if not files:
        return {"job_id": job_id, "mode": mode, "partitions": 0, "tokens": 0,
                "rows": 0, "seconds": 0.0, "executed": []}

    # scale bounds for the numeric dim come from manifests (metadata only)
    los = [f.stat(numeric_col, "min") for f in files if f.stat(numeric_col, "min") is not None]
    his = [f.stat(numeric_col, "max") for f in files if f.stat(numeric_col, "max") is not None]
    lo, hi = (float(min(los)), float(max(his))) if los else (0.0, 1.0)

    # inside an identity partition the partition col is constant — drop it
    # from the key dims so its bits don't waste key space
    part_cols = list(table.partition_cols)
    dims = [c for c in hash_cols if c not in set(part_cols)]
    read_cols = [numeric_col, *dims]

    by_part: dict[str, list[DataFile]] = {}
    for f in files:
        by_part.setdefault(partition_key(f), []).append(f)
    done = log.completed_partitions()
    todo = [(pk, fl) for pk, fl in sorted(by_part.items()) if pk not in done]
    has_tokens = "n_tok" in table.schema.fieldNames()

    tracked, sums = stats_columns(table.schema)
    # every staged run is cast to the table's own Arrow types: files of one
    # partition may come from different writers whose physical types differ
    # (JVM INT96 timestamp[ns] vs Arrow timestamp[us, tz=UTC], nullability,
    # list element names), and the reduce concatenates their batches
    arrow_schema = to_arrow_schema(table.schema)
    table_root = table.root
    run_dir = os.path.join(table_root, "_staging", job_id, uuid.uuid4().hex[:8])

    def make_key(tbl):
        """Vectorized cluster key for a pyarrow table slice (NumPy only)."""
        numeric = tbl.column(numeric_col).to_numpy()
        hashes = [fnv1a64(tbl.column(d)) for d in dims]
        if not hashes:
            hashes = [np.zeros(len(numeric), np.uint64)]
        return native_cluster_key(mode, numeric, hashes, lo, hi)

    reports = []

    # bundles of identity partitions = resume/commit units. Only split into
    # multiple bundles when each still fills the cluster for
    # _BUNDLE_WAVES map-task waves — at sandbox scale that means ONE bundle
    # (splitting would starve the map stage), at 10^6-file scale it means 4
    # resume units of thousands of tasks each.
    n_files_todo = sum(len(fl) for _, fl in todo)
    par = spark.sparkContext.defaultParallelism
    n_bundles = max(1, min(4, len(todo), n_files_todo // (_BUNDLE_WAVES * par)))
    bundles: list[list[tuple[str, list[DataFile]]]] = [[] for _ in range(n_bundles)]
    bundle_bytes = [0] * n_bundles
    for pk, fl in sorted(todo, key=lambda kv: sum(f.bytes for f in kv[1]), reverse=True):
        i = bundle_bytes.index(min(bundle_bytes))
        bundles[i].append((pk, fl))
        bundle_bytes[i] += sum(f.bytes for f in fl)
    bundles = [b for b in bundles if b]

    commit_mutex = threading.Lock()

    def run_bundle(args) -> None:
        bi, bundle = args
        t0 = time.monotonic()
        pk_index = {pk: i for i, (pk, _) in enumerate(bundle)}
        partitions = [dict(by_part[pk][0].partition) for pk, _ in bundle]
        bfiles = [(pk_index[pk], f) for pk, fl in bundle for f in fl]
        abs_paths = [os.path.join(table_root, f.path) for _, f in bfiles]
        file_pk = [i for i, _ in bfiles]
        stage_dir = os.path.join(run_dir, f"b{bi}")

        # ---- plan: per-file strided key samples -> per-partition bounds ----
        def sample_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    tbl = pq.read_table(abs_paths[v], columns=read_cols, use_threads=False)
                    k = np.sort(make_key(tbl))
                    stride = max(1, len(k) // _SAMPLE_PER_FILE)
                    samp = k[::stride]
                    yield pa.RecordBatch.from_pydict(
                        {"pk": pa.array([file_pk[v]] * len(samp), pa.int32()),
                         "key": pa.array(samp, pa.int64())}
                    )

        # ~2 task waves, several files per task: each sample read is a tiny
        # column-pruned scan, so one-task-per-file is dispatch-dominated
        samples = (
            spark.range(
                0,
                len(abs_paths),
                numPartitions=max(1, min(len(abs_paths), 2 * par)),
            )
            .mapInArrow(sample_task, "pk int, key long")
            .toPandas()
        )
        bounds: list[np.ndarray] = []
        n_cells_per_pk: list[int] = []
        for i, (pk, fl) in enumerate(bundle):
            nb = max(1, round(sum(f.bytes for f in fl) / target_bytes))
            s = np.sort(samples.loc[samples["pk"] == i, "key"].to_numpy(np.int64))
            if nb > 1 and len(s):
                cut_pos = np.linspace(0, len(s), nb + 1)[1:-1].astype(int)
                bounds.append(np.unique(s[np.minimum(cut_pos, len(s) - 1)]))
            else:
                bounds.append(np.empty(0, np.int64))
            n_cells_per_pk.append(len(bounds[-1]) + 1)

        # ---- map: sort each file by key, stage ONE Arrow IPC run file -----
        # A run file holds one record batch per overlapping range cell, with
        # the per-batch cell ids in the schema metadata; the reduce task
        # random-accesses exactly its cell's batches via the IPC footer
        # (get_batch). One run per data file keeps the staging file count at
        # #files, not #files x #cells (compacted inputs overlap every cell of
        # their partition, so that product is dense).
        def stage_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            opts = pa.ipc.IpcWriteOptions(compression="lz4")
            for batch in batches:
                for v in batch.column(0).to_pylist():
                    pki = file_pk[v]
                    # reading only the table's columns, in table order, also
                    # drops physical shadow columns (_p_<col>) some writers
                    # leave in files
                    tbl = pq.read_table(
                        abs_paths[v], columns=arrow_schema.names, use_threads=False
                    )
                    if tbl.schema != arrow_schema:
                        tbl = tbl.cast(arrow_schema)
                    k = make_key(tbl)
                    order = np.argsort(k, kind="stable")
                    stbl = (
                        tbl.take(pa.array(order))
                        .append_column(_KEY, pa.array(k[order], pa.int64()))
                        .combine_chunks()
                    )
                    cells = np.searchsorted(bounds[pki], k[order], side="right")
                    nb = len(bounds[pki]) + 1
                    edges = np.concatenate(
                        [np.searchsorted(cells, np.arange(nb)), [len(cells)]]
                    )
                    to_write = []  # (cell id, record batch) in cell order
                    for c in range(nb):
                        s, e = int(edges[c]), int(edges[c + 1])
                        if e <= s:
                            continue
                        for rb in stbl.slice(s, e - s).to_batches():
                            to_write.append((c, rb))
                    d = os.path.join(stage_dir, f"p{pki:04d}")
                    os.makedirs(d, exist_ok=True)
                    schema = stbl.schema.with_metadata(
                        {b"cells": json.dumps([c for c, _ in to_write]).encode()}
                    )
                    with pa.OSFile(os.path.join(d, f"run-{v:05d}.arrow"), "wb") as sink:
                        with pa.ipc.new_file(sink, schema, options=opts) as w:
                            for _, rb in to_write:
                                w.write_batch(rb)
                    yield pa.RecordBatch.from_pydict(
                        {"pki": pa.array([pki], pa.int32()),
                         "n": pa.array([tbl.num_rows], pa.int64())}
                    )

        map_counts = spark.range(0, len(abs_paths), numPartitions=len(abs_paths)).mapInArrow(
            stage_task, "pki int, n long"
        ).collect()
        map_rows_by_pk: dict[int, int] = {}
        for r in map_counts:
            map_rows_by_pk[r["pki"]] = map_rows_by_pk.get(r["pki"], 0) + r["n"]

        # ---- reduce: merge each cell's sorted runs -> final file + stats ----
        # one task per GROUP of contiguous cells (~2 task waves), not one
        # task per cell: the per-cell cost is dominated by opening every run
        # file's IPC footer, so a task that serves G cells of one partition
        # opens that partition's runs ONCE and reuses the parsed batch index
        # — #footer-parses drops from #cells x #runs to #tasks x #runs.
        cell_list = [
            (pki, c) for pki in range(len(bundle)) for c in range(n_cells_per_pk[pki])
        ]
        n_red = max(1, min(len(cell_list), 2 * par))
        group_sz = (len(cell_list) + n_red - 1) // n_red
        cell_groups = [
            cell_list[i : i + group_sz] for i in range(0, len(cell_list), group_sz)
        ]
        commit_rel = os.path.join("data", uuid.uuid4().hex)

        def final_task(batches):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pa.set_cpu_count(1)
            for batch in batches:
                for gi in batch.column(0).to_pylist():
                    group = cell_groups[gi]
                    maps = []
                    readers: dict[int, list] = {}
                    for pki in {pki for pki, _ in group}:
                        rds = []
                        for rf in sorted(
                            glob.glob(os.path.join(stage_dir, f"p{pki:04d}", "*.arrow"))
                        ):
                            maps.append(pa.memory_map(rf, "r"))
                            rd = pa.ipc.open_file(maps[-1])
                            meta = rd.schema.metadata or {}
                            idx: dict[int, list[int]] = {}
                            for bi, bc in enumerate(
                                json.loads(meta.get(b"cells", b"[]"))
                            ):
                                idx.setdefault(bc, []).append(bi)
                            rds.append((rd, idx))
                        readers[pki] = rds
                    for pki, c in group:
                        parts = [
                            rd.get_batch(bi)
                            for rd, idx in readers[pki]
                            for bi in idx.get(c, ())
                        ]
                        if not parts:
                            continue
                        tbl = (
                            pa.Table.from_batches(parts)
                            .sort_by([(_KEY, "ascending")])
                            .drop_columns([_KEY])
                        )
                        partition = partitions[pki]
                        dirs = "/".join(
                            f"_p_{k}={quote(str(v), safe='')}"
                            for k, v in sorted(partition.items())
                        )
                        rel_dir = os.path.join(commit_rel, dirs) if dirs else commit_rel
                        os.makedirs(os.path.join(table_root, rel_dir), exist_ok=True)
                        rel = os.path.join(rel_dir, f"part-{pki:04d}-{c:05d}.zstd.parquet")
                        abs_p = os.path.join(table_root, rel)
                        # level 1 == parquet-cpp's zstd default: rewrite
                        # outputs are re-rewritten by future maintenance,
                        # so compression CPU is steady-state cost
                        pq.write_table(tbl, abs_p, compression="zstd", compression_level=1)
                        yield pa.RecordBatch.from_pydict(
                            {
                                "pki": pa.array([pki], pa.int32()),
                                "path": [rel],
                                "partition": [json.dumps(partition, sort_keys=True)],
                                "rows": pa.array([tbl.num_rows], pa.int64()),
                                "bytes": pa.array([os.path.getsize(abs_p)], pa.int64()),
                                "stats": [
                                    json.dumps(_arrow_stats(tbl, tracked, sums), default=str)
                                ],
                            }
                        )
                    # the group's files are written: release its run maps
                    for m in maps:
                        m.close()

        rows = (
            spark.range(0, len(cell_groups), numPartitions=len(cell_groups))
            .mapInArrow(final_task, "pki int, path string, partition string, rows long, bytes long, stats string")
            .collect()
        )
        out_by_pk: dict[int, list[DataFile]] = {}
        for r in rows:
            out_by_pk.setdefault(r["pki"], []).append(
                DataFile(
                    path=r["path"],
                    partition=json.loads(r["partition"]),
                    rows=r["rows"],
                    bytes=r["bytes"],
                    stats=json.loads(r["stats"]),
                )
            )
        out_files = [f for fl in out_by_pk.values() for f in fl]

        # completeness gate BEFORE commit: the reduce stage silently skips a
        # cell whose staged runs are missing (e.g. staging swept externally
        # mid-run), which would otherwise commit a snapshot that drops rows.
        # Per partition: manifest input rows == map-stage read rows == reduce
        # output rows, or the bundle aborts and its input files stay live.
        for i, (pk, in_f) in enumerate(bundle):
            in_rows = sum(f.rows for f in in_f)
            mapped = map_rows_by_pk.get(i, 0)
            reduced = sum(f.rows for f in out_by_pk.get(i, []))
            if in_rows != mapped or in_rows != reduced:
                raise RuntimeError(
                    f"cluster[{job_id}] aborting commit for partition {pk}: "
                    f"input rows {in_rows} != map-read {mapped} or "
                    f"reduce-output {reduced} (staging lost under {stage_dir}?)"
                )

        seconds = time.monotonic() - t0
        with commit_mutex:  # snapshot chain is single-writer
            sid = table.commit(
                out_files,
                {f.path for _, fl in bundle for f in fl},
                "cluster",
                {"partitions": [pk for pk, _ in bundle], "mode": mode},
                spark=spark,
            )
            for i, (pk, in_f) in enumerate(bundle):
                out_f = out_by_pk.get(i, [])
                log.record(
                    partition=pk,
                    input_files=[f.path for f in in_f],
                    output_files=[f.path for f in out_f],
                    snapshot_id=sid,
                    rows=sum(f.rows for f in out_f),
                    bytes_=sum(f.bytes for f in out_f),
                    tokens=sum(int(f.stat("n_tok", "sum") or 0) for f in out_f) if has_tokens else 0,
                    seconds=round(seconds / len(bundle), 3),
                )
                reports.append({"partition": pk, "out_files": len(out_f), "snapshot": sid})
        shutil.rmtree(stage_dir, ignore_errors=True)

    # depth-2 pipeline: bundle i+1's sample/map runs while bundle i is in its
    # reduce/commit tail — Spark's scheduler interleaves the two jobs' tasks,
    # hiding per-bundle serial gaps without oversubscribing the executors
    if bundles:
        with ThreadPoolExecutor(max_workers=min(2, len(bundles))) as pool:
            list(pool.map(run_bundle, enumerate(bundles)))

    shutil.rmtree(os.path.join(table_root, "_staging", job_id), ignore_errors=True)
    entries = log.entries()
    return {
        "job_id": job_id,
        "mode": mode,
        "partitions": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "tokens": sum(e["tokens"] for e in entries),
        "seconds": sum(e["seconds"] for e in entries),
        "executed": reports,
    }
