"""Executor-side native Parquet writes for maintenance rewrites.

Spark's parquet writer compresses through the JVM (aircompressor) and forces
a driver-side glob + footer-stats pass afterwards. For maintenance rewrites
we instead let each task write its own output file with pyarrow (native
libzstd, ~2-5x faster compression) and emit its manifest entry as data —
one job in, manifest entries out, nothing to re-discover.

This is still the no-per-row-Python discipline: tasks move whole Arrow
record batches; Python never touches individual rows.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from .format import DataFile

_META_SCHEMA = "path string, partition string, rows long, bytes long, stats string"


def stats_columns(schema: StructType) -> tuple[list[str], list[str]]:
    """The manifest stats rule: ``(tracked, sums)`` — min/max/null counts for
    every non-nested column, and a sum for every numeric one."""
    tracked = [
        f.name for f in schema.fields
        if f.dataType.typeName() not in ("array", "map", "struct")
    ]
    sums = [
        f.name for f in schema.fields
        if f.dataType.typeName() in ("integer", "long", "float", "double")
    ]
    return tracked, sums


def _arrow_stats(tbl, tracked: list[str], sum_cols: list[str]) -> dict:
    import pyarrow.compute as pc

    from .stats import _jsonable

    stats: dict[str, dict] = {}
    for name in tracked:
        if name not in tbl.column_names:
            continue
        col = tbl.column(name)
        try:
            mm = pc.min_max(col).as_py()
            # normalize through the SAME serializer the footer-stats path
            # uses (isoformat datetimes): manifests must never mix value
            # encodings or string comparisons in Pred.may_match mis-order
            entry = {
                "min": _jsonable(mm["min"]),
                "max": _jsonable(mm["max"]),
                "nulls": col.null_count,
            }
        except Exception:  # noqa: BLE001 — unorderable type: keep file, no pruning
            continue
        if name in sum_cols:
            entry["sum"] = _jsonable(pc.sum(col).as_py())
        stats[name] = entry
    return stats


def arrow_rewrite_job(
    df: DataFrame,
    table_root: str,
    commit_dir: str,
    partition_cols: list[str],
    tracked: list[str],
    sum_cols: list[str],
    zstd_level: int = 1,  # parquet-cpp's zstd default; rewrites are steady-state CPU
) -> list[DataFile]:
    """Write ``df`` (already partitioned the way the caller wants) as one
    native-parquet file per (task, identity-partition value); returns
    manifest entries. The whole rewrite is ONE Spark job."""
    from urllib.parse import quote

    def task(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        # one OS thread per task (pyarrow pools default to hardware
        # concurrency per worker -> 32x oversubscription at local[32])
        pa.set_cpu_count(1)
        tid = TaskContext.get().partitionId()
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)

        if partition_cols:
            keys = tbl.select(partition_cols).to_pandas()
            groups = keys.groupby(partition_cols, sort=True, dropna=False).indices
            parts = []
            for pv, idx in groups.items():
                pv_tuple = pv if isinstance(pv, tuple) else (pv,)
                parts.append((pv_tuple, tbl.take(pa.array(np.sort(idx)))))
        else:
            parts = [((), tbl)]

        out = []
        for seq, (pv_tuple, sub) in enumerate(parts):
            partition = dict(zip(partition_cols, [str(v) for v in pv_tuple]))
            dirs = "/".join(f"_p_{c}={quote(str(v), safe='')}" for c, v in partition.items())
            rel_dir = os.path.join(commit_dir, dirs) if dirs else commit_dir
            os.makedirs(os.path.join(table_root, rel_dir), exist_ok=True)
            rel_path = os.path.join(rel_dir, f"part-{tid:05d}-{seq:03d}.zstd.parquet")
            abs_path = os.path.join(table_root, rel_path)
            pq.write_table(
                sub, abs_path, compression="zstd", compression_level=zstd_level
            )
            out.append(
                (
                    rel_path,
                    json.dumps(partition, sort_keys=True),
                    sub.num_rows,
                    os.path.getsize(abs_path),
                    json.dumps(_arrow_stats(sub, tracked, sum_cols), default=str),
                )
            )
        yield pa.RecordBatch.from_pydict(
            {
                "path": [o[0] for o in out],
                "partition": [o[1] for o in out],
                "rows": pa.array([o[2] for o in out], pa.int64()),
                "bytes": pa.array([o[3] for o in out], pa.int64()),
                "stats": [o[4] for o in out],
            }
        )

    rows = df.mapInArrow(task, schema=_META_SCHEMA).collect()
    return [
        DataFile(
            path=r["path"],
            partition=json.loads(r["partition"]),
            rows=r["rows"],
            bytes=r["bytes"],
            stats=json.loads(r["stats"]),
        )
        for r in rows
    ]
