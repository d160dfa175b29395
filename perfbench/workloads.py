"""The benchmark's workloads: generated inputs, the calls into the engine,
their timings and their correctness checks.

Every workload reports every end-to-end metric, so each one runs a
maintenance cycle, point/range/aggregate/full-scan reads and MERGE upserts;
they differ in the input table's shape and in which operations fill the
timed closed loop (see README.md).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from batch_pipeline_via_lakehouse_spark import datagen
from batch_pipeline_via_lakehouse_spark.bench_core import build_fragmented_table
from batch_pipeline_via_lakehouse_spark.datagen import TOKEN_SCHEMA
from batch_pipeline_via_lakehouse_spark.functions import zorder
from batch_pipeline_via_lakehouse_spark.functions.checksums import content_checksum
from batch_pipeline_via_lakehouse_spark.operators.clustering import cluster
from batch_pipeline_via_lakehouse_spark.operators.compaction import compact
from batch_pipeline_via_lakehouse_spark.operators.expire import expire_snapshots
from batch_pipeline_via_lakehouse_spark.operators.manifest import rewrite_manifests
from batch_pipeline_via_lakehouse_spark.operators.merge import merge_scd1
from batch_pipeline_via_lakehouse_spark.sources.scan import Pred, prune_files, scan_with_pruning
from batch_pipeline_via_lakehouse_spark.table import Table
from pyspark.sql import functions as F

from harness import Tracer

SOURCES = datagen._SOURCES
RANGE_QUANTILES = (0.5, 0.1, 0.7, 0.3, 0.9)
TARGET_BYTES = 2 << 20  # compaction / clustering target file size
UPSERT_ROWS = 40  # rows per merge_scd1 call: half updates, half inserts
MIN_MERGES = 2  # timed merges per run, all after an untimed warm-up merge
WARMUP_ROWS = 8  # rows of the side table that takes the warm-up merge


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload's input and mix."""

    rows: int  # rows in the generated table
    fragment_files: int  # tasks of the single fragmented append (files ~ this x sources)
    reads: tuple[str, ...]  # one block of reads, run in a seeded order
    # True: an upsert before every read block (at least MIN_MERGES), then
    # expire(gc); False: read-only loop, then MIN_MERGES upserts
    churn: bool


SHAPES = {
    # Fragmented table; maintenance, then a read-only loop on the maintained
    # table, then the upserts.
    "maintain": Shape(rows=2000, fragment_files=16,
                      reads=("point",) * 6 + ("range",) * 4 + ("agg", "full", "full"),
                      churn=False),
    # Less fragmented input; after maintenance the loop is write-heavy: an
    # upsert before every few reads, then expiry of what the merges replaced.
    "upsert_churn": Shape(rows=1000, fragment_files=4,
                          reads=("point",) * 6 + ("range",) * 3 + ("full",), churn=True),
}


# ------------------------------------------------------------------ expected
class Model:
    """Driver-side expectation of the table: for every doc index, the
    generator seed of its current version (datagen rows are a pure function
    of (index, seed)), plus the per-row n_tok / source those versions have."""

    def __init__(self, rows: int, seed: int):
        self.version = np.full(rows, seed, dtype=np.int64)
        base = gen_rows(np.arange(rows), seed)
        self.n_tok = base["n_tok"].to_numpy().astype(np.int64)
        self.source = base["source"].to_numpy()

    @property
    def rows(self) -> int:
        return len(self.version)

    def apply(self, ids: np.ndarray, seed: int) -> None:
        new = gen_rows(ids, seed)
        grow = int(ids.max()) + 1 - self.rows
        if grow > 0:
            self.version = np.concatenate([self.version, np.zeros(grow, np.int64)])
            self.n_tok = np.concatenate([self.n_tok, np.zeros(grow, np.int64)])
            self.source = np.concatenate([self.source, np.empty(grow, object)])
        self.version[ids] = seed
        self.n_tok[ids] = new["n_tok"].to_numpy()
        self.source[ids] = new["source"].to_numpy()

    def mean_row_bytes(self) -> float:
        """Mean logical row size: 4 B per token and per n_tok, plus strings."""
        src_bytes = np.array([len(s) for s in self.source])
        return float((4 * (self.n_tok + 1) + len(doc_id(0)) + src_bytes).mean())

    def row(self, idx: int) -> pd.Series:
        return gen_rows(np.array([idx]), int(self.version[idx])).iloc[0]

    def expected_df(self, spark):
        """The whole expected table as one generated DataFrame: each row is
        datagen's row for its index under that index's current version seed."""
        version = self.version.copy()

        def gen(batches):
            for b in batches:
                ids = b["id"].to_numpy()
                for v in np.unique(version[ids]):
                    sel = ids[version[ids] == v]
                    yield datagen._gen_batch(sel.astype(np.uint64), int(v))

        return spark.range(self.rows, numPartitions=4).mapInPandas(gen, schema=TOKEN_SCHEMA)


def gen_rows(ids: np.ndarray, seed: int) -> pd.DataFrame:
    return datagen._gen_batch(np.asarray(ids, dtype=np.uint64), seed)


def doc_id(idx: int) -> str:
    return f"doc-{idx:012d}"


# ------------------------------------------------------------------ disk
def data_files_on_disk(root: str) -> dict[str, int]:
    out = {}
    for sub, _, names in os.walk(os.path.join(root, "data")):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(sub, n)
                out[p] = os.path.getsize(p)
    return out


def bytes_under(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(sub, n)) for sub, _, names in os.walk(root) for n in names
    )


def new_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    added = [p for p in after if p not in before]
    return len(added), sum(after[p] for p in added)


# ------------------------------------------------------------------ run state
@dataclass
class Run:
    spark: object
    tracer: Tracer
    rng: np.random.Generator  # read keys and order
    upsert_rng: np.random.Generator  # upsert keys: own stream, so they do not
    # depend on how many reads a time-bounded loop managed before the merge
    seed: int
    shape: Shape
    work_dir: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    recording: bool = True  # False: calls are checked but add no samples

    def add(self, name: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(name, []).append(value)

    def samples_taken(self, name: str) -> int:
        return len(self.samples.get(name, ()))

    def check(self, ok: bool, what: str) -> None:
        """Count one verified operation; a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def timed(self, span: str, fn, **attrs):
        """Call ``fn`` inside a span; returns (result, seconds, span record)."""
        with self.tracer.span(span, **attrs) as sp:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt, sp


# ------------------------------------------------------------------ set-up
def build_table(run: Run, name: str) -> tuple[str, float]:
    """The workload's input: one fragmented append of generated rows."""
    root = os.path.join(run.work_dir, name)
    t0 = time.perf_counter()
    with run.tracer.span("setup.build_table"):
        build_fragmented_table(
            run.spark, root, run.shape.rows, seed=run.seed,
            fragment_files=run.shape.fragment_files,
        )
    return root, time.perf_counter() - t0


# ------------------------------------------------------------------ maintenance
def maintenance_cycle(run: Run, root: str) -> float:
    """compact -> cluster(zorder) -> rewrite_manifests -> expire(gc); returns
    the summed time of the four calls. Disk walks between the calls are
    outside the timed calls."""
    t = Table.load(root)
    live = t.live_files()
    live_bytes = sum(f.bytes for f in live)
    tokens = sum(int(f.stat("n_tok", "sum") or 0) for f in live)
    d0 = data_files_on_disk(root)
    sp = run.spark
    tb = TARGET_BYTES
    rc, s_comp, a_comp = run.timed("compaction", lambda: compact(sp, t, target_bytes=tb))
    d1 = data_files_on_disk(root)
    files_mid = len(t.live_files())
    _, s_clu, a_clu = run.timed(
        "clustering", lambda: cluster(sp, t, mode="zorder", target_bytes=tb)
    )
    d2 = data_files_on_disk(root)
    rm, s_man, _ = run.timed("manifest.rewrite", lambda: rewrite_manifests(t))
    re_, s_exp, _ = run.timed(
        "expire", lambda: expire_snapshots(t, retain_last=1, gc=True, gc_grace_ms=0, spark=sp)
    )
    cycle_s = s_comp + s_clu + s_man + s_exp
    comp_n, comp_b = new_bytes(d0, d1)
    clu_n, clu_b = new_bytes(d1, d2)
    live_after = t.live_files()
    run.add("maint_tokens_per_s", 2 * tokens / cycle_s)
    run.add("maint_write_amp", (comp_b + clu_b) / live_bytes)
    # space after the run's last expiry; upsert_churn replaces it after its final expiry
    run.add("space_amp", bytes_under(root) / sum(f.bytes for f in live_after))
    layer = {
        "compaction.s": s_comp,
        "compaction.files_in": rc["files_in"],
        "compaction.files_out": comp_n,
        "compaction.bytes_written": comp_b,
        "compaction.spark_jobs": a_comp.get("spark_jobs", 0),
        "clustering.spark_jobs": a_clu.get("spark_jobs", 0),
        "clustering.s": s_clu,
        "clustering.files_in": files_mid,
        "clustering.files_out": clu_n,
        "clustering.bytes_written": clu_b,
        "manifest.rewrite_ms": 1000 * s_man,
        "manifest.before": rm["manifests_before"],
        "manifest.after": rm["manifests_after"],
        "expire.s": s_exp,
        "expire.deleted_files": re_["deleted_files"],
        "expire.deleted_manifests": re_["deleted_manifests"],
    }
    for k, v in layer.items():
        run.add(k, float(v))
    return cycle_s


# ------------------------------------------------------------------ reads
def _handle(run: Run, root: str, warm: Table, cold: bool) -> Table:
    if not cold:
        return warm
    t, dt, _ = run.timed("table.load", lambda: Table.load(root))
    run.add("table.load_ms", 1000 * dt)
    return t


def _scan(run: Run, t: Table, preds: list[Pred], kind: str, finish):
    """scan_with_pruning (plan) then ``finish(df)`` (execute); times both.
    ``finish`` returns the result and the number of table rows it stands for."""
    df, plan_s, _ = run.timed(
        "scan.plan", lambda: scan_with_pruning(run.spark, t, preds), kind=kind
    )
    (out, n_res), exec_s, _ = run.timed("scan.exec", lambda: finish(df), kind=kind)
    run.add("scan.plan_ms", 1000 * plan_s)
    run.add("scan.exec_ms", 1000 * exec_s)
    if run.tracer.enabled:
        live = t.live_files()
        kept = prune_files(live, preds)
        run.add("scan.files_kept_ratio", len(kept) / max(1, len(live)))
        rows = sum(f.rows for f in kept)
        run.add("scan.rows_examined_per_result", rows / max(1, n_res))
    return out, plan_s + exec_s


def _collect(df):
    rows = df.collect()
    return rows, len(rows)


def _count(df):
    n = df.count()
    return n, n


def point_lookup(run: Run, root: str, warm: Table, model: Model, idx: int, cold: bool) -> None:
    t = _handle(run, root, warm, cold)
    rows, dt = _scan(run, t, [Pred("doc_id", "=", doc_id(idx))], "point", _collect)
    run.add("lookup_ms", 1000 * dt)
    exp = model.row(idx)
    ok = len(rows) == 1 and (
        rows[0]["doc_id"] == exp["doc_id"]
        and rows[0]["n_tok"] == int(exp["n_tok"])
        and rows[0]["source"] == exp["source"]
        and np.array_equal(np.asarray(rows[0]["tokens"], np.int32), exp["tokens"])
    )
    run.check(ok, f"point lookup {idx}")


def range_scan(run: Run, root: str, warm: Table, model: Model, cold: bool) -> None:
    """``n_tok BETWEEN lo AND lo+40``; ``lo`` cycles through fixed quantiles
    of the table's n_tok, so every run scans the same spread of positions."""
    t = _handle(run, root, warm, cold)
    q = RANGE_QUANTILES[run.samples_taken("range_ms") % len(RANGE_QUANTILES)]
    lo = int(np.quantile(model.n_tok, q))
    hi = lo + 40
    n, dt = _scan(run, t, [Pred("n_tok", "between", lo, hi)], "range", _count)
    run.add("range_ms", 1000 * dt)
    run.check(n == int(((model.n_tok >= lo) & (model.n_tok <= hi)).sum()), f"range {lo}-{hi}")


def partition_agg(run: Run, root: str, warm: Table, model: Model, cold: bool) -> None:
    t = _handle(run, root, warm, cold)
    src = SOURCES[int(run.rng.integers(1, 8))]

    def agg(df):
        r = df.agg(F.count("*").alias("n"), F.sum("n_tok").alias("s")).collect()[0]
        return (r["n"], r["s"] or 0), r["n"]

    (n, s), _ = _scan(run, t, [Pred("source", "=", src)], "agg", agg)
    m = model.source == src
    run.check(n == int(m.sum()) and s == int(model.n_tok[m].sum()), f"agg {src}")


def full_scan(run: Run, root: str, warm: Table, model: Model, cold: bool) -> None:
    """The training-loader read: every token array of the table."""
    t = _handle(run, root, warm, cold)

    def total(df):
        r = df.agg(F.sum(F.size("tokens").cast("long")), F.count("*")).collect()[0]
        return int(r[0]), r[1]

    n, dt = _scan(run, t, [], "full", total)
    run.add("scan_tokens_per_s", n / dt)
    run.check(n == int(model.n_tok.sum()), "full scan token count")


def table_probe(run: Run, root: str) -> None:
    """Metadata costs of the table layer (traced runs only)."""
    if not run.tracer.enabled:
        return
    t, dt, _ = run.timed("table.load", lambda: Table.load(root))
    live, cold_s, _ = run.timed("table.live_files", t.live_files, handle="cold")
    _, warm_s, _ = run.timed("table.live_files", t.live_files, handle="warm")
    run.add("table.live_files_cold_ms", 1000 * cold_s)
    run.add("table.live_files_warm_ms", 1000 * warm_s)
    run.add("table.manifests", float(len(t.snapshot(t.current_snapshot_id()).manifests)))
    run.add("table.snapshots", float(len(t.snapshots())))
    run.add("table.live_files", float(len(live)))
    run.add("table.data_bytes", float(sum(f.bytes for f in live)))


# ------------------------------------------------------------------ upserts
def upsert(run: Run, root: str, model: Model, k: int) -> tuple[np.ndarray, np.ndarray]:
    """One merge_scd1: half updates of ids drawn with a bias toward the most
    recent ones (new version seed), half inserts of new ids. Returns the
    updated and the inserted indices."""
    half = UPSERT_ROWS // 2
    n = model.rows
    # triangular weights over the newer half of the ids: the newest id is
    # the most likely to be updated again
    pool = np.arange(n // 2, n)
    w = np.arange(1, len(pool) + 1, dtype=np.float64)
    upd = np.sort(run.upsert_rng.choice(pool, size=half, replace=False, p=w / w.sum()))
    ins = np.arange(n, n + half)
    ids = np.concatenate([upd, ins])
    vseed = run.seed * 1000 + 100 + k
    pdf = gen_rows(ids, vseed)
    src = run.spark.createDataFrame(pdf, TOKEN_SCHEMA)
    t = Table.load(root)
    live_n = len(t.live_files())
    d0 = data_files_on_disk(root)
    rep, dt, sp = run.timed("merge", lambda: merge_scd1(run.spark, t, src, ["doc_id"]))
    d1 = data_files_on_disk(root)
    _, written = new_bytes(d0, d1)
    # Upserted bytes at the table's mean logical row size (4 B per token and
    # per n_tok, plus string bytes): document lengths are heavy-tailed, so
    # the rows' own sizes would make the ratio vary more with the seed than
    # with the engine.
    logical = len(ids) * model.mean_row_bytes()
    model.apply(ids, vseed)
    run.add("merge.s", dt)
    run.add("merge_logical_bytes", float(logical))
    run.add("merge.affected_ratio", rep["affected_files"] / max(1, live_n))
    run.add("merge.written_files", float(rep["written_files"]))
    run.add("merge.bytes_written", float(written))
    if run.tracer.enabled:
        run.add("merge.spark_jobs", float(sp.get("spark_jobs", 0)))
    return upd, ins


# ------------------------------------------------------------------ workloads
def zorder_kernels(run: Run, root: str, model: Model) -> None:
    """The clustering key computed alone, exactly as ``cluster(mode="zorder")``
    computes it on this table: ``source`` is the partition column, so the
    key has one hash dimension (``doc_id``) and ``native_cluster_key`` runs
    ``morton2``; ``lo``/``hi`` come from the live files' ``n_tok`` stats.
    The table's own key columns are repeated to ~200k keys so that one call
    is long enough to time."""
    import pyarrow as pa

    live = Table.load(root).live_files()
    lo = float(min(f.stat("n_tok", "min") for f in live))
    hi = float(max(f.stat("n_tok", "max") for f in live))
    reps = max(1, 200_000 // model.rows)
    docs = pa.array([doc_id(i) for i in range(model.rows)] * reps)
    n_tok = np.tile(model.n_tok.astype(np.int32), reps)
    n = len(docs)
    h_doc, s_fnv, _ = run.timed("zorder.fnv1a64", lambda: zorder.fnv1a64(docs))
    _, s_key, _ = run.timed(
        "zorder.cluster_key", lambda: zorder.native_cluster_key("zorder", n_tok, [h_doc], lo, hi)
    )
    run.add("zorder.fnv1a64_ns_per_key", 1e9 * s_fnv / n)
    run.add("zorder.cluster_key_ns_per_key", 1e9 * s_key / n)


def warm_up_merge(run: Run) -> None:
    """One merge_scd1 of 4 rows into a small side table, so that no timed
    merge pays Spark's and Python's first-use costs; the measured table
    stays as maintenance left it. Records no span: it runs beside other
    untimed work."""
    side = build_fragmented_table(
        run.spark, os.path.join(run.work_dir, "warm_up"), WARMUP_ROWS, seed=run.seed,
        fragment_files=1,
    )
    ids = np.arange(WARMUP_ROWS - 2, WARMUP_ROWS + 2)  # 2 updates, 2 inserts
    src = run.spark.createDataFrame(gen_rows(ids, run.seed + 1), TOKEN_SCHEMA)
    merge_scd1(run.spark, side, src, ["doc_id"])


def warm_reads(run: Run, root: str, model: Model) -> None:
    """One untimed read of each kind (checked, not recorded), so that no
    timed read pays a first-use cost."""
    warm = Table.load(root)
    run.recording = False
    with run.tracer.span("setup.warm_reads"):
        for kind in ("point", "range", "full"):
            read_op(run, kind, root, warm, model, cold=False)
    run.recording = True


def read_op(run: Run, kind: str, root: str, warm: Table, model: Model, cold: bool,
            recent: tuple[np.ndarray, np.ndarray] | None = None) -> None:
    """One read. Point lookups follow a fixed key mix: once an upsert has
    run, every 4th lookup asks for an id it touched, alternating between an
    updated and an inserted one; the rest ask for an id from the middle half
    of the id range. A scan that keeps more than 32 files pays a Spark
    file-listing job (~0.25 s here), and ids near either end of the range
    prune below that threshold on merged tables: drawn from the whole range,
    the share of such lookups, and with it the median, jumped from seed to
    seed."""
    if kind == "point":
        k = run.samples_taken("lookup_ms")
        if recent is not None and k % 4 == 3:
            idx = int(run.rng.choice(recent[(k // 4) % 2]))
        else:
            idx = int(run.rng.integers(model.rows // 4, 3 * model.rows // 4))
        point_lookup(run, root, warm, model, idx, cold)
    elif kind == "range":
        range_scan(run, root, warm, model, cold)
    elif kind == "agg":
        partition_agg(run, root, warm, model, cold)
    else:
        full_scan(run, root, warm, model, cold)


def run_workload(run: Run, seconds: float) -> dict:
    """Set-up, then the timed phases: maintenance cycle, the closed loop of
    reads (and, with churn, upserts), then the upserts (without churn) or
    the final expiry (with churn). Checks run between the timed phases.
    Returns the timed windows, the set-up time and the wall time of every
    phase."""
    shape = run.shape
    marks = [("start", time.perf_counter())]

    def mark(phase: str) -> float:
        marks.append((phase, time.perf_counter()))
        return marks[-1][1]

    model = Model(shape.rows, run.seed)
    # The build is the run's first Spark job, so set-up time includes the
    # session's first-job costs (Python worker start, class loading).
    root, build_s = build_table(run, "table")
    setup = {"datagen.build_s": build_s}
    t_cycle = mark("build")
    cycle_s = maintenance_cycle(run, root)
    t_cycle_end = mark("cycle")
    # Untimed and side by side, to fit the run's time budget: the content
    # before the cycle (from the generator: cheaper than scanning the
    # fragmented table, and it also checks the build), the table's content
    # after it, and the warm-up merge.
    with ThreadPoolExecutor(2) as pool:
        expected = pool.submit(lambda: content_checksum(model.expected_df(run.spark)))
        warm_merge = pool.submit(warm_up_merge, run)
        after_ck = content_checksum(Table.load(root).scan(run.spark))
        run.check(after_ck == expected.result(), "content checksum before vs after maintenance")
        warm_merge.result()
    pinned = Table.load(root).current_snapshot_id()
    warm_reads(run, root, model)

    loop_start = mark("checksums_and_warm_up")
    deadline = loop_start + seconds
    warm = Table.load(root)
    recent = None
    merges = reads = 0
    block = list(shape.reads)
    while True:
        if reads % len(block) == 0:  # block boundary
            if time.perf_counter() >= deadline and (not shape.churn or merges >= MIN_MERGES):
                break
            if shape.churn:
                recent = upsert(run, root, model, merges)
                merges += 1
                warm = Table.load(root)
            run.rng.shuffle(block)
        read_op(run, block[reads % len(block)], root, warm, model,
                cold=bool(reads % 2), recent=recent)
        reads += 1
        if reads % 10 == 0:
            table_probe(run, root)
    loop_end = mark("loop")
    windows = [(t_cycle, t_cycle_end), (loop_start, loop_end)]
    if not shape.churn:
        t_merges = time.perf_counter()
        while merges < MIN_MERGES:
            upsert(run, root, model, merges)
            merges += 1
        windows.append((t_merges, mark("merges")))

    # Pinned reader: the snapshot current before the upserts still reads the
    # post-maintenance content.
    ck_pinned = content_checksum(Table.load(root).scan(run.spark, snapshot_id=pinned))
    run.check(ck_pinned == after_ck, "pinned-snapshot checksum")
    mark("pinned_check")
    if shape.churn:
        t_final = time.perf_counter()
        t = Table.load(root)
        run.timed("expire", lambda: expire_snapshots(
            t, retain_last=1, gc=True, gc_grace_ms=0, spark=run.spark))
        run.samples["space_amp"] = [bytes_under(root) / sum(f.bytes for f in t.live_files())]
        windows.append((t_final, mark("final_expire")))
    # The final table equals the generator's rows with every upsert applied.
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(lambda: content_checksum(model.expected_df(run.spark)))
        ck_final = content_checksum(Table.load(root).scan(run.spark))
        run.check(ck_final == expected.result(), "final checksum")
    mark("final_check")
    table_probe(run, root)
    if run.tracer.enabled:
        zorder_kernels(run, root, model)
    return {
        "phases": {m: round(t - marks[k][1], 2) for k, (m, t) in enumerate(marks[1:])},
        "setup": setup,
        "windows": windows,
        "cycle_s": cycle_s,
        "loop_s": loop_end - loop_start,
        "merges": merges,
        "reads": reads,
    }
