"""Lakehouse engine benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 6 --trace 0

Run from the repository root. The engine is imported from the source tree
next to this directory; nothing is installed or built. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See README.md for the workloads, the
metrics and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
import uuid

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DIR = ".bench_run"  # per-run table, Spark local and temp dirs (removed)
OUT_DIR = ".bench_out"  # traced-run span dumps (kept)
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
HARD_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s",
    "maint_tokens_per_s": "1/s",
    "maint_write_amp": "ratio",
    "space_amp": "ratio",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
    "range_p50_ms": "ms",
    "scan_tokens_per_s": "1/s",
    "upsert_p50_s": "s",
    "upsert_write_amp": "ratio",
    "ok_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; values are the median of the run's samples
PER_LAYER = {
    "session.start_s": "s",
    "datagen.build_s": "s",
    "table.load_ms": "ms",
    "table.live_files_cold_ms": "ms",
    "table.live_files_warm_ms": "ms",
    "table.manifests": "count",
    "table.snapshots": "count",
    "table.live_files": "count",
    "table.data_bytes": "bytes",
    "scan.plan_ms": "ms",
    "scan.exec_ms": "ms",
    "scan.files_kept_ratio": "ratio",
    "scan.rows_examined_per_result": "ratio",
    "compaction.s": "s",
    "compaction.files_in": "count",
    "compaction.files_out": "count",
    "compaction.bytes_written": "bytes",
    "compaction.spark_jobs": "count",
    "clustering.s": "s",
    "clustering.files_in": "count",
    "clustering.files_out": "count",
    "clustering.bytes_written": "bytes",
    "clustering.spark_jobs": "count",
    "zorder.fnv1a64_ns_per_key": "ns",
    "zorder.cluster_key_ns_per_key": "ns",
    "manifest.rewrite_ms": "ms",
    "manifest.before": "count",
    "manifest.after": "count",
    "expire.s": "s",
    "expire.deleted_files": "count",
    "expire.deleted_manifests": "count",
    "merge.s": "s",
    "merge.affected_ratio": "ratio",
    "merge.written_files": "count",
    "merge.bytes_written": "bytes",
    "merge.spark_jobs": "count",
    "jvm.heap_peak_mb": "MB",
    "host.cpu_control_s": "s",
    "trace.timed_wall_s": "s",
    "trace.untraced_remainder_s": "s",
    "trace.overhead_s": "s",
}


def pin_host(work: str) -> dict:
    """Pin Spark to this host before the JVM starts: every core, a driver
    heap that leaves room for the tables, and every scratch dir in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # driver JVM only: a fixed young generation. G1 otherwise sizes it
        # from pause times, so the touched heap, and with it peak RSS, moved
        # by 0.5 GB between identical runs; the old generation still grows
        # with what the engine keeps.
        "SPARK_SUBMIT_OPTS": f"-Xmn{YOUNG_GEN}",
    }
    os.environ.update(settings)
    # executor Python workers import the benchmark's helpers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {"master": f"local[{cpus}]", "cpus": cpus, **settings}


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {HARD_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.SHAPES)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, BENCH_DIR, f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(work)
    try:
        return run(args, workloads, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, BENCH_DIR))
        except OSError:
            pass


def run(args, workloads, run_id: str, work: str) -> int:
    import numpy as np

    from harness import RssSampler, Tracer, cpu_control_s, median, quantile

    host = pin_host(work)
    cpu_start = cpu_control_s()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from batch_pipeline_via_lakehouse_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            master=host["master"],
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(run_id, bool(args.trace), spark.sparkContext)
            r = workloads.Run(
                spark=spark,
                tracer=tracer,
                rng=np.random.default_rng([args.seed, 0]),
                upsert_rng=np.random.default_rng([args.seed, 1]),
                seed=args.seed,
                shape=workloads.SHAPES[args.workload],
                work_dir=os.path.join(work, "tables"),
            )
            info = workloads.run_workload(r, args.seconds)
            heap_peak_mb = jvm_heap_peak_bytes(spark) / 2**20
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t_stop
    cpu_end = cpu_control_s()

    s = r.samples
    setup_s = session_s + info["setup"]["datagen.build_s"]
    print(
        f"# {args.workload} seed={args.seed} cpu_control_s={cpu_start:.3f}/{cpu_end:.3f} "
        f"reads={info['reads']} merges={info['merges']} "
        f"lookups={len(s.get('lookup_ms', []))} cycle_s={info['cycle_s']:.2f} "
        f"timed_s={sum(b - a for a, b in info['windows']):.2f} "
        f"session_s={session_s:.2f} phases={info['phases']} "
        f"rss_peak_mb_by_name={ {k: v >> 20 for k, v in rss.peak_by_name.items()} } "
        f"stop_s={stop_s:.2f} total_s={time.perf_counter() - T_PROCESS:.2f} "
        f"failures={r.failures}",
        file=sys.stderr,
    )
    if args.trace:
        table = tracer.table(info["windows"])
        values = {k: median(v) for k, v in s.items() if k in PER_LAYER}
        values.update({
            "session.start_s": session_s,
            "datagen.build_s": info["setup"]["datagen.build_s"],
            "jvm.heap_peak_mb": heap_peak_mb,
            "host.cpu_control_s": (cpu_start + cpu_end) / 2,
            "trace.timed_wall_s": table["timed_wall_s"],
            "trace.untraced_remainder_s": table["untraced_remainder_s"],
            "trace.overhead_s": table["tracer_overhead_s"],
        })
        print_table(args.workload, table)
        path = os.path.join(ROOT, OUT_DIR, f"trace-{args.workload}-{args.seed}-{run_id}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "host": host,
                           "table": table, "samples": s, "setup": info["setup"],
                           "cpu_control_s": [cpu_start, cpu_end]})
        units = PER_LAYER
    else:
        lookups = s["lookup_ms"]
        values = {
            "setup_s": setup_s,
            "maint_tokens_per_s": median(s["maint_tokens_per_s"]),
            "maint_write_amp": median(s["maint_write_amp"]),
            "space_amp": median(s["space_amp"]),
            "lookup_p50_ms": median(lookups),
            "lookup_p90_ms": quantile(lookups, 0.9),
            "range_p50_ms": median(s["range_ms"]),
            "scan_tokens_per_s": median(s["scan_tokens_per_s"]),
            "upsert_p50_s": median(s["merge.s"]),
            "upsert_write_amp": sum(s["merge.bytes_written"]) / sum(s["merge_logical_bytes"]),
            "ok_ops_ratio": 1 - r.failed / r.attempted,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = END_TO_END
    missing = [k for k in units if k not in values]
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def jvm_heap_peak_bytes(spark) -> int:
    """Sum over the driver JVM's heap pools of each pool's peak use since the
    JVM started (an upper bound of the peak heap in use)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)


def print_table(workload: str, table: dict) -> None:
    print(f"# per-layer spans, workload {workload} "
          f"(timed wall {table['timed_wall_s']:.2f} s = top-level spans "
          f"{table['top_level_spans_s']:.2f} s + untraced remainder "
          f"{table['untraced_remainder_s']:.2f} s; tracer overhead "
          f"{table['tracer_overhead_s']:.3f} s)", file=sys.stderr)
    print(f"# {'span':28s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s} {'jobs':>5s} top",
          file=sys.stderr)
    for name, r in sorted(table["spans"].items(), key=lambda kv: -kv[1]["total_s"]):
        print(f"# {name:28s} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
              f"{r['spark_jobs']:5d} {'*' if r['top_level'] else ''}", file=sys.stderr)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
