"""Run the benchmark over several seeds and report each metric's median and
quartile spread (IQR / median), next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workloads maintain upsert_churn --seeds 1 2 3 4 5

Run from the repository root. Each run is a separate process, exactly as a
single benchmark invocation. ``--trace 1`` does the same for the per-layer
metrics and also flags counts that do not repeat exactly; use one seed
repeated (``--seeds 7 7 7``) to check that counts are deterministic.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNT_UNITS = {"count", "bytes"}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    summary = [line for line in p.stderr.splitlines() if line.startswith(f"# {workload} ")]
    if summary:
        print(summary[-1], flush=True)
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    for w in args.workloads:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        walls = []
        for seed in args.seeds:
            res, wall = run_once(w, seed, bench["run_seconds"], args.trace)
            walls.append(wall)
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: INCORRECT {res}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            print(f"{w} seed {seed}: wall {wall:.1f} s, attempted {res['attempted']}, "
                  f"failed {res['failed']}", flush=True)
        print(f"\n{w}: {len(args.seeds)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"{'metric':34s} {'unit':>6s} {'median':>14s} {'iqr/med':>8s} {'bound':>6s}")
        for k, vals in values.items():
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s" and spread > b / 3:
                flag = " > bound/3"
            if args.trace and units[k] in COUNT_UNITS and len(set(vals)) > 1:
                flag += " count varies"
            print(f"{k:34s} {units[k]:>6s} {med:14.4f} {spread:8.3f} "
                  f"{'' if b is None else b:>6}{flag}")
            print("    " + " ".join(f"{v:.4g}" for v in vals))
        print()


if __name__ == "__main__":
    main()
