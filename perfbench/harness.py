"""Measurement plumbing for the lakehouse benchmark: spans, Spark job counts,
the host CPU control, process-tree peak RSS and small statistics helpers.

Nothing here touches the engine; it only observes the calls the workloads
make into it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def cpu_control_s(n: int = 1_000_000) -> float:
    """Fixed pure-Python CPU loop; its time drifts with the host, not the code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= (i * 2654435761) & 0xFFFFFFFF
    dt = time.perf_counter() - t0
    if acc < 0:  # keeps the loop from being optimised away in spirit
        raise RuntimeError("unreachable")
    return dt


class RssSampler:
    """Samples the summed RSS of this process and its Python and JVM
    descendants (driver Python, the Spark JVM and its Python workers) from
    /proc. A child the JVM forks to run a command (``chmod``,
    ``jspawnhelper``) shows the JVM's whole RSS until it execs, so children of
    a ``java`` process count only when they are Python workers."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}  # per command name, for diagnosis
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> tuple[int, dict[str, int]]:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        name: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            fields = tail.split()
            pid = int(d)
            name[pid] = head.split("(", 1)[1]
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
        me = os.getpid()
        total = 0
        by_name: dict[str, int] = {}
        for pid, r in rss.items():
            if name.get(parent.get(pid, 0)) == "java" and not name[pid].startswith("python"):
                continue
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += r
                by_name[name[pid]] = by_name.get(name[pid], 0) + r
        return total, by_name

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        total, by_name = self._tree_rss()
        self.peak_bytes = max(self.peak_bytes, total)
        for k, v in by_name.items():
            self.peak_by_name[k] = max(self.peak_by_name.get(k, 0), v)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class Tracer:
    """In-memory spans recorded around the benchmark's calls into the engine.

    A span has a name, start, end, parent and the run id. When a Spark
    context is given, each span also records the Spark jobs, stages and
    tasks submitted during it: job ids are diffed around the call through
    ``SparkContext.statusTracker()``. Job groups are not used, because
    operators submit from their own thread pools, which do not inherit a
    caller's group; the diff therefore assumes the engine sets no job group
    itself. A disabled tracer records nothing and costs one branch per span.
    """

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self._sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def _job_ids(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _job_counts(self, jobs: set[int]) -> tuple[int, int, int]:
        tracker = self._sc.statusTracker()
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                st = tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record (empty when disabled); Spark job, stage and
        task counts are added to it when the span closes."""
        if not self.enabled:
            yield {}
            return
        o0 = time.perf_counter()
        before = self._job_ids() if self._sc is not None else set()
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": dict(attrs),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - o0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            o1 = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                jobs, stages, tasks = self._job_counts(self._job_ids() - before)
                rec.update(spark_jobs=jobs, spark_stages=stages, spark_tasks=tasks)
            self.overhead_s += time.perf_counter() - o1

    def self_times(self) -> list[float]:
        """Duration of each span minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def table(self, windows: list[tuple[float, float]]) -> dict:
        """Per-span-name rollup plus the part of the timed windows that no
        top-level span covers (the untraced remainder)."""
        selfs = self.self_times()
        rows: dict[str, dict] = {}
        top = 0.0
        for s, st in zip(self.spans, selfs):
            r = rows.setdefault(
                s["name"],
                {"calls": 0, "total_s": 0.0, "self_s": 0.0, "spark_jobs": 0, "top_level": False},
            )
            r["calls"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += st
            r["spark_jobs"] += s.get("spark_jobs", 0)
            if s["parent"] is None and any(a <= s["start"] and s["end"] <= b for a, b in windows):
                r["top_level"] = True
                top += s["end"] - s["start"]
        wall = sum(b - a for a, b in windows)
        return {
            "timed_wall_s": wall,
            "top_level_spans_s": top,
            "untraced_remainder_s": wall - top,
            "tracer_overhead_s": self.overhead_s,
            "spans": rows,
        }

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)
