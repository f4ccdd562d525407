"""Spans and counters for the traced run.

Spans are recorded only here, around calls into the package's public
functions: a span has a name, start, end, parent span and operation id,
is kept in memory and written out when the run ends.  Spark jobs are
counted per operation phase with job groups (``statusTracker``); task
metrics come from Spark's own event log after the session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    """Span recorder.  A disabled tracer records nothing and sets no job
    groups, so the untraced run executes only the benchmark's own loop."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Record a span; with ``group``, also tag the Spark jobs started
        inside it and count them, nested spans' jobs included."""
        if not self.enabled:
            yield
            return
        sc = self._spark.sparkContext if group and self._spark else None
        gid = f"{self.op}:{group}:{len(self.spans)}" if sc else None
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        if gid:
            sc.setJobGroup(gid, name)
            self._groups.append(gid)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if gid:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                own = len(sc.statusTracker().getJobIdsForGroup(gid))
                rec["jobs"] = own + rec.pop("child_jobs", 0)
            if rec["parent"] is not None and "jobs" in rec:
                parent = self.spans[rec["parent"]]
                parent["child_jobs"] = parent.get("child_jobs", 0) + rec["jobs"]

    def wrap(self, module, attr: str, name: str, group: str | None = None):
        """Replace ``module.attr`` by a function that records a span
        around each call; returns the original."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name, group):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        return orig

    def coverage(self, start: float, end: float) -> float:
        """Share of the window [start, end] covered by layer spans: the
        direct children of the operation spans recorded in the window."""
        roots = {
            i for i, s in enumerate(self.spans)
            if s["parent"] is None and s["start"] >= start and s["end"] <= end
        }
        covered = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] in roots
        )
        return covered / (end - start) if end > start else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def per_pass(spans: list[dict], name: str, n_pass: int, key: str | None = None) -> float:
    """Summed duration (or summed ``key``) of the spans named ``name``,
    per pass."""
    return sum(
        (s.get(key, 0) if key else s["end"] - s["start"])
        for s in spans if s["name"] == name
    ) / n_pass


def event_log_metrics(log_dir: str, start: float, end: float) -> dict:
    """Task metrics from Spark's event log for the tasks launched in the
    window [start, end] (epoch seconds)."""
    lo, hi = start * 1000, end * 1000
    tasks: dict[int, list[float]] = {}
    out = {
        "exec.tasks": 0, "exec.task_s": 0.0, "exec.gc_s": 0.0,
        "exec.input_bytes": 0, "exec.shuffle_read_bytes": 0,
        "exec.shuffle_write_bytes": 0, "exec.spill_bytes": 0,
    }
    # Spark 4 writes one eventlog_v2_<app> directory of rolled files per
    # application (each set-up starts one)
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if not lo <= info["Launch Time"] <= hi:
                    continue
                out["exec.tasks"] += 1
                out["exec.task_s"] += m.get("Executor Run Time", 0) / 1000
                out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000
                out["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                tasks.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000
                )
    out["exec.stages"] = len(tasks)
    # straggler share: summed slowest-task time over summed median-task
    # time of every stage (1.0 = no stage had a straggler)
    med = sum(statistics.median(v) for v in tasks.values())
    out["exec.task_skew"] = sum(max(v) for v in tasks.values()) / med if med else 1.0
    return out
