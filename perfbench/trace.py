"""Tracing for the traced run: spans around the package's public
functions, Spark/JVM counters read at op boundaries, and the Spark event
log grouped by job group.

Nothing here changes the package: wrappers are installed on module and
class attributes from outside, and removed again by ``Tracer.uninstall``.
Spans stay in memory until the run ends; the runner then writes them
to stderr as one JSON line.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records spans (name, start, end, parent, op) in memory while
    ``enabled``; wrapped functions run unrecorded otherwise."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self.enabled = False

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its child spans cover."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            covered[s["parent"]] += max(0.0, hi - lo)
    return [max(0.0, s["end"] - s["start"] - c) for s, c in zip(spans, covered)]


class Counters:
    """Spark, codegen and JVM counters, read through py4j at op
    boundaries.  Jobs, stages and tasks come from the status tracker of
    the op's job group; codegen compiles from ``CodegenMetrics``; JIT and
    GC time from the JVM's management beans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mf = jvm.java.lang.management.ManagementFactory

    def snapshot(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "codegen": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "jit_ms": self._mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": gc_ms,
        }

    def group_counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            # a skipped stage (its shuffle output reused) runs no task
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def event_log_figures(log_dir: Path, ops: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per job group (op key): executor run and CPU ms, shuffle read and
    write bytes, spill bytes, and the driver gap, meaning op wall minus
    the union of its jobs' intervals.  ``ops`` maps op key to its
    (start, end) wall clock in epoch ms."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    out = {k: {"executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
               "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0,
               "spill_bytes": 0.0} for k in ops}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in out:
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                acc = out[group]
                acc["executor_run_ms"] += tm.get("Executor Run Time", 0)
                acc["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                sr = tm.get("Shuffle Read Metrics", {})
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
    for key, (lo, hi) in ops.items():
        spans = [(max(lo, s), min(hi, e)) for j, (s, e) in job_span.items()
                 if job_group[j] == key]
        spans = [(s, e) for s, e in spans if e > s]
        out[key]["driver_gap_ms"] = max(0.0, (hi - lo) - _union_ms(spans))
    return out


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
