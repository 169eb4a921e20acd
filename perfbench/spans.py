"""Span recorder for the traced run, and the event-log fold-in.

Spans are recorded by the benchmark around each call into an engine
layer (tracing inside the package is not attempted). Every span runs
under its own Spark job group, ``pb<span id>``, which tags the jobs it
starts: the status tracker then gives jobs/stages/tasks per span while
the run is live, and the event log (enabled only for the traced run)
gives executor CPU, GC, shuffle, spill and peak execution memory per
span after the session stops.

With tracing off the workloads get ``NULL_TRACER``, whose spans only
time the block, so the measured runs pay no tracking cost.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    cpu_s: float = 0.0  # driver CPU inside the span: Python process + its JVM thread
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    children_s: float = 0.0
    task_metrics: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.children_s


class _Timing:
    """Span stand-in for the untraced run: it only carries the duration."""

    __slots__ = ("start", "end")

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    @contextmanager
    def span(self, name: str, request: int | None = None):
        t = _Timing()
        t.start = time.perf_counter()
        try:
            yield t
        finally:
            t.end = time.perf_counter()


NULL_TRACER = NullTracer()


class Tracer:
    """Keeps spans in memory; ``spans`` is read after the run."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        # pinned-thread mode: this Python thread's calls run on one JVM thread,
        # whose CPU time is the JVM side of driver work (plan analysis etc.)
        self._threads = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, s: Span | None) -> None:
        if s is None:
            self._sc.setJobGroup("", "")
        else:
            self._sc.setJobGroup(f"pb{s.id}", f"pb{s.id}:{s.name}")

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        cpu0 = time.process_time() + self._threads.getCurrentThreadCpuTime() / 1e9
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            cpu1 = time.process_time() + self._threads.getCurrentThreadCpuTime() / 1e9
            s.cpu_s = cpu1 - cpu0
            self._stack.pop()
            self._tag(parent)
            if parent is not None:
                parent.children_s += s.seconds
            self._count_jobs(s)

    def _count_jobs(self, s: Span) -> None:
        s.jobs = sorted(self._tracker.getJobIdsForGroup(f"pb{s.id}"))
        for jid in s.jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                # skipped stages (shuffle reuse) never ran a task
                if st is not None and st.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += st.numCompletedTasks


def event_log_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in sorted(files) if not f.startswith(".")]
    return out


def fold_event_log(paths: list[str], spans: list[Span]) -> None:
    """Attach summed task metrics to each span whose job group ran them."""
    by_group = {f"pb{s.id}": s for s in spans}
    stage_span: dict[int, Span] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    s = by_group.get(group)
                    if s is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_span[sid] = s
                elif kind == "SparkListenerTaskEnd":
                    s = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if s is None or not m:
                        continue
                    tm = s.task_metrics
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    add = {
                        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                    }
                    for k, v in add.items():
                        tm[k] = tm.get(k, 0) + v
                    peak = m.get("Peak Execution Memory", 0) / 2**20
                    tm["peak_exec_mem_mb"] = max(tm.get("peak_exec_mem_mb", 0.0), peak)
