"""Spans for the traced benchmark run, and the Spark counts behind them.

A span records a name, a start, an end, its parent span and the run's
trace id. Spans live in memory and are written as one JSON file when the
run ends. Spans are opened only by the benchmark, around its calls into
the engine; the engine itself is not instrumented.

Spark work inside a span runs under a job group named after the span, so
``SparkStatusTracker`` can say which jobs, tasks and failed tasks belong
to it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def spark_counts(sc, group: str | None) -> dict:
    """Jobs, tasks and failed tasks run under one job group.

    ``group=None`` counts the jobs that ran without a group. Tasks are
    counted per stage that ran (completed + failed), so a stage a later
    job skips is not counted twice. The status store is fed
    asynchronously, so this first waits (up to 10 s) until it shows no
    active stage: a stage's task counts are final once it is inactive.
    """
    st = sc.statusTracker()
    deadline = time.perf_counter() + 10.0
    while st.getActiveStageIds() and time.perf_counter() < deadline:
        time.sleep(0.02)
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks + info.numFailedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


class Tracer:
    """In-memory span recorder. Once ``sc`` (a SparkContext) is attached,
    each span runs its Spark jobs under its own job group;
    ``count_spark_work`` later records each span's jobs, tasks and
    failed tasks (its own, not its children's)."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._open.append(s)
        sc = self.sc
        if sc is not None:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            s.attrs["job_group"] = f"{self.trace_id}.{s.id}"
            sc.setJobGroup(s.attrs["job_group"], name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def count_spark_work(self, sc) -> None:
        """Add jobs, tasks and failed tasks to every span that tagged its
        Spark work; call after the work, not inside the spans."""
        for s in self.spans:
            if "job_group" in s.attrs:
                s.attrs.update(spark_counts(sc, s.attrs["job_group"]))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path, **meta) -> None:
        selfs = self_times(self.spans)
        doc = {
            "trace_id": self.trace_id,
            **meta,
            "spans": [asdict(s) | {"self_s": selfs[s.id]} for s in self.spans],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover (overlapping children count
    once; a child sticking out of its parent is clipped)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.duration - _union_length(kids)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + selfs[s.id]
    return out
