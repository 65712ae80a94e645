"""Spans around calls into the engine, with Spark's own counters per span.

A span records its name, start, end, parent span and the operation it
belongs to.  Every span runs its Spark jobs under a job group of its own,
so after the operation the jobs, stages, tasks, shuffle bytes, spill and
task run time of each span are read back from Spark's status store.
Spans stay in memory and are written out once, when the run ends.

A disabled tracer records nothing and sets no job group, so untraced
runs pay only a function call per span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_busy_s",
)


@dataclass
class Span:
    id: int
    name: str
    op: int  # id of the top-level span this one belongs to
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(
            id=sid,
            name=name,
            op=parent.op if parent else sid,
            parent=parent.id if parent else None,
            start=time.time(),
        )
        s.groups.append(f"perfbench-{s.id}")
        self.spans.append(s)
        self._pending.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.groups[0], name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.groups[0], parent.name)
            else:
                self.sc.setJobGroup("perfbench-idle", "perfbench idle")

    def add_group(self, span: Span | None, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query
        runs its batches under its run id) to `span`."""
        if span is not None:
            span.groups.append(group)

    def read_counters(self) -> None:
        """Fill the counters of every span closed since the last call.
        Waits for Spark's listener bus first, so call it outside timed
        regions."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        empty_list = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        tracker = self.sc.statusTracker()
        for s in self._pending:
            stages: set[int] = set()
            for g in s.groups:
                s.jobs.extend(tracker.getJobIdsForGroup(g))
            for j in s.jobs:
                jd = store.job(j)
                ids = jd.stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    s.job_intervals.append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"] = len(s.jobs)
            for sid in stages:
                attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["executor_busy_s"] += st.executorRunTime() / 1000.0
            s.counters = c
        self._pending.clear()

    # -- derived per-span figures ------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def inclusive(self, span: Span) -> dict:
        """Counters of `span` plus those of all its descendants."""
        total = dict(span.counters)
        for child in self.children(span):
            for k, v in self.inclusive(child).items():
                total[k] = total.get(k, 0) + v
        return total

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.duration - _covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def driver_only(self, span: Span) -> float:
        """Wall time of `span` during which none of its jobs ran."""
        intervals = list(span.job_intervals)
        stack = self.children(span)
        while stack:
            c = stack.pop()
            intervals.extend(c.job_intervals)
            stack.extend(self.children(c))
        return span.duration - _covered(intervals, span.start, span.end)

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "driver_only_s": self.driver_only(s),
                "jobs": s.jobs,
                "counters": s.counters,
                "attrs": s.attrs,
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
