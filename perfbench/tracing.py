"""Spans around the benchmark's calls into each layer.

Spans live only in the benchmark's code: the program is not
instrumented.  When tracing is on, each span runs under its own Spark
job group, so the status tracker (jobs, stages, tasks) and the event log
(task CPU, GC, bytes, task intervals) can be attributed to the call.
With tracing off a span costs two clock reads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    op: str  # operation id, shared by the spans of one operation
    layer: str  # e.g. "catalog", "rules", "sinks.csv", "queries.build"
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.op}/{self.layer}"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []

    def reset(self, sc) -> None:
        """Drop the spans recorded so far; record on ``sc`` from now on."""
        self.sc = sc
        self.spans = []

    @contextmanager
    def span(self, op: str, layer: str):
        if self.enabled:
            self.sc.setJobGroup(f"{op}/{layer}", layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(op, layer, start, end))

    def counts(self) -> dict[str, dict[str, int]]:
        """Jobs, executed stages and completed tasks per span, from the
        status tracker.  Call once the calls are done, so the listener
        has seen their jobs end."""
        tracker = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            stages = set()
            jobs = tracker.getJobIdsForGroup(s.group)
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
            tasks = n_stages = 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    n_stages += 1
                    tasks += st.numCompletedTasks
            out[s.group] = {"jobs": len(jobs), "stages": n_stages, "tasks": tasks}
        return out
