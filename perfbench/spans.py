"""In-memory spans around the benchmark's calls into the engine.

A span has a name, start and end (seconds on the run's monotonic clock),
the id of the span that caused it, and the request id it belongs to.
While a span is open its Spark jobs run under a job group of its own, so
the span also records the jobs, stages, tasks and failed tasks Spark's
status tracker saw for those calls (self counts: a child span's jobs are
the child's), plus the rows in and out that the caller reports. Spans
stay in memory until :meth:`Tracer.write` dumps them as JSON lines.

A disabled tracer records nothing and sets no job group, so the
untraced run measures the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from types import SimpleNamespace


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "group",
                 "jobs", "stages", "tasks", "failed_tasks", "rows_in", "rows_out")

    def __init__(self, sid: int, name: str, parent: int | None, request: int | None, start: float):
        self.id, self.name, self.parent, self.request = sid, name, parent, request
        self.start, self.end = start, None
        self.group = f"perfbench-span-{sid}"
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.rows_in = self.rows_out = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, spark, enabled: bool, clock_zero: float):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.zero = clock_zero
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str, rows_in: int | None = None):
        """Open a span around the enclosed calls; yields the Span so the
        caller can set ``rows_out`` (a throwaway object when disabled)."""
        if not self.enabled:
            yield SimpleNamespace()
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.request,
                 time.perf_counter() - self.zero)
        s.rows_in = rows_in
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.zero
            self._stack.pop()
            self._collect(s)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _collect(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(s.group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:  # skipped stage (shuffle output reused)
                    continue
                s.stages += 1
                s.tasks += st.numTasks
                s.failed_tasks += st.numFailedTasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")

    def failed_tasks(self) -> int:
        """Failed tasks of every job Spark still tracks: the spans' jobs
        plus the jobs that ran outside any span."""
        tracker = self.sc.statusTracker()
        total = sum(s.failed_tasks for s in self.spans)
        for jid in tracker.getJobIdsForGroup(None):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                st = tracker.getStageInfo(sid)
                total += st.numFailedTasks if st is not None else 0
        return total
