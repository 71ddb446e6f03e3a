"""Spans and Spark work counters, read from outside the program.

``Probe.op`` brackets one call into a package layer. Untraced, it only
takes the wall time. Traced, it also

- tags the call's Spark jobs with a job group unique to that call (a
  reused group name makes the status tracker return earlier calls' jobs
  too);
- counts the call's jobs as the job-id window it opened: Spark numbers
  jobs densely, and the window also holds the jobs a streaming query
  runs under its own group;
- reads tasks from the status tracker, and shuffle bytes and executor
  CPU from the application status store, which Spark keeps with the UI
  disabled;
- records a span (name, parent, start, end, counters) in memory.

Self time is a span's duration minus its children's, and self counters
likewise; ``Probe.write`` dumps every span, with the run's fixed work
sizes, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_cpu_s")


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "counts", "children")

    def __init__(self, sid: int, parent: Span | None, name: str, start: float):
        self.id, self.parent, self.name, self.start = sid, parent, name, start
        self.end = start
        self.counts: dict[str, float] = {}
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def self_count(self, key: str) -> float:
        return self.counts.get(key, 0) - sum(c.counts.get(key, 0) for c in self.children)


class Probe:
    def __init__(self, spark):
        self.traced = False
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_job = 0

    def start_tracing(self) -> None:
        self.traced = True
        self._tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._next_job = self._job_frontier()

    def stop_tracing(self) -> None:
        self.traced = False

    # ------------------------------------------------------------ jobs

    def _job_frontier(self) -> int:
        """First job id not yet submitted. Waits for the listener bus so
        the status store holds every finished job and stage."""
        self._bus.waitUntilEmpty()
        n = self._next_job
        while self._tracker.getJobInfo(n) is not None:
            n += 1
        return n

    def _count(self, first: int, stop: int) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0.0)
        for jid in range(first, stop):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        return c

    # ----------------------------------------------------------- spans

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one call; traced, also record its span and counters.
        Yields the span (``None`` untraced); its ``dur`` is final on exit."""
        if not self.traced:
            box = Span(-1, None, name, time.perf_counter())
            yield box
            box.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), parent, name, 0.0)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        group = f"perfbench-{span.id}-{name}"
        self.sc.setJobGroup(group, name)
        first = self._job_frontier()
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"perfbench-{parent.id}-{parent.name}", parent.name)
            # the children's windows lie inside this one, so these counts
            # include theirs; self_count subtracts them
            self._next_job = self._job_frontier()
            span.counts = self._count(first, self._next_job)

    # -------------------------------------------------------- summaries

    def total(self, prefix: str, key: str | None = None) -> float:
        """Sum over spans named ``prefix``* of the duration (``key`` None)
        or of a self counter."""
        spans = [s for s in self.spans if s.name.startswith(prefix)]
        if key is None:
            return sum(s.dur for s in spans)
        return sum(s.self_count(key) for s in spans)

    def inclusive(self, name: str, key: str) -> float:
        """Sum of a counter, children included, over spans named ``name``."""
        return sum(s.counts.get(key, 0) for s in self.spans if s.name == name)

    def write(self, path: str, invariants: dict[str, float]) -> None:
        by_name: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            agg = by_name[s.name]
            agg["n"] += 1
            agg["total_s"] += s.dur
            agg["self_s"] += s.self_s
        doc = {
            "spans": [
                {
                    "id": s.id,
                    "parent": None if s.parent is None else s.parent.id,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "self_s": s.self_s,
                    "counts": s.counts,
                }
                for s in self.spans
            ],
            "by_name": by_name,
            "invariants": invariants,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
