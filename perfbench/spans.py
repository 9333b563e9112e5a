"""Spans around the benchmark's calls into each layer, with Spark counters.

A span records name, start, end, parent and iteration id.  Spans live in
memory (``Tracer.spans``) and are written out once, when the run ends.

With counters on, every span runs its jobs under a Spark job group of its
own and reads two kinds of counters from the driver's ``AppStatusStore``
(populated with the UI off, the same store
``p2_mapreduce_spark.plans.shuffle_audit`` reads):

* executor totals (GC time, shuffle read/write bytes, input bytes,
  completed and failed tasks), as the delta across the span - these
  include the span's children;
* stage totals (task time, spill, input/output bytes, shuffle write
  records) of the jobs that ran under the span's own job group, each stage
  counted once - children are added in when the span ends, so both kinds
  are inclusive.

The listener bus is drained before each read so the store has seen every
event of the jobs the span ran.  Counters cost py4j round trips, which is
the tracing overhead the benchmark reports.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

EXECUTOR_FIELDS = {
    "gc_ms": "totalGCTime",
    "shuffle_write_bytes": "totalShuffleWrite",
    "shuffle_read_bytes": "totalShuffleRead",
    "executor_input_bytes": "totalInputBytes",
    "completed_tasks": "completedTasks",
    "failed_tasks": "failedTasks",
}

STAGE_FIELDS = {
    "task_ms": "taskTime",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_records": "shuffleWriteRecords",
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    iteration: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans; with ``counters=True`` also attributes Spark work.

    ``counters`` is switched per iteration by the benchmark, so that one
    run can interleave traced and untraced iterations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters = False
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if iteration is None and parent is not None:
            iteration = self.spans[parent].iteration
        idx = len(self.spans)
        counting = self.counters and self._sc is not None
        if counting:
            group = f"perfbench-{idx}"
            self._sc.setJobGroup(group, name)
            before = self._executor_totals()
        span = Span(name, time.perf_counter(), parent, iteration)
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if counting:
                after = self._executor_totals()
                span.counters = {k: after[k] - before[k] for k in after}
                span.counters.update(self._stage_totals(group))
                span.counters["jobs"] = span.counters.pop("_jobs")
                for child in self.spans[idx + 1:]:
                    if child.parent == idx:
                        for k in (*STAGE_FIELDS, "jobs"):
                            span.counters[k] += child.counters.get(k, 0)
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def current_name(self) -> str:
        """Name of the innermost open span ('' outside any)."""
        return self.spans[self._stack[-1]].name if self._stack else ""

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _executor_totals(self) -> dict:
        self._drain()
        store = self._sc._jsc.sc().statusStore()
        totals = dict.fromkeys(EXECUTOR_FIELDS, 0)
        it = store.executorList(False).iterator()
        while it.hasNext():
            ex = it.next()
            for key, getter in EXECUTOR_FIELDS.items():
                totals[key] += getattr(ex, getter)()
        return totals

    def _stage_totals(self, group: str) -> dict:
        """Stage counters of the group's jobs, each stage counted once.

        Read per (stage, executor): a later job that reuses a shuffle
        re-lists its map stage as skipped, which overwrites the stage-level
        record with zeros, but leaves the per-executor records alone."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        jobs = tracker.getJobIdsForGroup(group)
        totals["_jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info is not None else ():
                if stage in self._seen_stages:
                    continue
                self._seen_stages.add(stage)
                it = store.executorSummary(stage, 0).values().iterator()
                while it.hasNext():
                    summary = it.next()
                    for key, getter in STAGE_FIELDS.items():
                        totals[key] += getattr(summary, getter)()
        return totals

    def self_seconds(self, idx: int) -> float:
        """Span time minus the part of it that its direct children cover
        (children are sequential, so their durations add)."""
        span = self.spans[idx]
        covered = sum(s.seconds for s in self.spans[idx + 1:] if s.parent == idx)
        return span.seconds - covered

    def to_records(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "parent": s.parent,
                "iteration": s.iteration,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_seconds(i),
                "counters": s.counters,
            }
            for i, s in enumerate(self.spans)
        ]
