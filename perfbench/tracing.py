"""Per-layer measurement, taken from outside the engine.

``Tracer`` wraps the engine's public entry points (CSV readers, store
read/append) by replacing the module attributes the loaders look up,
and runs each operation under its own Spark job group.  Every wrapped
call inside an operation gets a child job group, so each job lands in
exactly one span.  Right after an operation the listener bus is
drained and the job, stage and task figures of its groups are read
from Spark's status store over py4j.  No engine file changes.

``NullTracer`` has the same surface and does nothing, for untraced
runs: their timings carry no wrapper or status-store cost.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    group: str = ""
    jobs: list[int] = field(default_factory=list)


@dataclass
class OpStats:
    """Status-store figures for one operation, over all its groups."""

    name: str
    timed: bool
    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    persisted_left: int = 0


class NullTracer:
    enabled = False

    @contextmanager
    def op(self, name: str, timed: bool):
        yield

    def install(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, clock):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.clock = clock
        self.spans: list[Span] = []
        self.ops: list[OpStats] = []
        self._stack: list[int] = []  # open span indices
        self._op_id: int | None = None

    def install(self) -> None:
        """Wrap the engine's public functions where the loaders and
        reports look them up."""
        from team_aragon_spark.pipeline import hhs_load, quality_load
        from team_aragon_spark.pipeline.sinks import ParquetStore

        hhs_load.read_hhs_csv = self._wrap("sources.read_csv", hhs_load.read_hhs_csv)
        quality_load.read_cms_csv = self._wrap("sources.read_csv", quality_load.read_cms_csv)
        ParquetStore.read = self._wrap("sinks.read", ParquetStore.read)
        ParquetStore.append = self._wrap("sinks.append", ParquetStore.append)

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._op_id is None:
                return fn(*args, **kwargs)
            with self._span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"op{self._op_id}.{idx}"
        span = Span(name, self.clock(), parent=parent, op_id=self._op_id, group=group)
        self.spans.append(span)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield span
        finally:
            span.end = self.clock()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, self.spans[self._stack[-1]].name)
            else:
                self.sc.setLocalProperty(JOB_GROUP, None)

    @contextmanager
    def op(self, name: str, timed: bool):
        self._op_id = len(self.ops)
        stats = OpStats(name, timed)
        self.ops.append(stats)
        first = len(self.spans)
        try:
            with self._span(name) as span:
                yield
            stats.seconds = span.end - span.start
        finally:
            self._op_id = None
            self._read_status(stats, self.spans[first:])

    def _read_status(self, stats: OpStats, spans: list[Span]) -> None:
        """Fill ``stats`` and each span's job list from the status store."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for span in spans:
            span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
            for job_id in span.jobs:
                info = tracker.getJobInfo(job_id)
                stage_ids.update(info.stageIds if info else ())
        stats.jobs = sum(len(s.jobs) for s in spans)
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue  # skipped: its output was reused
            stats.stages += 1
            stats.tasks += sd.numCompleteTasks()
            stats.executor_run_s += sd.executorRunTime() / 1e3
            stats.executor_cpu_s += sd.executorCpuTime() / 1e9
            stats.gc_s += sd.jvmGcTime() / 1e3
            stats.shuffle_write_bytes += sd.shuffleWriteBytes()
            stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        stats.persisted_left = self.sc._jsc.getPersistentRDDs().size()

    def span_stats(self, name: str) -> tuple[list[float], list[int]]:
        """Seconds and job counts of every timed-op span called ``name``."""
        timed = {i for i, op in enumerate(self.ops) if op.timed}
        spans = [s for s in self.spans if s.name == name and s.op_id in timed]
        return [s.end - s.start for s in spans], [len(s.jobs) for s in spans]

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op_id": s.op_id, "jobs": s.jobs}
                for s in self.spans
            ],
            "ops": [vars(op) for op in self.ops],
        }


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
