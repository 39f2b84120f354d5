"""Per-layer tracing from outside the program.

Spans are recorded in memory around each op call. Spark's own counters
come from the application status store (``SparkContext.statusStore``),
which Spark keeps even with the UI off. After each op the tracer waits
for the listener bus to drain, then reads only the jobs that are new
since its last read, newest first, so it stays well inside the 1000
jobs and stages the store retains by default.

Jobs are attributed to an op by job group when the op set one (the
concurrent serving clients do); otherwise to the op that was running
alone when the job ran (the single-client batch workloads, whose
streaming micro-batches run under the stream's own job group).
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-"

STAGE_COUNTERS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1e3,
    "executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_mb": lambda s: s.inputBytes() / 1e6,
    "shuffle_write_mb": lambda s: s.shuffleWriteBytes() / 1e6,
    "output_mb": lambda s: s.outputBytes() / 1e6,
    "spill_mb": lambda s: s.memoryBytesSpilled() / 1e6,
}
_COUNTED_STAGE = ("COMPLETE", "FAILED")


class Span:
    __slots__ = ("op", "layer", "client", "start", "end", "ok", "group", "jobs",
                 "job_intervals", "tasks", "counters")

    def __init__(self, op: str, layer: str, client: int, group: str | None):
        self.op, self.layer, self.client, self.group = op, layer, client, group
        self.start = time.perf_counter()
        self.end = self.start
        self.ok = False
        self.jobs = 0
        self.job_intervals: list[tuple[float, float]] = []
        self.tasks = 0
        self.counters: dict[str, float] = defaultdict(float)

    def driver_s(self) -> float:
        """Op wall time not covered by any of its Spark jobs."""
        covered, edge = 0.0, self.start
        for a, b in sorted(self.job_intervals):
            a, b = max(a, edge), min(b, self.end)
            if b > a:
                covered += b - a
                edge = b
        return max(0.0, (self.end - self.start) - covered)

    def to_json(self, t0: float) -> dict:
        return {
            "op": self.op,
            "layer": self.layer,
            "client": self.client,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            "ok": self.ok,
            "jobs": self.jobs,
            "tasks": self.tasks,
            "driver_s": round(self.driver_s(), 6),
            **{k: round(v, 6) for k, v in self.counters.items()},
        }


class Tracer:
    """Collects spans and attributes status-store jobs to them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        # perf_counter and the store's epoch-millisecond stamps differ
        # by a fixed offset; measure it once.
        self._epoch_offset = time.time() - time.perf_counter()
        self._lock = threading.Lock()
        self._done_jobs: set[int] = set()
        self._floor = self._newest_job_id()
        self._open: dict[str, Span] = {}
        self._alone: Span | None = None
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._n = 0

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def begin(self, op: str, layer: str, client: int, concurrent: bool) -> Span:
        group = None
        if concurrent:
            with self._lock:
                self._n += 1
                group = f"{GROUP_PREFIX}{self._n}"
            self.sc.setJobGroup(group, op)
        span = Span(op, layer, client, group)
        with self._lock:
            if group:
                self._open[group] = span
            else:
                self._alone = span
        return span

    def end(self, span: Span, ok: bool) -> None:
        span.end = time.perf_counter()
        span.ok = ok
        t = time.perf_counter()
        with self._lock:
            self._bus.waitUntilEmpty()
            self._collect()
            if span.group:
                self._open.pop(span.group, None)
            else:
                self._alone = None
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t

    def _collect(self) -> None:
        """Attribute every finished job newer than the floor."""
        it = self._store.jobsList(None).iterator()
        running_min = None
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= self._floor:
                break
            if jid in self._done_jobs:
                continue
            if job.status().toString() == "RUNNING":
                running_min = jid if running_min is None else min(running_min, jid)
                continue
            self._done_jobs.add(jid)
            span = self._owner(job)
            if span is not None:
                self._add_job(span, job)
        newest = max(self._done_jobs, default=self._floor)
        floor = newest if running_min is None else running_min - 1
        if floor > self._floor:
            self._done_jobs = {j for j in self._done_jobs if j > floor}
            self._floor = floor

    def _owner(self, job) -> Span | None:
        grp = job.jobGroup()
        if grp.isDefined() and grp.get().startswith(GROUP_PREFIX):
            return self._open.get(grp.get())
        return self._alone

    def _add_job(self, span: Span, job) -> None:
        span.jobs += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            off = self._epoch_offset
            span.job_intervals.append(
                (sub.get().getTime() / 1e3 - off, done.get().getTime() / 1e3 - off)
            )
        ids = job.stageIds()
        for i in range(ids.size()):
            stage = self._store.lastStageAttempt(ids.apply(i))
            if stage.status().toString() not in _COUNTED_STAGE:
                continue
            span.tasks += stage.numCompleteTasks() + stage.numFailedTasks()
            for k, f in STAGE_COUNTERS.items():
                span.counters[k] += f(stage)
