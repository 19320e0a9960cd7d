"""Spans recorded around the benchmark's calls into the engine.

A span has a name, start and end (seconds on the run's monotonic clock), the
id of its parent span and the id of the operation it belongs to. Spans stay in
memory and are written as one JSON file when the run ends.

Spark jobs are attributed to a span by job id: the scheduler hands out ids
from one counter, so the jobs a span caused are exactly the ids issued
between its start and its end -- provided one client runs at a time, which
every workload guarantees. This also counts jobs that an operator starts from
its own worker threads, which carry no job group.
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
    start: float
    parent: int | None
    op: int | None
    end: float | None = None
    first_job: int | None = None
    end_job: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def job_ids(self) -> range:
        return range(self.first_job, self.end_job)


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, enabled: bool, next_job_id=None) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_job_id = next_job_id

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            attrs=dict(attrs),
        )
        if self._next_job_id is not None:
            s.first_job = self._next_job_id()
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            if self._next_job_id is not None:
                s.end_job = self._next_job_id()
            s.end = time.perf_counter()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class JobStats:
    """Sums over the non-skipped stages of a set of Spark jobs."""

    jobs: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_mb: float = 0.0
    #: wall time of the span covered by at least one running job
    in_jobs_ms: float = 0.0


class SparkJobs:
    """Reads job and stage metrics from the driver's status store, which is
    populated with the UI disabled."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()

    def stats(self, job_ids) -> JobStats:
        """Metrics of the given job ids (jobs not in the store are skipped)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jvm = self._sc._jvm
        out = JobStats()
        intervals = []
        seen: set[int] = set()
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 -- evicted or never posted
                continue
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                # a stage reused by a later job is listed by both jobs
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(
                    sid,
                    False,
                    jvm.java.util.ArrayList(),
                    False,
                    self._sc._gateway.new_array(jvm.double, 0),
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                    out.executor_run_ms += st.executorRunTime()
                    out.executor_cpu_ms += st.executorCpuTime() / 1e6
                    out.gc_ms += st.jvmGcTime()
                    out.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
        out.in_jobs_ms = float(union_length(intervals))
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
