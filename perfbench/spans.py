"""Spans around the benchmark's calls into the package, with each span's
Spark jobs read from outside the program.

A span records its wall interval and the range of Spark job ids submitted
while it was open (the DAG scheduler's next job id before and after).
Attribution by job-id difference catches jobs submitted from helper
threads, such as checkpoint_index's thread pool, which a job group would
miss. When the outermost span closes, the listener bus is drained and
every pending span's jobs and stages are read from the status store, so
the reads happen outside the timed interval and before the retained-jobs
limit can evict them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from stats import self_time, union_length


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    metrics: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op otherwise. The SparkContext is
    looked up per span, so a span may open before the session exists (its
    jobs then count from the first)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[int] = []

    @staticmethod
    def _jsc():
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        return None if sc is None else sc._jsc.sc()

    def _next_job_id(self) -> int:
        jsc = self._jsc()
        if jsc is None:
            return 0
        nid = jsc.dagScheduler().nextJobId()
        return int(nid if isinstance(nid, int) else nid.get())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        s = Span(name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        s.job_lo = self._next_job_id()
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            s.job_hi = self._next_job_id()
            self._stack.pop()
            self._pending.append(idx)
            if not self._stack:
                self._resolve()

    def _resolve(self) -> None:
        jsc = self._jsc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs: dict[int, dict] = {}
        for idx in self._pending:
            s = self.spans[idx]
            for j in range(s.job_lo, s.job_hi):
                if j not in jobs:
                    jobs[j] = _job_info(store, j)
            mine = [jobs[j] for j in range(s.job_lo, s.job_hi) if jobs[j] is not None]
            busy = union_length(((m["t0"], m["t1"]) for m in mine), s.start, s.end)
            s.metrics = {
                "wall_s": s.wall_s,
                "jobs": s.job_hi - s.job_lo,
                "stages": sum(m["stages"] for m in mine),
                "tasks": sum(m["tasks"] for m in mine),
                "executor_s": sum(m["executor_s"] for m in mine),
                "shuffle_write_bytes": sum(m["shuffle_write_bytes"] for m in mine),
                "job_s": busy,
                "driver_s": s.wall_s - busy,
            }
        self._pending.clear()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time_s(self, idx: int) -> float:
        s = self.spans[idx]
        return self_time(s.start, s.end, [(c.start, c.end) for c in self.children(idx)])

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end, **s.metrics}
            for s in self.spans
        ]


def _job_info(store, job_id: int) -> dict | None:
    """One finished job's interval (epoch seconds) and its stages' metrics;
    None when the status store no longer holds it."""
    try:
        jd = store.job(job_id)
    except Py4JJavaError:
        return None
    t0, t1 = jd.submissionTime(), jd.completionTime()
    if not (t0.isDefined() and t1.isDefined()):
        return None
    out = {
        "t0": t0.get().getTime() / 1000.0,
        "t1": t1.get().getTime() / 1000.0,
        "stages": 0,
        "tasks": 0,
        "executor_s": 0.0,
        "shuffle_write_bytes": 0,
    }
    sids = jd.stageIds()
    for i in range(sids.length()):
        try:
            sd = store.lastStageAttempt(sids.apply(i))
        except Py4JJavaError:
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out
