"""Outside-in Spark counters: jobs and tasks fired by a call, and storage held.

Jobs are read from Spark's application status store, the store behind
``SparkContext.statusTracker()``. Every job lands there whatever job group
its thread carries, including none, so the count also covers jobs that the
engine submits from executor threads which drop the caller's group. The
store is fed by the asynchronous listener bus, so each read first waits
for the bus to drain; callers read after the timed call returns.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Tuple

from pyspark.sql import SparkSession


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    completed_ms: int
    tasks: int


class JobCounter:
    """Reports the jobs that appeared since the previous ``take()``."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext._jsc.sc()
        self._last = self._max_job_id()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs_newest_first(self):
        return self._sc.statusStore().jobsList(None)

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self._jobs_newest_first()
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def take(self) -> List[Job]:
        """Jobs submitted since the last call, oldest first."""
        self._drain()
        jobs = self._jobs_newest_first()
        out: List[Job] = []
        n = jobs.size()
        for i in range(n):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._last:
                break
            sub, done = j.submissionTime(), j.completionTime()
            out.append(
                Job(
                    job_id=jid,
                    submitted_ms=sub.get().getTime() if sub.isDefined() else 0,
                    completed_ms=done.get().getTime() if done.isDefined() else 0,
                    tasks=j.numTasks(),
                )
            )
        if out:
            self._last = out[0].job_id
        out.reverse()
        return out


def busy_ms(jobs: List[Job], start_ms: float, end_ms: float) -> float:
    """Length of the union of the jobs' run intervals inside [start, end]."""
    spans: List[Tuple[float, float]] = sorted(
        (max(j.submitted_ms, start_ms), min(j.completed_ms or end_ms, end_ms))
        for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def storage(spark: SparkSession) -> Dict[int, int]:
    """Cached RDDs held now: rdd id -> bytes held in memory."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(r.id()): int(r.memSize()) for r in infos}


def storage_mb(spark: SparkSession) -> float:
    return sum(storage(spark).values()) / 1e6
