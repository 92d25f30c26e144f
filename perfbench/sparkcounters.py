"""Spark work counters per benchmark-side call, read from outside.

Jobs are attributed to a call by id range: every job whose id was
allocated between the call's start and end belongs to it. Job groups are
not used, because jobs launched from the program's own driver threads do
not inherit one. The figures come from the application status store,
which Spark keeps with the UI disabled.
"""

from __future__ import annotations

from dataclasses import dataclass

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
            "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass(frozen=True)
class Stage:
    status: str
    tasks: int
    failed_tasks: int
    executor_run_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


def attribute(job_stages: dict[int, list[int]], stages: dict[int, Stage],
              lo: int, hi: int) -> dict[str, float]:
    """Sum the counters of jobs with ``lo <= id < hi``. A stage shared by
    several of those jobs counts once; stages a job skipped (its shuffle
    output already existed) count as stages of no job."""
    ids = [j for j in job_stages if lo <= j < hi]
    ran = sorted({s for j in ids for s in job_stages[j]
                  if s in stages and stages[s].status != "SKIPPED"})
    out = {"jobs": float(len(ids)), "stages": float(len(ran))}
    out["tasks"] = float(sum(stages[s].tasks for s in ran))
    out["failed_tasks"] = float(sum(stages[s].failed_tasks for s in ran))
    out["executor_run_s"] = sum(stages[s].executor_run_ms for s in ran) / 1000.0
    out["shuffle_read_bytes"] = float(sum(stages[s].shuffle_read_bytes for s in ran))
    out["shuffle_write_bytes"] = float(sum(stages[s].shuffle_write_bytes for s in ran))
    return out


class SparkCounters:
    """Reads job and stage data of one SparkContext through py4j."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def since(self, lo: int) -> dict[str, float]:
        """Counters of the jobs started since ``next_job_id()`` read ``lo``.
        Drains the listener bus first so finished jobs are in the store."""
        hi = self.next_job_id()
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        job_stages: dict[int, list[int]] = {}
        stages: dict[int, Stage] = {}
        for j in range(lo, hi):
            seq = store.job(j).stageIds()
            job_stages[j] = [int(seq.apply(i)) for i in range(seq.size())]
            for s in job_stages[j]:
                if s not in stages:
                    d = store.lastStageAttempt(s)
                    stages[s] = Stage(
                        d.status().toString(), d.numTasks(), d.numFailedTasks(),
                        d.executorRunTime(), d.shuffleReadBytes(), d.shuffleWriteBytes(),
                    )
        return attribute(job_stages, stages, lo, hi)
