"""Spans and Spark counters for the traced run.

Counters come from the driver's status store (it works with the UI
disabled). Jobs are attributed to a span by job-id window: every job
whose id is above the highest id seen before the span belongs to it.
Job groups alone miss the jobs that ``concurrency.subtree_pool`` threads
submit, because a job group is a thread-local property; those jobs are
counted here and reported as ``ungrouped_jobs``.

Counters are read right after each span, before the status store's
retained-jobs and retained-stages limits can evict them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from meter import Stopwatch

COUNTERS = (
    "jobs", "ungrouped_jobs", "stages", "stages_skipped", "tasks",
    "failed_tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class StatusCounters:
    """Job-id-window reader over ``SparkContext.statusStore()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._stage_args = (
            getattr(self._store, "stageData$default$3")(),
            getattr(self._store, "stageData$default$5")(),
        )
        self._counted_stages: set[int] = set()
        self._mark = -1
        self.window()  # everything before construction is history

    def _new_jobs(self) -> list:
        """Jobs with id above the mark, after the listener bus drains
        (the store is fed asynchronously)."""
        self._bus.waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._mark:
                break
            out.append(job)
        return out

    def window(self) -> dict[str, int]:
        """Counters of the jobs since the previous call."""
        c = dict.fromkeys(COUNTERS, 0)
        jobs = self._new_jobs()
        for job in jobs:
            self._mark = max(self._mark, job.jobId())
            c["jobs"] += 1
            c["ungrouped_jobs"] += 0 if job.jobGroup().isDefined() else 1
            c["stages_skipped"] += job.numSkippedStages()
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._counted_stages:
                    continue
                attempts = self._store.stageData(
                    sid, False, self._stage_args[0], False, self._stage_args[1]
                )
                ran = False
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    c["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
                    c["failed_tasks"] += s.numFailedTasks()
                    c["executor_run_ms"] += s.executorRunTime()
                    c["gc_ms"] += s.jvmGcTime()
                    c["shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if ran:
                    self._counted_stages.add(sid)
                    c["stages"] += 1
        return c


class Tracer:
    """Flat spans (name, start, end, parent) with per-span Spark counters.

    ``parent`` names the pass or request a span belongs to; spans of one
    pass share it. ``span`` sets the calling thread's job group to the
    span name, so jobs submitted from other threads show up as ungrouped.
    Spans are kept in memory and written out with the run record.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.counters = StatusCounters(spark)
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: str, **attrs):
        """``seconds`` is the span's wall time; ``steal_share`` the
        hypervisor steal over it."""
        self.counters.window()  # jobs before the span are not its own
        rec = {"name": name, "parent": parent, **attrs}
        self._sc.setJobGroup(name, f"{parent}/{name}")
        rec["start"] = time.perf_counter() - self._t0
        sw = Stopwatch()
        try:
            with sw:
                yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec.update(seconds=sw.wall, steal_share=sw.steal)
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self._sc.setLocalProperty(key, None)
            rec.update(self.counters.window())
            self.spans.append(rec)
