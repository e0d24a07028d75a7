"""Spark execution counters read from the application status store.

Read after the work they describe, outside any timed region. Works with
``spark.ui.enabled=false``: the status store is kept without the UI.
"""

from __future__ import annotations

FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class ExecStats:
    """Totals over a set of jobs, each completed stage counted once."""

    def __init__(self) -> None:
        self.totals = dict.fromkeys(FIELDS, 0.0)
        self.skew = 1.0  # slowest / median task of the stage with the slowest task
        self._worst_task_ms = -1.0
        self._seen: set[int] = set()

    def add_jobs(self, spark, job_ids) -> None:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._gateway.jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        t = self.totals
        for jid in job_ids:
            t["jobs"] += 1
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                self._seen.add(sid)
                t["stages"] += 1
                t["tasks"] += st.numCompleteTasks()
                t["task_run_s"] += st.executorRunTime() / 1e3
                t["task_cpu_s"] += st.executorCpuTime() / 1e9
                t["gc_s"] += st.jvmGcTime() / 1e3
                t["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                t["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                t["spill_mb"] += st.diskBytesSpilled() / 2**20
                summary = store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, worst = run.apply(0), run.apply(1)
                    if worst > self._worst_task_ms:
                        self._worst_task_ms = worst
                        self.skew = worst / max(med, 1.0)

    def add_group(self, spark, group: str) -> int:
        """Add every job of a job group; returns how many there were."""
        ids = list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.add_jobs(spark, ids)
        return len(ids)


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
