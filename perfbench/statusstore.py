"""Per-job-group counters read from Spark's status store over py4j.

``sc._jsc.sc().statusStore()`` is kept up to date by the status
listener even with ``spark.ui.enabled=false``, so no UI or REST server
is needed. Every operation the benchmark runs sets its own job group,
and :func:`group_counts` sums what Spark did for one group: jobs,
stages, tasks, summed job wall time, executor run and CPU time,
shuffle read and write, and spill.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "job_wall_s",
    "run_s",
    "cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

# Stages listed by a job that never ran in it (their shuffle output was
# reused from an earlier job) carry no work of their own.
_NOT_RUN = {"SKIPPED", "PENDING"}


def group_counts(spark: SparkSession, group: str) -> dict[str, float]:
    """Sum the status-store counters of every job in ``group``.

    Waits for the listener bus to drain first: job and stage end events
    reach the store asynchronously, after the action has returned.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(COUNT_KEYS, 0.0)
    seen_stages: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["jobs"] += 1
        submitted, completed = job.submissionTime(), job.completionTime()
        if submitted.isDefined() and completed.isDefined():
            out["job_wall_s"] += (completed.get().getTime() - submitted.get().getTime()) / 1e3
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            stage_id = stage_ids.apply(k)
            if stage_id in seen_stages:
                continue
            seen_stages.add(stage_id)
            try:
                stage = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # never attempted: no stage data exists
                continue
            if stage.status().toString() in _NOT_RUN:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["run_s"] += stage.executorRunTime() / 1e3
            out["cpu_s"] += stage.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += stage.shuffleReadBytes()
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out
