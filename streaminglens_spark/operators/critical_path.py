"""Critical-path analysis (reference A8, A9).

A8 reproduces sparklens 0.3.1 ``JobTimeSpan.computeCriticalTimeForJob`` (the
reference imports it at ``helper/JobOverlapHelper.scala:22,77-81``): starting
from the job's MAX stage id, walk the stage DAG rootward; each stage
contributes its max single-task duration; a stage's critical time is its own
weight plus the max over its parents; missing parents contribute 0.

``job_critical_ms`` is that walk for one job in plain Python; the Spark
mapping runs it in an Arrow-batched pandas UDF over each job's collected
DAG, and the live tick calls it on the driver.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def job_critical_ms(stages: Iterable, task_durations: Iterable) -> int:
    """A8 for ONE job, in plain Python: ``stages`` yields the job's
    ``(stage_id, parent_ids)`` pairs and ``task_durations`` its tasks'
    ``(stage_id, duration_ms)`` pairs.  A stage weighs its max task
    duration (NULL durations skipped); the walk starts at the max stage id
    and adds the max over parents, a missing parent weighing 0 with no
    parents (sparklens ``JobTimeSpan.criticalTime``).  The pandas UDF
    below and the driver-side ``rows.results_rows`` both call this."""
    nodes: dict[int, list[int]] = {}
    for sid, parents in stages:
        nodes[int(sid)] = [] if parents is None else [int(p) for p in parents]
    weights: dict[int, int] = {}
    for sid, d in task_durations:
        if d is not None:  # running max = stage weight
            sid, d = int(sid), int(d)
            if d > weights.get(sid, -1):
                weights[sid] = d
    memo: dict[int, int] = {}

    def crit(sid: int) -> int:
        # sparklens JobTimeSpan.criticalTime: missing stage -> (0, [])
        if sid in memo:
            return memo[sid]
        if sid in nodes:
            w, parents = weights.get(sid, 0), nodes[sid]
        else:
            w, parents = 0, []
        v = w + (max((crit(p) for p in parents), default=0) if parents else 0)
        memo[sid] = v
        return v

    # A job with task rows but no stage rows (possible when tasks carry
    # their own job_id) has an empty DAG: critical time 0 rather than max()
    # raising on an empty dict.
    return crit(max(nodes)) if nodes else 0


def critical_path_per_job(stages: DataFrame, tasks: DataFrame) -> DataFrame:
    """A8 -- longest rootward path from the max stage id, per job.

    Returns (job_id, critical_ms).  Single-shuffle plan: stage rows and
    task rows are unioned keyed by ``job_id`` and collected in ONE
    ``groupBy`` (the only exchange); an Arrow-batched pandas UDF then runs
    ``job_critical_ms`` over each job's (tiny) DAG, computing the per-stage
    max task duration while it builds the DAG -- thousands of jobs per
    Python batch, so per-job Python overhead is amortized."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def walk(dags: pd.Series) -> pd.Series:
        # rt is an explicit row-type tag (0=stage, 1=task): a task row with
        # a NULL duration (schema-legal; only the REST path filters them)
        # must not be mistaken for a stage row.
        return pd.Series(
            [
                job_critical_ms(
                    ((r["stage_id"], r["parent_ids"]) for r in dag if r["rt"] == 0),
                    ((r["stage_id"], r["d"]) for r in dag if r["rt"] != 0),
                )
                for dag in dags
            ]
        )

    stg = stages.select(
        F.lit(0).alias("rt"),
        "job_id",
        "stage_id",
        "parent_ids",
        F.lit(None).cast("long").alias("d"),
    )
    if "job_id" in tasks.columns:
        keyed = tasks.select("job_id", "stage_id", "duration_ms")
    else:
        # tasks without a job key: attribute via the stage->job index (S2)
        keyed = tasks.select("stage_id", "duration_ms").join(
            stages.select("stage_id", "job_id"), "stage_id"
        )
    tsk = keyed.select(
        F.lit(1).alias("rt"),
        "job_id",
        "stage_id",
        F.lit(None).cast("array<bigint>").alias("parent_ids"),
        F.col("duration_ms").alias("d"),
    )
    dags = stg.unionByName(tsk).groupBy("job_id").agg(
        F.collect_list(F.struct("rt", "stage_id", "parent_ids", "d")).alias("dag")
    )
    return dags.select("job_id", walk(F.col("dag")).alias("critical_ms"))


def critical_time(
    bounds: DataFrame,
    walltime: DataFrame,
    islanded: DataFrame,
    crit_per_job: DataFrame,
) -> DataFrame:
    """A9 -- ``criticalTime = driverTime + criticalPathTime`` where
    ``driverTime = (batchEnd - batchStart) - sum(island wall-clock)`` and
    ``criticalPathTime = sum over islands of max(per-job critical time)``
    (reference ``analyzer/StreamingCriticalPathAnalyzer.scala:30-49``).

    Only analyzed batches (valid bounds) get a critical time.
    """
    cp = (
        islanded.join(crit_per_job, "job_id", "left")
        .withColumn("jc", F.coalesce("critical_ms", F.lit(0)))
        .groupBy("query_id", "batch_id", "group_key", "island_id")
        .agg(F.max("jc").alias("island_crit"))
        .groupBy("query_id", "batch_id")
        .agg(F.sum("island_crit").cast("long").alias("critical_path_ms"))
    )
    analyzed = bounds.filter(F.col("valid"))
    return (
        analyzed.join(walltime, ["query_id", "batch_id"], "left")
        .join(cp, ["query_id", "batch_id"], "left")
        .select(
            "query_id",
            "batch_id",
            "batch_running_ms",
            (
                F.col("batch_running_ms")
                - F.coalesce("job_walltime_ms", F.lit(0))
                + F.coalesce("critical_path_ms", F.lit(0))
            )
            .cast("long")
            .alias("critical_ms"),
        )
    )
