"""SLA resolution and health-state classification (reference A23, A10)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SLA_MS = 120_000  # StreamingLensConfig.scala:54-55
LAGGING = 0.3  # streamingLens.criticalPathAnalysis.overProvisionPercentage
OKAY = 0.7  # ...underProvisionPercentage
CRITICAL = 0.7  # ...criticalPathPercentage  (StreamingLensConfig.scala:31-38)

STATE_NAMES = {
    4: "UNHEALTHY",
    3: "UNDERPROVISIONED",
    2: "OPTIMUM",
    1: "OVERPROVISIONED",
    0: "NONEWBATCHES",
    -1: "ERROR",
}  # common/StreamingState.scala:21-29


def classify_state(batch_running_ms: int, critical_ms: int, sla_ms: int) -> int:
    """A10 for one analyzed batch, in plain Python: the ``state_id`` that
    ``classify`` computes, with the same double comparisons (the int
    operands are promoted to double, as Spark promotes them)."""
    brt, ct = float(batch_running_ms), float(critical_ms)
    if brt <= sla_ms * LAGGING:
        return 1
    if brt <= sla_ms * OKAY:
        return 2
    if ct <= sla_ms * CRITICAL:
        return 3
    return 4


def resolve_sla(progress: DataFrame, sla_config: DataFrame, default_ms: int = DEFAULT_SLA_MS) -> DataFrame:
    """A23 -- per-query SLA: override map keyed by ``name ?? queryId``,
    falling back to the global default
    (reference ``listener/QueryProgressListener.scala:36-38``,
    ``StreamingAppTracker.scala:76-91``).  Broadcast join: the SLA map is
    O(#queries), never worth a shuffle."""
    queries = progress.select(
        "query_id", F.coalesce("query_name", "query_id").alias("query_key")
    ).distinct()
    return queries.join(F.broadcast(sla_config), "query_key", "left").select(
        "query_id",
        F.coalesce("sla_ms", F.lit(default_ms)).cast("long").alias("sla_ms"),
    )


def classify(crit: DataFrame, sla: DataFrame) -> DataFrame:
    """A10 -- state classification against the SLA thresholds
    (reference ``analyzer/StreamingCriticalPathAnalyzer.scala:60-87``):

      brt <= 0.3*sla                     -> OVERPROVISIONED
      0.3*sla < brt <= 0.7*sla           -> OPTIMUM
      brt > 0.7*sla and ct <= 0.7*sla    -> UNDERPROVISIONED
      brt > 0.7*sla and ct > 0.7*sla     -> UNHEALTHY
    """
    brt = F.col("batch_running_ms")
    ct = F.col("critical_ms")
    sla_ms = F.col("sla_ms")
    state_id = (
        F.when(brt <= sla_ms * LAGGING, 1)
        .when((brt > sla_ms * LAGGING) & (brt <= sla_ms * OKAY), 2)
        .when((brt > sla_ms * OKAY) & (ct <= sla_ms * CRITICAL), 3)
        .otherwise(4)
    )
    state_name = F.lit(None).cast("string")
    for sid, name in STATE_NAMES.items():
        state_name = F.when(F.col("state_id") == sid, F.lit(name)).otherwise(state_name)
    return (
        crit.join(F.broadcast(sla), "query_id")
        .withColumn("state_id", state_id.cast("int"))
        .withColumn("state", state_name)
        .select(
            "query_id", "batch_id", "sla_ms", "batch_running_ms", "critical_ms",
            "state_id", "state",
        )
    )
