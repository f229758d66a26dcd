"""SparkSession helpers tuned for the engine.

The engine targets large clusters (the reference's telemetry model scaled to
~100 TB); locally we run ``local[N]``.  The settings below are the ones that
matter at scale and are harmless locally:

- AQE on (runtime partition coalescing + skew-join splitting),
- auto broadcast for small dimension tables (sla_config, executors),
- a modest shuffle-partition default that AQE can coalesce further.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "streaminglens-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Scale-dependent knob (r14): the shuffle-partition DEFAULT is a local
    # constant that AQE coalesces further; a cluster deployment sets
    # SPARK_GRAFT_SHUFFLE_PARTITIONS to ~2-3x its total cores (guide §2.6)
    # -- values are partitioning-independent by design (integer-quantized
    # order-independent aggregates, total tie-breaks), so the knob cannot
    # change results, only task granularity.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the sf fixtures' events.ts is TIMESTAMP(MICROS) (read natively);
        # generated inputs (perfbench, scripts/make_scale_data.py) write
        # TIMESTAMP(NANOS), which Spark has no type for: read it as BIGINT
        # nanos and convert to millis ourselves
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()
