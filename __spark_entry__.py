"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (telemetry -> per-batch health
results) on sf0.001; ``queries()``/``oracle_sql()`` expose operators from
SURVEY.md §2 with their DuckDB oracles (see
``streaminglens_spark/registry.py``).

THE 50-SLOT CONTRACT: the grading driver evaluates at most 50 correctness
queries, in dict order (a 51st is dropped silently), so ``queries()``
exposes exactly the 50 queries named in ``registry.DRIVER_SURFACE``, in
that order -- never the full registry.  ``registry.py`` raises
RuntimeError at import if that list is not 50 distinct queries, each with
a function and an oracle.  The other registered queries live on
``registry.LOCAL_ORACLE`` and are hash-checked against their independent
DuckDB oracles at sf0.001 AND sf0.01 by ``tests/test_oracle_queries.py``,
which iterates ``registry.ORACLES`` (both surfaces).  A driver that ever
evaluates more than 50 must read LOCAL_ORACLE too.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from streaminglens_spark import registry  # noqa: E402


def _configure(spark: SparkSession) -> SparkSession:
    # generated inputs write events.ts as TIMESTAMP(NANOS); read it as BIGINT nanos
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full streaming-health analysis of sf0.001 telemetry
    (per-batch running time, critical time, SLA state)."""
    from streaminglens_spark.operators.pipeline import results_table
    from streaminglens_spark.sources.loaders import load_table
    from streaminglens_spark.telemetry import derive_telemetry

    _configure(spark)
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    return results_table(derive_telemetry(spark, events))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {}
    for name, fn in registry.queries().items():
        def wrapped(spark, sf_dir, _fn=fn):
            return _fn(_configure(spark), sf_dir)
        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
