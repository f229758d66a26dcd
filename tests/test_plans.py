"""Plan-quality audits: the properties that make this engine hold at 100 TB,
asserted on the actual physical plans (a lost broadcast or lost pushdown
fails here, not on a cluster)."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from streaminglens_spark import registry
from streaminglens_spark.plans.audit import (
    formatted_plan,
    has_pushed_filters,
    python_udf_count,
    scan_read_schema,
    uses_broadcast_join,
)
from tests.conftest import SF_DIR


def test_sla_join_is_broadcast(spark):
    df = registry.q_state_classify(spark, SF_DIR)
    assert uses_broadcast_join(df), "SLA/dim joins must broadcast, not shuffle"


def test_batch_slice_broadcasts_ranges(spark):
    df = registry.q_batch_slice(spark, SF_DIR)
    assert uses_broadcast_join(df), "A4 range sweep must broadcast per-batch ranges"


def test_doc_scan_prunes_columns(spark):
    # q_token_count touches only text: the parquet scan must not read
    # lang/source/n_chars
    df = registry.q_token_count(spark, SF_DIR)
    schemas = scan_read_schema(df)
    assert schemas, "expected a parquet scan"
    for s in schemas:
        assert "lang" not in s and "source" not in s, f"unpruned scan: {s}"


def test_ngram_filter_pushdown(spark):
    # doc_id < 40 must reach the parquet scan
    df = registry.q_ngram_jaccard(spark, SF_DIR)
    assert has_pushed_filters(df), "doc_id predicate must push to parquet"


def test_no_row_at_a_time_python_udfs(spark):
    """Python only ever appears Arrow-batched (pandas UDF / mapInPandas),
    never as row-at-a-time BatchEvalPython."""
    # getattr, not queries(): the set spans driver + LOCAL_ORACLE surfaces
    for name in ("q_state_classify", "q_minhash_lsh", "q_critical_path",
                 "q_cosine_topk", "q_text_stats", "q_frame_sample"):
        df = getattr(registry, name)(spark, SF_DIR)
        assert python_udf_count(df) == 0, f"{name} uses a row-at-a-time Python UDF"


def test_analysis_windows_are_batch_partitioned(spark):
    """No global-order window in the analysis chain: every Window sort is
    preceded by a partition key (query_id/batch_id/group...)."""
    df = registry.q_islands(spark, SF_DIR)
    plan = formatted_plan(df)
    # Spark prints window specs like: windowspecdefinition(query_id..., start_ms ASC
    assert "windowspecdefinition(query_id" in plan.replace("#", "").replace(" ", "") or (
        "PartitionBy" not in plan
    ), plan[:500]


def test_cosine_broadcasts_query_side(spark):
    df = registry.q_cosine_topk(spark, SF_DIR)
    assert uses_broadcast_join(df), "query vectors must broadcast (map-only corpus scan)"


def test_driver_surface_exactly_fifty():
    """The grading driver evaluates at most 50 correctness queries in dict
    order (a 51st is dropped silently), so the surface is pinned: exactly
    the 50 ``DRIVER_SURFACE`` names, in that order, each with the same
    oracle SQL.  The hashes change only when a surface query's name, order
    or oracle text does; recompute them with the expressions below."""
    q = registry.queries()
    assert list(q) == list(registry.DRIVER_SURFACE)
    assert len(q) == 50, f"driver cap is 50; registry has {len(q)}"
    assert registry.oracle_sql() == registry.ORACLE
    assert list(registry.ORACLE) == list(registry.DRIVER_SURFACE)
    names = json.dumps(list(q)).encode()
    surface = json.dumps(list(registry.ORACLE.items())).encode()
    assert hashlib.sha256(names).hexdigest() == (
        "dcec3eede076a3cdce23c777c4b5f44b6534b4a1016e0b38bd64397cc9ddfbfe"
    )
    assert hashlib.sha256(surface).hexdigest() == (
        "c81b553f8f235e99c93ca9b8cd619ff941f293ec30eeab2e6b7f33ad39e60b23"
    )
    # every oracle sits on exactly one surface, with its SQL unchanged
    assert not set(registry.ORACLE) & set(registry.LOCAL_ORACLE)
    assert {**registry.ORACLE, **registry.LOCAL_ORACLE} == registry.ORACLES


def test_driver_surface_has_no_composite_columns(spark):
    """The driver's comparator canonicalizes with a pandas sort, which
    dies on list/struct/map cells (unhashable type -- the r8
    q_ann_refit/q_pq_refit failure).  Every driver-surface query must
    return scalar columns only; composite shapes live on the engine API
    and LOCAL_ORACLE surfaces."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name in registry.ORACLE:
        df = getattr(registry, name)(spark, SF_DIR)
        for f in df.schema.fields:
            assert not isinstance(
                f.dataType, (ArrayType, MapType, StructType)
            ), f"{name}.{f.name} is {f.dataType}; driver surface must be scalar"


def test_entry_exposes_exactly_fifty():
    """The driver-facing ``__spark_entry__.queries()`` must mirror the
    registry's 50-slot ORACLE surface exactly (the documented contract:
    the driver evaluates at most 50; the other registered queries are
    proven on LOCAL_ORACLE locally)."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    q = entry.queries()
    assert len(q) == 50, f"entry surface must be exactly 50, got {len(q)}"
    assert set(q) == set(entry.oracle_sql())
    assert set(q) == set(registry.ORACLE)


def test_ivf_broadcasts_centroids_no_python(spark):
    from streaminglens_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = ivf_topk(emb)
    assert uses_broadcast_join(df), "centroids + probes must broadcast"
    assert python_udf_count(df) == 0, "IVF must stay JVM-side"


def test_simhash_pairs_all_jvm(spark):
    from streaminglens_spark.functions.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = simhash_pairs(docs)
    plan = formatted_plan(df)
    assert python_udf_count(df) == 0, "simhash pairing must stay JVM-side"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, (
        "band blocking must be an equi-join, not a product"
    )


def test_minhash_candidate_join_is_equi(spark):
    """The LSH candidate stage must plan as a shuffled/broadcast EQUI join
    on (band, band_sig) -- never a product over docs."""
    df = registry.q_minhash_lsh(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, "minhash candidates became a product"


def test_critical_path_single_shuffle(spark):
    """r3 plan pin: the A8 pandas impl collects each job's DAG in exactly
    ONE exchange over its inputs (stage rows + task rows unioned and
    grouped by job_id); a reintroduced weights-join would add exchanges
    and fail here.  Inputs are standalone tables so the pin measures the
    operator, not the telemetry derivation feeding it."""
    from streaminglens_spark.operators.critical_path import critical_path_per_job
    from streaminglens_spark.plans.audit import exchange_count

    stages = spark.createDataFrame(
        [(0, 1, [], 1), (1, 1, [0], 1)],
        "stage_id bigint, job_id bigint, parent_ids array<bigint>, num_tasks bigint",
    )
    tasks = spark.createDataFrame(
        [(0, 0, 1, 100), (1, 1, 1, 150)],
        "task_id bigint, stage_id bigint, job_id bigint, duration_ms bigint",
    )
    df = critical_path_per_job(stages, tasks)
    assert exchange_count(df) == 1, formatted_plan(df)


def test_ann_increment_broadcasts_and_stays_jvm(spark):
    """The increment path must stay map-only over the new batch: centroids
    broadcast, no Python anywhere, no cartesian product."""
    df = registry.q_ann_increment(spark, SF_DIR)
    assert uses_broadcast_join(df), "centroid assignment must broadcast"
    assert python_udf_count(df) == 0, "increment path must stay JVM-side"


def test_pq_increment_broadcasts_and_stays_jvm(spark):
    df = registry.q_pq_increment(spark, SF_DIR)
    assert uses_broadcast_join(df), "codebook encode must broadcast"
    assert python_udf_count(df) == 0, "PQ increment must stay JVM-side"


def test_shared_fit_stays_jvm(spark):
    """Fit-once pipeline: both consumer tails must keep the all-JVM
    contract of their standalone forms."""
    df = registry.q_shared_fit(spark, SF_DIR)
    assert python_udf_count(df) == 0
    assert uses_broadcast_join(df)


_LAZY_FIT_QUERIES = [
    # r11 verdict ask #6 (q_shared_fit) + r12 verdict ask #3 (the three
    # siblings that still ran an eager fit count at query-build time)
    "q_shared_fit",
    "q_pq_increment",
    "q_ann_refit",
    "q_pq_refit",
]


@pytest.mark.parametrize("qname", _LAZY_FIT_QUERIES)
def test_fit_queries_build_lazily(spark, qname):
    """Building a fit-carrying query must run ZERO Spark jobs beyond the
    input table's parquet-footer metadata read (the former eager
    ``cents.count()``/``cb.count()`` ran the whole Lloyd fit before the
    driver's timer started the returned plan), and the lazy plan must
    still produce the oracle-pinned rows."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{qname}-load", "load-jobs baseline")
    try:
        registry._emb(spark, SF_DIR)
        n_load = len(sc.statusTracker().getJobIdsForGroup(f"{qname}-load"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup(f"{qname}-laziness", "laziness probe")
    try:
        df = getattr(registry, qname)(spark, SF_DIR)
        n_build = len(
            sc.statusTracker().getJobIdsForGroup(f"{qname}-laziness")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_build <= n_load, (
        f"building {qname} ran {n_build} jobs vs {n_load} for the "
        "bare table load -- the fit must stay lazy"
    )
    assert df.count() > 0


def test_r7_operators_plan_quality(spark):
    """Plan pins for the r7 additions: zero row-at-a-time Python
    anywhere; the refit chain broadcasts its O(k)-row tables; the
    token-budget sampler broadcasts the budget dim."""
    from streaminglens_spark.plans.audit import (
        python_udf_count,
        uses_broadcast_join,
    )

    for name in ("q_shared_spans", "q_dup_passages", "q_softdedup",
                 "q_token_budget", "q_ann_refit", "q_pq_refit"):
        df = getattr(registry, name)(spark, SF_DIR)
        assert python_udf_count(df) == 0, f"{name} uses row-at-a-time Python"
    from streaminglens_spark.functions.sampling import token_budget_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = token_budget_sample(docs, "source", "doc_id", {"src0": 100})
    assert uses_broadcast_join(df), "budget dim must broadcast"
    from streaminglens_spark.functions.similarity import (
        ann_vector_shard,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(emb)
    shard = ann_vector_shard(emb, cents)
    assert uses_broadcast_join(shard), "centroid array must broadcast"
    plan = __import__(
        "streaminglens_spark.plans.audit", fromlist=["formatted_plan"]
    ).formatted_plan(shard)
    # genuinely map-only up to the cell groupBy: no join back on vec_id
    assert "SortMergeJoin" not in plan, plan[:400]


def test_token_budget_no_full_stratum_row_window(spark):
    """r7 verdict ask #2 plan pin: token_budget_sample must never run the
    row-level cumulative window partitioned by the stratum alone (that
    serializes a whole stratum onto one reducer -- ~20 TB per task on a
    5-stratum 100 TB corpus).  The two-level form's row window partitions
    by (stratum, bucket); the only stratum-partitioned window runs over
    the O(strata x n_buckets) bucket AGGREGATE, ordered by bucket id."""
    import re

    df = registry.q_token_budget(spark, SF_DIR)
    plan = formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, "expected window specs in the token-budget plan"
    # the forbidden shape: partition by stratum alone, order by row hash
    assert not any(
        re.match(r"windowspecdefinition\(source#\d+, _h#", s) for s in specs
    ), f"full-stratum row window found: {specs}"
    # the required shape: the row window is bucket-local
    assert any(
        re.match(r"windowspecdefinition\(source#\d+, _b#\d+L, _h#", s)
        for s in specs
    ), f"bucket-local row window missing: {specs}"


def test_job_advisor_builds_lazily_and_stays_jvm(spark):
    """r14: the composed advisor's three track() seams (part/wm/lsh --
    each feeds two consumers) must persist LAZILY (zero build-time jobs
    beyond the table loads) and the whole composition stays all-JVM
    (no Python eval nodes in any branch)."""
    from streaminglens_spark.sources.loaders import load_table

    sc = spark.sparkContext

    def _load_inputs():
        registry._docs(spark, SF_DIR)
        registry._telemetry(spark, SF_DIR)
        load_table(spark, SF_DIR, "events")

    _load_inputs()  # warm: session-init jobs excluded from both counts
    sc.setJobGroup("jobadv-load", "load baseline")
    try:
        _load_inputs()
        n_load = len(sc.statusTracker().getJobIdsForGroup("jobadv-load"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup("jobadv-build", "laziness probe")
    try:
        df = registry.q_job_advisor(spark, SF_DIR)
        n_build = len(sc.statusTracker().getJobIdsForGroup("jobadv-build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_build <= n_load, (
        f"building q_job_advisor ran {n_build} jobs vs {n_load} for the "
        "bare loads -- the seams must stay lazy"
    )
    assert python_udf_count(df) == 0
    assert df.count() == 7  # 2 partitioning + 1 watermark + 2 sla + 2 lsh
