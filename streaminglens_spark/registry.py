"""Query registry: one entry per implemented operator from SURVEY.md §2.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with the
equivalent DuckDB oracle SQL (None => non-SQL-expressible, rows-only check).
``__spark_entry__.py`` re-exports this as the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.dedup import (
    MINHASH_A,
    MINHASH_B,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from .functions.similarity import ann_lsh_topk, cosine_topk, ivf_topk
from .functions.text import (
    LANG_LEXICON,
    STOPWORDS,
    doc_fingerprint,
    lang_id,
    text_stats,
    token_count,
)
from .operators.analysis import batch_bounds, batch_slice, exec_groups, islands, job_walltime
from .operators.classify import resolve_sla
from .operators.concurrency import (
    executor_cores,
    job_executors,
    max_concurrency,
    sliced_executors,
)
from .operators.control import batch_gate, purge_set
from .operators.critical_path import critical_path_per_job, critical_time
from .operators.pipeline import results_table
from .operators.reporting import (
    discounted_state,
    event_json,
    fmt_durations,
    insight_text,
    last_gauges,
    results_topk,
    source_recommendations,
    state_buckets,
)
from .oracle.analysis_sql import oracle_analysis
from .sources.loaders import load_table
from .telemetry import Telemetry, derive_telemetry


def _telemetry(spark: SparkSession, sf_dir: str) -> Telemetry:
    return derive_telemetry(spark, load_table(spark, sf_dir, "events"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------- analysis

def q_batch_bounds(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return batch_bounds(t.progress).drop("valid")


PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "props"]


def q_funnel(spark, sf_dir):
    """Strict-order funnel conversion counts (r5): signup -> view ->
    purchase within a 6 h horizon; per-step pre-aggregation keeps hot
    users map-side-reduced."""
    from .operators.funnel import funnel_counts

    return funnel_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_group_split(spark, sf_dir):
    """Leakage-safe split assignment (r5): whole user-groups land in one
    split; per-split user/event accounting."""
    from .functions.sampling import assign_split_by_group

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        assign_split_by_group(ev, "user_id")
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


def q_retention(spark, sf_dir):
    """Cohort retention triangle (r5): weekly cohorts by first signup,
    distinct-user activity per week offset."""
    from .operators.funnel import retention_cohorts

    return retention_cohorts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_profile_events(spark, sf_dir):
    """Per-column table profile (r5): null/distinct/min/max over string
    casts in one unpivot+groupBy pass.  ``ts`` is excluded because the
    fixture's TIMESTAMP(NANOS) surfaces as long under Spark's
    nanosAsLong but as timestamp in DuckDB -- a representation split,
    not a value difference."""
    from .functions.profile import profile_table

    return profile_table(
        spark.read.parquet(f"{sf_dir}/events.parquet"), PROFILE_COLS
    )


def q_sla_recommend(spark, sf_dir):
    """Data-driven SLA recommendation (r5): exact integer duration
    quantiles per query + ceiling-rounded p99 -- the answer to "how do
    I pick expectedMicroBatchSLAMillis"."""
    from .operators.analysis import recommend_sla

    t = _telemetry(spark, sf_dir)
    return recommend_sla(t.progress)


def q_duration_anomalies(spark, sf_dir):
    """Batch-duration outlier flags per query (r5): integer-exact
    Chebyshev-style test against the query's own duration distribution
    -- the no-SLA complement to A10's fixed thresholds."""
    from .operators.analysis import duration_anomalies

    t = _telemetry(spark, sf_dir)
    return duration_anomalies(t.progress)


def q_batch_parse(spark, sf_dir):
    # S4 -- parse the spark.job.description string
    # (reference listener/StreamingAppListener.scala:57-66 +
    #  common/BatchDescription.scala:28-39)
    t = _telemetry(spark, sf_dir)
    parts = F.split(F.col("description"), "<br/>")
    is4 = F.size(parts) == 4
    pick = lambda i4, i3: F.when(is4, F.element_at(parts, i4)).otherwise(  # noqa: E731
        F.element_at(parts, i3)
    )
    return t.jobs.select(
        "job_id",
        F.regexp_extract(pick(2, 1), "= (.*)$", 1).alias("parsed_query_id"),
        F.regexp_extract(pick(4, 3), "= (.*)$", 1).cast("long").alias("parsed_batch_id"),
    )


def q_batch_slice(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return batch_slice(t.jobs).select("query_id", "batch_id", "job_id")


def q_exec_groups(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return exec_groups(batch_slice(t.jobs)).select(
        "query_id", "batch_id", "job_id", "group_key"
    )


def q_islands(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return islands(exec_groups(batch_slice(t.jobs))).select(
        "query_id", "batch_id", "group_key", "job_id", "island_id"
    )


def q_job_walltime(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return job_walltime(islands(exec_groups(batch_slice(t.jobs))))


def q_critical_path(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return critical_path_per_job(t.stages, t.tasks)


def q_critical_time(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    bounds = batch_bounds(t.progress)
    islanded = islands(exec_groups(batch_slice(t.jobs)))
    return critical_time(
        bounds, job_walltime(islanded), islanded, critical_path_per_job(t.stages, t.tasks)
    )


def q_state_classify(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return results_table(t)


def q_sla_resolve(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return resolve_sla(t.progress, t.sla_config)


def q_job_executors(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return job_executors(t.tasks)


def q_stage_metrics(spark, sf_dir):
    # S8 -- per-stage task-metric rollup
    # (reference listener/StreamingAppListener.scala:110-142)
    t = _telemetry(spark, sf_dir)
    return t.tasks.groupBy("stage_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
        F.max("duration_ms").cast("long").alias("max_ms"),
        F.min("duration_ms").cast("long").alias("min_ms"),
        F.sum(F.when(F.col("failed"), 1).otherwise(0)).cast("long").alias("failed_tasks"),
    )


def q_job_metrics(spark, sf_dir):
    # S8 rollup, job level (the reference upserts the same task metrics
    # into stage, job AND executor aggregates,
    # listener/StreamingAppListener.scala:110-142)
    t = _telemetry(spark, sf_dir)
    return t.tasks.groupBy("job_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
        F.max("duration_ms").cast("long").alias("max_ms"),
        F.sum(F.when(F.col("failed"), 1).otherwise(0)).cast("long").alias("failed_tasks"),
    )


def q_executor_metrics(spark, sf_dir):
    # S8 rollup, executor level
    t = _telemetry(spark, sf_dir)
    return t.tasks.groupBy("executor_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
        F.max("duration_ms").cast("long").alias("max_ms"),
        F.sum(F.when(F.col("failed"), 1).otherwise(0)).cast("long").alias("failed_tasks"),
    )


def q_max_concurrency(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    be = sliced_executors(batch_slice(t.jobs), job_executors(t.tasks), t.executors)
    return max_concurrency(be, batch_bounds(t.progress))


def q_executor_cores(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    be = sliced_executors(batch_slice(t.jobs), job_executors(t.tasks), t.executors)
    return executor_cores(be, batch_bounds(t.progress))


# ---------------------------------------------------------------- reporting

def q_results_topk(spark, sf_dir):
    return results_topk(results_table(_telemetry(spark, sf_dir)))


def q_discounted_state(spark, sf_dir):
    return discounted_state(results_table(_telemetry(spark, sf_dir)))


def q_state_buckets(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return state_buckets(results_table(t), t.progress)


def q_source_recos(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return source_recommendations(t.progress)


def q_event_json(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return event_json(results_table(t), t.progress)


def q_last_gauges(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return last_gauges(results_table(t), t.progress)


def q_fmt_duration(spark, sf_dir):
    return fmt_durations(results_table(_telemetry(spark, sf_dir)))


def q_insight_text(spark, sf_dir):
    return insight_text(results_table(_telemetry(spark, sf_dir)))


def q_ts_parse(spark, sf_dir):
    # A22 -- ISO-8601 round-trip
    # (reference analyzer/StreamingQueryAnalyzer.scala:43-44,138-141)
    t = _telemetry(spark, sf_dir)
    iso = F.date_format(
        F.timestamp_millis(F.col("ts_ms")), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )
    return t.progress.select(
        "query_id",
        "batch_id",
        iso.alias("iso_ts"),
        F.unix_millis(
            F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        ).alias("parsed_ms"),
    )


def q_batch_gate(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return batch_gate(t.progress, min_batches=3)


def q_purge_set(spark, sf_dir):
    t = _telemetry(spark, sf_dir)
    return purge_set(t.progress, t.jobs)


# ------------------------------------------------- relational analytics

def q_pricing_summary(spark, sf_dir):
    from .functions.relational import pricing_summary

    return pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_top_customers(spark, sf_dir):
    from .functions.relational import top_customers

    return top_customers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_region_volume(spark, sf_dir):
    from .functions.relational import region_volume

    return region_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


# ------------------------------------------------- streaming generalizations

def q_tumbling_agg(spark, sf_dir):
    from .operators.windows import tumbling_agg

    return tumbling_agg(load_table(spark, sf_dir, "events"))


def q_sliding_agg(spark, sf_dir):
    from .operators.windows import sliding_agg

    return sliding_agg(load_table(spark, sf_dir, "events"))


def q_session_agg(spark, sf_dir):
    from .operators.windows import session_agg

    return session_agg(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------- extensions

def q_dedup_exact(spark, sf_dir):
    return dedup_exact(_docs(spark, sf_dir))


def q_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir))


def q_simhash_pairs(spark, sf_dir):
    return simhash_pairs(_docs(spark, sf_dir))


def q_ivf_topk(spark, sf_dir):
    return ivf_topk(_emb(spark, sf_dir))


def q_dedup_corpus(spark, sf_dir):
    """End-to-end dedup materialization: drop every near-duplicate 'loser'
    (the larger doc_id of any pair with Jaccard >= 0.9) and return the
    surviving doc ids -- the anti-join shape a training-data pipeline runs
    after candidate generation."""
    from .functions.dedup import dup_corpus, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    corpus = dup_corpus(docs)
    losers = (
        minhash_lsh_pairs(docs, threshold=0.9)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return corpus.join(losers, "doc_id", "left_anti").select("doc_id")


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (training-data pipeline op).  Each
    float is quantized to an exact integer (1e6 scale) BEFORE the sum, so
    the aggregation is order-independent and bit-reproducible -- the same
    correctness-at-scale trick as the windowed sums."""
    emb = _emb(spark, sf_dir)
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("q"),
    )
    return dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sum_q"),
        (F.sum("q") / F.count(F.lit(1))).alias("centroid_q"),
    )


def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    return token_count(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return doc_fingerprint(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from .functions.text import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_media_meta(spark, sf_dir):
    # one driver slot covering blob_meta + resize_meta (driver caps
    # CORRECTNESS at 50 queries; both halves stay as public functions)
    from .functions.multimodal import media_meta

    return media_meta(_docs(spark, sf_dir))


def q_decode_image(spark, sf_dir):
    # r4: REAL decode -- payloads are conforming grayscale PNGs (stdlib
    # zlib codec) whose pixels tile the document's bytes, decoded with
    # strict=True (no fake path).  The oracle computes the expected pixel
    # stats from the generating formula without any codec, so a wrong
    # decoder (filters, IHDR, inflate) hash-mismatches.
    from .functions.multimodal import attach_png_blob, decode_image

    return decode_image(attach_png_blob(_docs(spark, sf_dir)), strict=True).select(
        "doc_id", "width", "height", "format", "mean_byte"
    )


def q_frame_sample(spark, sf_dir):
    from .functions.multimodal import attach_blob, frame_sample

    return frame_sample(attach_blob(_docs(spark, sf_dir)))


def q_cosine_topk(spark, sf_dir):
    return cosine_topk(_emb(spark, sf_dir))


def q_ann_lsh(spark, sf_dir):
    return ann_lsh_topk(_emb(spark, sf_dir))


def q_ann_topk(spark, sf_dir):
    """Default ANN surface (r5): kmeans-IVF-backed exact re-rank, the
    driver-green ANN query with the pinned >= 0.8 recall@10 contract
    (measured 0.94 at nprobe=3; see functions/similarity.py:ann_topk)."""
    from .functions.similarity import ann_topk

    return ann_topk(_emb(spark, sf_dir))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic near-dup pairs (r5): kmeans cells + exact
    within-cell cosine -- the label-free embedding dedup path."""
    from .functions.similarity import semantic_dedup_pairs

    return semantic_dedup_pairs(_emb(spark, sf_dir), threshold=0.3)


def q_embed_dedup(spark, sf_dir):
    from .functions.similarity import embed_dedup_pairs

    return embed_dedup_pairs(_emb(spark, sf_dir))


# ------------------------------------- temporal joins / sketches / rollup (r3)

def q_asof_join(spark, sf_dir):
    from .functions.joins import events_asof_orders

    return events_asof_orders(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


def q_range_join(spark, sf_dir):
    from .functions.joins import events_in_batches

    t = _telemetry(spark, sf_dir)
    return events_in_batches(load_table(spark, sf_dir, "events"), batch_bounds(t.progress))


def q_kmv_distinct(spark, sf_dir):
    from .functions.sketch import kmv_distinct

    return kmv_distinct(load_table(spark, sf_dir, "events"))


def q_hll_distinct(spark, sf_dir):
    from .functions.sketch import hll_distinct

    return hll_distinct(load_table(spark, sf_dir, "events"))


def q_time_rollup(spark, sf_dir):
    from .operators.windows import time_rollup

    return time_rollup(load_table(spark, sf_dir, "events"))


def q_hist_quantiles(spark, sf_dir):
    from .functions.sketch import hist_quantiles

    return hist_quantiles(load_table(spark, sf_dir, "events"))


def q_hdr_quantiles(spark, sf_dir):
    """Log-scale (HDR) quantile sketch -- bounded RELATIVE value error for
    heavy-tailed columns (r5; the hist_quantiles companion)."""
    from .functions.sketch import hdr_quantiles

    return hdr_quantiles(load_table(spark, sf_dir, "events"))


def q_quality_classifier(spark, sf_dir):
    """Hashed-bag-of-ngrams linear quality classifier (r5): zero-shuffle
    map-only scoring, integer-exact."""
    from .functions.text import quality_classifier

    return quality_classifier(_docs(spark, sf_dir))


def q_chunk_docs(spark, sf_dir):
    """Sliding-window document chunking with overlap (r5): map-only +
    one posexplode, no shuffle."""
    from .functions.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_chunk_dedup(spark, sf_dir):
    """Cross-doc repeated-passage detection (r5): chunk-granular exact
    dedup -- the chunk_md5 hash-groupBy over chunk_documents output."""
    from .functions.text import chunk_dedup

    return chunk_dedup(_docs(spark, sf_dir))


def q_source_manifest(spark, sf_dir):
    """Per-(source, lang) corpus manifest (r5): one partial-aggregated
    groupBy."""
    from .functions.text import source_manifest

    return source_manifest(load_table(spark, sf_dir, "documents"))


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic hash-order training shuffle (r5): dense positions in
    affine-hash order + round-robin shards, no global sort."""
    from .functions.sampling import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir).select("doc_id"))


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (r5): 16x-compressed corpus scored
    by integer table lookups."""
    from .functions.pq import pq_topk

    return pq_topk(_emb(spark, sf_dir))


def q_pq_rerank(spark, sf_dir):
    """PQ ADC shortlist + exact cosine re-rank (r5): the IVFADC+re-rank
    recipe with a pinned recall floor."""
    from .functions.pq import pq_topk_rerank

    return pq_topk_rerank(_emb(spark, sf_dir))


# incremental-dedup fixture derivation: the NEW batch is the corpus docs
# with doc_id % INCR_MOD == 0, re-keyed past DUP_SHIFT; of those, docs with
# doc_id % INCR_PERTURB_MOD == 0 get a deterministic suffix so they score
# 'near' (high estimate, different md5) instead of 'certain'
INCR_MOD = 3
INCR_PERTURB_MOD = 6
INCR_SUFFIX = " incremental ingest suffix tokens appended"


CMS_PROBE_KEYS = list(range(10))  # the tracked-key monitoring list


def q_cms_probe(spark, sf_dir):
    """Per-window tracked-key frequency estimates from the windowed
    count-min cells (r5): the read side of q_cms_windowed."""
    from .functions.sketch import cms_window_probe, count_min_windowed
    from .operators.windows import _ev

    e = _ev(load_table(spark, sf_dir, "events"))
    cells = count_min_windowed(
        e.select(F.timestamp_millis(F.col("ms")).alias("ets"), "user_id")
    )
    return cms_window_probe(cells, CMS_PROBE_KEYS)


def q_resize_image(spark, sf_dir):
    """Real nearest-neighbor resize over decoded PNG pixels (r5): integer
    target dims + integer source indices, resized bytes md5-verified by a
    codec-free oracle."""
    from .functions.multimodal import attach_png_blob, resize_image

    return resize_image(attach_png_blob(_docs(spark, sf_dir)))


def q_langid_eval(spark, sf_dir):
    """Heuristic-evaluation harness (r5): confusion counts of the
    lang_id predictor against the fixture's ground-truth ``lang``
    column -- the measure-your-filters pattern (a pipeline that cannot
    score its own heuristics ships silent quality drift)."""
    from .functions.text import lang_id

    docs = _docs(spark, sf_dir)
    truth = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    return (
        lang_id(docs)
        .join(truth, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k (r5): exact counts + cumulative coverage
    via distributed TakeOrdered (never a global sort)."""
    from .functions.text import vocab_topk

    return vocab_topk(_docs(spark, sf_dir))


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (r5): the learned merge table -- 8 rounds
    of most-frequent-pair merging over the distinct-word reduction,
    fully deterministic (exact counts, total tie-break)."""
    from .functions.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir))


def q_bpe_segment(spark, sf_dir):
    """BPE encode side (r5): per-document token budgets under the
    merges learned from the SAME corpus (train then apply -- the real
    usage)."""
    from .functions.bpe import bpe_segment, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [(r["left"], r["right"]) for r in bpe_train(docs).collect()]
    return bpe_segment(docs, merges)


def q_normalize_text(spark, sf_dir):
    """Whitespace/control normalization over a deterministically dirtied
    corpus (r5): the crawl-cleanup front pass -- CRLF, tabs, C0 controls,
    space runs and edge whitespace normalized by a chained-JVM-regexp
    map-only plan; the oracle runs the IDENTICAL chain (shared
    Java-regex/RE2 syntax)."""
    from .functions.text import dirty_corpus, normalize_text

    return normalize_text(dirty_corpus(_docs(spark, sf_dir)))


def q_decode_audio(spark, sf_dir):
    """Real WAV/PCM decode (r5): strict mono-16-bit decode of conforming
    payloads; integer waveform stats verified by a codec-free oracle (the
    q_decode_image pattern for audio)."""
    from .functions.multimodal import attach_wav_blob, decode_audio

    return decode_audio(attach_wav_blob(_docs(spark, sf_dir)), strict=True)


def q_audio_frames(spark, sf_dir):
    """Frame-level audio features (r5): per-16-sample integer energy /
    peak / zero-crossing frames over REAL WAV payloads -- the VAD
    primitive; codec-free oracle recomputes every frame from the
    generating formula."""
    from .functions.multimodal import attach_wav_blob, audio_frames

    return audio_frames(attach_wav_blob(_docs(spark, sf_dir)))


def q_canon_urls(spark, sf_dir):
    """URL canonicalization (r5): RFC-3986 case rules + tracking-param
    strip over a deterministically derived URL column, all-JVM regexp
    map-only plan."""
    from .functions.urls import canonicalize_urls, url_corpus

    return canonicalize_urls(url_corpus(_docs(spark, sf_dir)))


def q_domain_stats(spark, sf_dir):
    """Per-domain URL accounting (r5): doc counts + distinct canonical
    resources over the canonicalized corpus."""
    from .functions.urls import canonicalize_urls, domain_stats, url_corpus

    return domain_stats(canonicalize_urls(url_corpus(_docs(spark, sf_dir))))


def q_corpus_pipeline(spark, sf_dir):
    """End-to-end cleanup pipeline (r5): normalize -> redact ->
    boilerplate strip -> quality gate -> exact-dedup keeper as ONE fused
    plan, over a corpus carrying all three deterministic injections
    (pii, whitespace mess, chrome lines).  One oracle hash covers every
    stage at once."""
    from .functions.corpus import corpus_pipeline
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    return corpus_pipeline(
        boilerplate_corpus(dirty_corpus(pii_corpus(_docs(spark, sf_dir))))
    )


def q_probe_video(spark, sf_dir):
    """Real ISO-BMFF container probe (r5): brand / duration / tracks /
    largest-track dims / mdat size parsed from conforming MP4 byte
    streams; codec-free oracle recomputes every field from the
    generating formula."""
    from .functions.multimodal import attach_mp4_blob, probe_video

    return probe_video(attach_mp4_blob(_docs(spark, sf_dir)), strict=True)


def q_dedup_increment(spark, sf_dir):
    """Incremental dedup against a persisted index (r5): new-batch
    verdicts from sketches only, corpus never rescanned."""
    from .functions.dedup import DUP_SHIFT, dedup_against_index, minhash_index

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % INCR_MOD == 0).select(
        (F.col("doc_id") + DUP_SHIFT).alias("doc_id"),
        F.when(
            F.col("doc_id") % INCR_PERTURB_MOD == 0,
            F.concat(F.col("text"), F.lit(INCR_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup_against_index(new, minhash_index(docs))


# ---------------------------------------------------------- r4 extensions
# sampling / TF-IDF / dedup clustering

def q_hash_sample(spark, sf_dir):
    from .functions.sampling import hash_sample

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return hash_sample(ev, "event_id", 0.1)


def q_stratified_sample(spark, sf_dir):
    from .functions.sampling import stratified_sample

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return stratified_sample(ev, "event_type", "event_id", 5)


def q_tfidf_topk(spark, sf_dir):
    from .functions.text import tf_idf_topk

    return tf_idf_topk(_docs(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    from .functions.dedup import dedup_clusters, minhash_lsh_pairs

    return dedup_clusters(minhash_lsh_pairs(_docs(spark, sf_dir)))


def q_count_min(spark, sf_dir):
    from .functions.sketch import count_min_topk

    return count_min_topk(load_table(spark, sf_dir, "events"))


def q_bloom_prune(spark, sf_dir):
    from .functions.bloom import orders_from_segment

    return orders_from_segment(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


def q_quantized_topk(spark, sf_dir):
    from .functions.similarity import quantized_topk

    return quantized_topk(_emb(spark, sf_dir))


# --------------------------------------------------------- r4c extensions
# text-pipeline quality passes: within-doc repetition metrics, PII
# redaction, corpus-frequency boilerplate removal.  PII/boilerplate run
# over DERIVED corpora (deterministic injection as a pure function of
# doc_id -- the dup_corpus pattern) because the synthetic fixture text
# contains neither PII nor chrome lines.

def q_repetition(spark, sf_dir):
    from .functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_pii_redact(spark, sf_dir):
    from .functions.text import pii_corpus, pii_redact

    return pii_redact(pii_corpus(_docs(spark, sf_dir)))


def q_boilerplate(spark, sf_dir):
    from .functions.text import boilerplate_corpus, strip_boilerplate

    return strip_boilerplate(boilerplate_corpus(_docs(spark, sf_dir)))


# --------------------------------------------------------- r4d extensions
# pretraining-loader plumbing: benchmark decontamination (broadcast n-gram
# probe), concat-and-chunk sequence packing (per-shard running offsets),
# and signed random projection (map-only JL dim reduction + SRP signature).

def q_decontaminate(spark, sf_dir):
    from .functions.text import decontaminate

    return decontaminate(_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    from .functions.text import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


def q_random_project(spark, sf_dir):
    from .functions.similarity import random_project

    return random_project(_emb(spark, sf_dir))


def q_assign_row_ids(spark, sf_dir):
    from .functions.ids import assign_row_ids

    return assign_row_ids(_docs(spark, sf_dir))


# --------------------------------------------------------- r4f extensions
# domain-mixture sampling and the windowed count-min build (batch form of
# the streaming sketch -- same function, same cells).

# target training mixture over languages; zh is deliberately unweighted
# (dropped) to exercise the weight-zero path
MIXTURE_WEIGHTS = {"en": 0.4, "es": 0.2, "de": 0.2, "fr": 0.2}


def q_mixture_sample(spark, sf_dir):
    from .functions.sampling import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir), "lang", "doc_id", MIXTURE_WEIGHTS
    ).select("doc_id", "lang")


def q_cms_windowed(spark, sf_dir):
    from .functions.sketch import count_min_windowed
    from .operators.windows import _ev

    e = _ev(load_table(spark, sf_dir, "events"))
    return count_min_windowed(
        e.select(F.timestamp_millis(F.col("ms")).alias("ets"), "user_id")
    )


def q_hdr_windowed(spark, sf_dir):
    """Event-time-windowed HDR bucket build (r5): the streaming form of
    q_hdr_quantiles' build stage, run here on the batch fixture."""
    from .functions.sketch import hdr_windowed
    from .operators.windows import _ev

    e = _ev(load_table(spark, sf_dir, "events"))
    return hdr_windowed(
        e.select(
            F.timestamp_millis(F.col("ms")).alias("ets"),
            "event_type",
            (F.col("cents") / 100.0).alias("value"),
        )
    )


# ---------------------------------------------------------------- oracle SQL

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)
_LEX_SQL = ", ".join(
    f"('{lang}', '{w}')" for lang, words in sorted(LANG_LEXICON.items()) for w in words
)
_MINHASH_SQL = ", ".join(
    f"({k}, {a}, {b})" for k, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
)

_CORPUS = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents
)
"""

_SHINGLES = _CORPUS + """
, md5s AS (
    SELECT doc_id, md5(text) AS md5_fp FROM corpus WHERE length(text) >= 5
),
shingled AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(length(text) - 3, 1)),
               i -> CAST((((ascii(substr(text, CAST(i AS INT), 1)) * 31
                    + ascii(substr(text, CAST(i AS INT) + 1, 1))) * 31
                    + ascii(substr(text, CAST(i AS INT) + 2, 1))) * 31
                    + ascii(substr(text, CAST(i AS INT) + 3, 1))) * 31
                    + ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)
           )) AS sh
    FROM corpus
    WHERE length(text) >= 5
),
coeffs AS (SELECT * FROM (VALUES %s) AS c(k, a, b)),
sigs AS (
    SELECT doc_id, k,
           CAST(list_min(list_transform(sh, h -> (a * h + b) %% 2147483647)) AS BIGINT) AS mh
    FROM shingled CROSS JOIN coeffs
    GROUP BY ALL
),
bands AS (
    SELECT doc_id, CAST(k // 4 AS INT) AS band,
           string_agg(CAST(mh AS VARCHAR), '-' ORDER BY k) AS band_sig
    FROM sigs
    GROUP BY 1, 2
)
""" % _MINHASH_SQL

# the affine-hash constants, shared verbatim with the Spark side
# (functions/sketch.py) by the bucket-cap and simhash64 oracles
from .functions.sketch import (  # noqa: E402
    HASH_A as _SK_A,
    HASH_B as _SK_B,
    HASH_P as _SK_P,
)


def _dup_pair_cap_sql(val: str = "v", src: str = "bands") -> str:
    """Shared oracle text for the r9 hot-bucket guard: the deterministic
    affine-hash bucket cap as ONE row_number window per (band, ``val``) --
    kept-set-identical to the Spark side's two-level form
    (``lsh.cap_band_buckets``, pinned by the Spark-side property test).
    r10 generalizes it across the text MinHash/SimHash joins too."""
    from .functions.lsh import DUP_BUCKET_CAP
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    return (
        f"""
        capped AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY band, {val}
                    ORDER BY ({HASH_A} * doc_id + {HASH_B}) % {HASH_P},
                             doc_id) AS rnk
                FROM {src}
            ) WHERE rnk <= {DUP_BUCKET_CAP}
        )"""
    )


# Every query's independent DuckDB oracle SQL, by query name; the rest of
# the module adds one entry per query.  DRIVER_SURFACE (at the end) names
# the 50 the driver sees.
ORACLES: dict[str, str] = {
    "q_batch_bounds": oracle_analysis(
        "SELECT query_id, batch_id, start_ms, end_ms, batch_running_ms FROM bounds2"
    ),
    "q_batch_parse": oracle_analysis("""
        SELECT job_id,
               CASE WHEN len(string_split(description, '<br/>')) = 4
                    THEN regexp_extract(string_split(description, '<br/>')[2], '= (.*)$', 1)
                    ELSE regexp_extract(string_split(description, '<br/>')[1], '= (.*)$', 1)
               END AS parsed_query_id,
               CAST(CASE WHEN len(string_split(description, '<br/>')) = 4
                    THEN regexp_extract(string_split(description, '<br/>')[4], '= (.*)$', 1)
                    ELSE regexp_extract(string_split(description, '<br/>')[3], '= (.*)$', 1)
               END AS BIGINT) AS parsed_batch_id
        FROM jobs"""),
    "q_batch_slice": oracle_analysis("SELECT query_id, batch_id, job_id FROM sliced"),
    "q_exec_groups": oracle_analysis(
        "SELECT query_id, batch_id, job_id, group_key FROM grouped"
    ),
    "q_islands": oracle_analysis(
        "SELECT query_id, batch_id, group_key, job_id, island_id FROM islanded"
    ),
    "q_job_walltime": oracle_analysis("SELECT * FROM walltime"),
    "q_critical_path": oracle_analysis("SELECT * FROM crit_job"),
    "q_critical_time": oracle_analysis("SELECT * FROM crit"),
    "q_state_classify": oracle_analysis("SELECT * FROM results"),
    "q_sla_resolve": oracle_analysis("SELECT * FROM sla"),
    "q_job_executors": oracle_analysis("SELECT * FROM job_execs"),
    "q_stage_metrics": oracle_analysis("""
        SELECT stage_id, COUNT(*) AS n_tasks,
               CAST(SUM(duration_ms) AS BIGINT) AS sum_ms,
               CAST(MAX(duration_ms) AS BIGINT) AS max_ms,
               CAST(MIN(duration_ms) AS BIGINT) AS min_ms,
               CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_tasks
        FROM tasks GROUP BY stage_id"""),
    "q_job_metrics": oracle_analysis("""
        SELECT job_id, COUNT(*) AS n_tasks,
               CAST(SUM(duration_ms) AS BIGINT) AS sum_ms,
               CAST(MAX(duration_ms) AS BIGINT) AS max_ms,
               CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_tasks
        FROM tasks GROUP BY job_id"""),
    "q_executor_metrics": oracle_analysis("""
        SELECT executor_id, COUNT(*) AS n_tasks,
               CAST(SUM(duration_ms) AS BIGINT) AS sum_ms,
               CAST(MAX(duration_ms) AS BIGINT) AS max_ms,
               CAST(SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_tasks
        FROM tasks GROUP BY executor_id"""),
    "q_max_concurrency": oracle_analysis("SELECT * FROM conc"),
    "q_executor_cores": oracle_analysis("SELECT * FROM cores"),
    "q_results_topk": oracle_analysis("SELECT * FROM topk"),
    "q_discounted_state": oracle_analysis("SELECT * FROM disc"),
    "q_state_buckets": oracle_analysis(
        "SELECT query_id, aggregated_state, state, recommendation FROM buckets"
    ),
    "q_source_recos": oracle_analysis("SELECT * FROM src_recos"),
    "q_event_json": oracle_analysis("SELECT * FROM event_json"),
    "q_last_gauges": oracle_analysis("SELECT * FROM gauges"),
    "q_fmt_duration": oracle_analysis("""
        SELECT query_id, batch_id,
               printf('%02ds %03dms', (batch_running_ms - batch_running_ms % 1000) // 1000,
                      batch_running_ms % 1000) AS brt_fmt,
               printf('%02ds %03dms', (critical_ms - critical_ms % 1000) // 1000,
                      critical_ms % 1000) AS ct_fmt
        FROM results"""),
    "q_insight_text": oracle_analysis("""
        SELECT query_id, batch_id,
               ' |||||||||||||||||| StreamingLens Inisights |||||||||||||||||||||||||'
               || chr(10) || ' BatchId: ' || CAST(batch_id AS VARCHAR)
               || chr(10) || ' Analysis Time: '
               || printf('%02ds %03dms', (analysis_ms - analysis_ms % 1000) // 1000,
                         analysis_ms % 1000)
               || chr(10) || ' Expected Micro Batch SLA: '
               || printf('%02ds %03dms', (sla_ms - sla_ms % 1000) // 1000, sla_ms % 1000)
               || chr(10) || ' Batch Running Time: '
               || printf('%02ds %03dms', (batch_running_ms - batch_running_ms % 1000) // 1000,
                         batch_running_ms % 1000)
               || chr(10) || ' Critical Time: '
               || printf('%02ds %03dms', (critical_ms - critical_ms % 1000) // 1000,
                         critical_ms % 1000)
               || chr(10) || ' Streaming Query State: ' || state
               || chr(10) || ' ' || repeat('|', 68) AS insight
        FROM results"""),
    "q_ts_parse": oracle_analysis("""
        SELECT query_id, batch_id,
               strftime(epoch_ms(ts_ms), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso_ts,
               epoch_ms(strptime(strftime(epoch_ms(ts_ms), '%Y-%m-%dT%H:%M:%S.%g') || 'Z',
                                 '%Y-%m-%dT%H:%M:%S.%gZ')) AS parsed_ms
        FROM progress"""),
    "q_batch_gate": oracle_analysis(
        "SELECT query_id, batch_id, (passes AND valid) AS analyzed FROM gate"
    ),
    "q_purge_set": oracle_analysis("""
        SELECT p.query_id, p.batch_id AS purge_batch_id, h.purge_hi_job
        FROM purge p
        JOIN (SELECT query_id, batch_id, MAX(job_id) AS purge_hi_job
              FROM jobs GROUP BY 1, 2) h
        ON h.query_id = p.query_id AND h.batch_id = p.batch_id
        WHERE p.purged"""),
    # -------------------------------------------- relational analytics
    "q_pricing_summary": """
        WITH li AS (
            SELECT l_returnflag, l_linestatus, l_quantity,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (10000 - CAST(round(l_discount * 10000) AS BIGINT)) AS disc_e8
            FROM lineitem
        )
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS count_order,
               CAST(round(SUM(l_quantity) * 100) AS BIGINT) AS sum_qty_cents,
               CAST(SUM(price_cents) AS BIGINT) AS sum_base_cents,
               CAST(SUM(disc_e8) AS BIGINT) AS sum_disc_e8
        FROM li GROUP BY 1, 2""",
    "q_top_customers": """
        WITH rev AS (
            SELECT o.o_custkey,
                   SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
                       AS revenue_e8
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_returnflag = 'R'
            GROUP BY 1
        )
        SELECT custkey, name, nation, revenue_e8 FROM (
            SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
                   CAST(r.revenue_e8 AS BIGINT) AS revenue_e8,
                   row_number() OVER (ORDER BY r.revenue_e8 DESC, c.c_custkey) AS rn
            FROM rev r
            JOIN customer c ON r.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
        ) WHERE rn <= 20""",
    "q_region_volume": """
        SELECT rg.r_name AS region,
               COUNT(*) AS n_lineitems,
               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
                   AS BIGINT) AS revenue_e8
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region rg ON n.n_regionkey = rg.r_regionkey
        GROUP BY 1""",
    # ------------------------------------------- streaming generalizations
    "q_tumbling_agg": """
        WITH e AS (
            SELECT epoch_ms(ts) AS ms, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT (ms // 3600000) * 3600000 AS window_start_ms,
               (ms // 3600000) * 3600000 + 3600000 AS window_end_ms,
               COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM e GROUP BY 1, 2""",
    "q_session_agg": """
        WITH e AS (
            SELECT user_id, epoch_ms(ts) AS ms,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        marked AS (
            SELECT *, CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                                >= 600000 THEN 1 ELSE 0 END AS new_s
            FROM e
        ),
        sessioned AS (
            SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
                                       ROWS UNBOUNDED PRECEDING) AS sess
            FROM marked
        )
        SELECT user_id, MIN(ms) AS session_start_ms,
               MAX(ms) + 600000 AS session_end_ms,
               COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM sessioned GROUP BY user_id, sess""",
    # ------------------------------------------------------------ extensions
    "q_dedup_exact": _CORPUS + """
        SELECT md5(text) AS md5_fp,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               COUNT(*) AS dup_count
        FROM corpus GROUP BY 1""",
    # r10: exact-equal md5 classes grouped pre-join (keeper star +
    # rep-level band join + member expansion) and the shared affine-hash
    # bucket cap -- both mirror functions/dedup.py::minhash_lsh_pairs
    "q_minhash_lsh": _SHINGLES + """
        , classes AS (
            SELECT md5_fp, MIN(doc_id) AS rep_id FROM md5s GROUP BY md5_fp
        ),
        mem AS (
            SELECT c.rep_id, m.doc_id FROM md5s m JOIN classes c USING (md5_fp)
        ),
        rep_bands AS (
            SELECT b.* FROM bands b JOIN classes c ON b.doc_id = c.rep_id
        ),""" + _dup_pair_cap_sql(val="band_sig", src="rep_bands") + """,
        cand AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM capped l JOIN capped r
              ON l.band = r.band AND l.band_sig = r.band_sig
            WHERE l.doc_id < r.doc_id
        ),
        sigv AS (
            SELECT doc_id, list(mh ORDER BY k) AS mhv FROM sigs GROUP BY doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST(len(list_filter(range(1, 17),
                            i -> ma.mhv[CAST(i AS INT)] = mb.mhv[CAST(i AS INT)]))
                            AS DOUBLE) / 16 AS est
                FROM cand c
                JOIN sigv ma ON ma.doc_id = c.doc_a
                JOIN sigv mb ON mb.doc_id = c.doc_b
            ) WHERE est >= 0.3
        ),
        rep_pairs AS (
            SELECT s.doc_a, s.doc_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6)
                       AS jaccard
            FROM scored s
            JOIN shingled a ON a.doc_id = s.doc_a
            JOIN shingled b ON b.doc_id = s.doc_b
            WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
        )
        SELECT rep_id AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM mem WHERE doc_id <> rep_id
        UNION ALL
        SELECT least(x.doc_id, y.doc_id) AS doc_a,
               greatest(x.doc_id, y.doc_id) AS doc_b, p.jaccard
        FROM rep_pairs p
        JOIN mem x ON x.rep_id = p.doc_a
        JOIN mem y ON y.rep_id = p.doc_b""",
    "q_simhash": """
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2147483647) AS h
            FROM toks
        ),
        bits AS (
            SELECT doc_id, i.i,
                   SUM(CASE WHEN (h // (CAST(1 AS BIGINT) << CAST(i.i AS INT))) % 2 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 32)) AS i) i
            GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id""",
    # r10: 64-bit simhash (two sequential token hashes), four 16-bit
    # bands + the shared affine-hash bucket cap -- mirrors
    # functions/dedup.py::simhash64 / simhash_pairs
    "q_simhash_pairs": f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, text FROM documents
        ),
        toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM corpus
        ),
        hashed AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(tok) + 1),
                               i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2147483647) AS h1
            FROM toks
        ),
        hashed2 AS (
            SELECT doc_id, h1,
                   ({_SK_A} * h1 + {_SK_B}) % {_SK_P} AS h2
            FROM hashed
        ),
        bits AS (
            SELECT doc_id, i.i,
                   SUM(CASE WHEN ((CASE WHEN i.i < 32 THEN h1 ELSE h2 END)
                            // (CAST(1 AS BIGINT) << CAST(i.i % 32 AS INT)))
                            % 2 = 1
                            THEN 1 ELSE -1 END) AS s
            FROM hashed2 CROSS JOIN (SELECT UNNEST(range(0, 63)) AS i) i
            GROUP BY 1, 2
        ),
        sigs AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, simhash, b.b AS band,
                   (simhash // (CAST(1 AS BIGINT) << CAST(16 * b.b AS INT)))
                       % 65536 AS val
            FROM sigs CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b) b
        ),""" + _dup_pair_cap_sql(val="val") + """
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
        FROM capped l JOIN capped r ON l.band = r.band AND l.val = r.val
        WHERE l.doc_id < r.doc_id
          AND bit_count(xor(l.simhash, r.simhash)) <= 3""",
    "q_text_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_txt,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(text, ' '),
                                        t -> CAST(length(t) AS BIGINT))),
                         (a, x) -> a + x) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS avg_token_len,
               round(CAST(len(list_filter(string_split(text, ' '),
                         t -> list_contains([{_STOP_SQL}], t))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS type_token_ratio
        FROM documents""",
    "q_token_count": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens
        FROM documents""",
    "q_doc_fingerprint": """
        SELECT doc_id, md5(text) AS md5_fp,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length(text) + 1),
                           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647) AS poly_fp
        FROM documents""",
    "q_lang_id": f"""
        WITH lex AS (SELECT * FROM (VALUES {_LEX_SQL}) AS l(lex_lang, word)),
        hits AS (
            SELECT doc_id, lex_lang, COUNT(*) AS hits
            FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents) t
            JOIN lex USING (word)
            GROUP BY 1, 2
        ),
        best AS (
            SELECT doc_id, lex_lang FROM (
                SELECT doc_id, lex_lang,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY hits DESC, lex_lang) AS rn
                FROM hits
            ) WHERE rn = 1
        )
        SELECT d.doc_id, COALESCE(b.lex_lang, 'und') AS pred_lang
        FROM documents d LEFT JOIN best b USING (doc_id)""",
    "q_dedup_corpus": _SHINGLES + """
        , sigv AS (
            SELECT doc_id, list(mh ORDER BY k) AS mhv FROM sigs GROUP BY doc_id
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM bands l JOIN bands r ON l.band = r.band AND l.band_sig = r.band_sig
            WHERE l.doc_id < r.doc_id
        ),
        scored AS (
            SELECT doc_a, doc_b, est, md5_a, md5_b FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST(len(list_filter(range(1, 17),
                            i -> ma.mhv[CAST(i AS INT)] = mb.mhv[CAST(i AS INT)]))
                            AS DOUBLE) / 16 AS est,
                       fa.md5_fp AS md5_a, fb.md5_fp AS md5_b
                FROM cand c
                JOIN sigv ma ON ma.doc_id = c.doc_a
                JOIN sigv mb ON mb.doc_id = c.doc_b
                JOIN md5s fa ON fa.doc_id = c.doc_a
                JOIN md5s fb ON fb.doc_id = c.doc_b
            ) WHERE est >= 0.7
        ),
        losers AS (
            SELECT DISTINCT doc_b AS doc_id FROM scored
            WHERE est = 1.0 AND md5_a = md5_b
            UNION
            SELECT DISTINCT s.doc_b AS doc_id
            FROM scored s
            JOIN shingled a ON a.doc_id = s.doc_a
            JOIN shingled b ON b.doc_id = s.doc_b
            WHERE NOT (s.est = 1.0 AND s.md5_a = s.md5_b)
              AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.9
        )
        SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    "q_label_centroids": """
        WITH dims AS (
            SELECT label, CAST(t.i - 1 AS INT) AS dim,
                   CAST(round(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000)
                        AS BIGINT) AS q
            FROM embeddings
            CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) t
        )
        SELECT label, dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sum_q,
               CAST(SUM(q) AS DOUBLE) / COUNT(*) AS centroid_q
        FROM dims GROUP BY label, dim""",
    # ------------------------------------------------- multimodal columns
    "q_media_meta": """
        WITH m AS (
            SELECT doc_id, text,
                   CAST(doc_id % 64 + 1 AS BIGINT) AS width,
                   CAST(doc_id % 48 + 1 AS BIGINT) AS height
            FROM documents
        )
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    ELSE 'webp' END AS format,
               CAST(length(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5,
               CAST(width * height AS BIGINT) AS n_pixels,
               width, height,
               CAST(GREATEST(FLOOR(width * CASE WHEN GREATEST(width, height) > 16
                        THEN CAST(16 AS DOUBLE) / GREATEST(width, height)
                        ELSE 1.0 END), 1) AS BIGINT) AS out_width,
               CAST(GREATEST(FLOOR(height * CASE WHEN GREATEST(width, height) > 16
                        THEN CAST(16 AS DOUBLE) / GREATEST(width, height)
                        ELSE 1.0 END), 1) AS BIGINT) AS out_height
        FROM m""",
    # pixel mean of the decoded PNG, computed codec-free from the tiling
    # formula: pixels = text bytes repeated over w*h, so
    # sum = floor(w*h/len)*sum(all bytes) + sum(first (w*h mod len) bytes)
    "q_decode_image": """
        WITH d AS (
            SELECT doc_id, text,
                   CAST(doc_id % 64 + 1 AS BIGINT) AS w,
                   CAST(doc_id % 48 + 1 AS BIGINT) AS h,
                   CAST(length(text) AS BIGINT) AS len
            FROM documents WHERE length(text) > 0
        ),
        s AS (
            SELECT doc_id, w, h, len,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, len + 1),
                           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                       (a, c) -> a + c) AS total,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, (w * h) % len + 1),
                           i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                       (a, c) -> a + c) AS prefix
            FROM d
        )
        SELECT doc_id, w AS width, h AS height, 'png' AS format,
               CAST((w * h // len) * total + prefix AS DOUBLE) / (w * h)
                   AS mean_byte
        FROM s""",
    "q_frame_sample": """
        SELECT d.doc_id, k.k AS frame_idx,
               CAST(k.k * 64 AS BIGINT) AS offset_byte,
               md5(substr(d.text, CAST(k.k * 64 + 1 AS INT), 64)) AS frame_hash
        FROM documents d
        CROSS JOIN (SELECT UNNEST(range(0, 4)) AS k) k
        WHERE k.k < LEAST(4, GREATEST(length(d.text) // 64, 1))""",
    "q_quality_score": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> list_contains([{_STOP_SQL}], t))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stop_ratio,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS ttr
            FROM documents
        ),
        sc AS (
            SELECT doc_id, stop_ratio, ttr,
                   CASE WHEN n >= 20 AND n <= 200 THEN CAST(1.0 AS DOUBLE)
                        WHEN n < 20 THEN CAST(n AS DOUBLE) / CAST(20.0 AS DOUBLE)
                        ELSE CAST(200.0 AS DOUBLE) / CAST(n AS DOUBLE) END AS len_score,
                   CASE WHEN stop_ratio >= CAST(0.05 AS DOUBLE)
                             AND stop_ratio <= CAST(0.4 AS DOUBLE)
                        THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END AS stop_score
            FROM s
        )
        SELECT doc_id,
               round(len_score, 6) AS len_score,
               round(stop_ratio, 6) AS stop_ratio,
               round(ttr, 6) AS ttr,
               round(len_score * CAST(0.4 AS DOUBLE) + stop_score * CAST(0.3 AS DOUBLE)
                     + ttr * CAST(0.3 AS DOUBLE), 6) AS quality,
               (round(len_score * CAST(0.4 AS DOUBLE) + stop_score * CAST(0.3 AS DOUBLE)
                      + ttr * CAST(0.3 AS DOUBLE), 6) >= CAST(0.5 AS DOUBLE)) AS keep
        FROM sc""",
    "q_cosine_topk": """
        WITH emb AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                                    (a, b) -> a + b)) AS nrm
            FROM emb
        ),
        scored AS (
            SELECT q.vec_id AS query_vec_id, e.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> q.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])),
                       (a, b) -> a + b) / (q.nrm * e.nrm) AS cos_exact
            FROM normed q JOIN normed e ON e.vec_id != q.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_vec_id, neighbor_id, round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= 10""",
    "q_embed_dedup": """
        WITH emb AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, label, v,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                                    (a, b) -> a + b)) AS nrm
            FROM emb
        )
        SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
                       (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
            FROM normed a JOIN normed b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cosine >= CAST(0.4 AS DOUBLE)""",
    "q_ann_lsh": """
        WITH emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                                    (a, b) -> a + b)) AS nrm,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(range(0, 8), p ->
                            CASE WHEN list_reduce(list_prepend(0.0,
                                     list_transform(range(1, 65), i ->
                                         v[CAST(i AS INT)] *
                                         (CASE WHEN (i * 2654435761 + p * 40503) % 97 < 48
                                               THEN 1.0 ELSE -1.0 END))),
                                     (a, b) -> a + b) > 0
                                 THEN CAST(1 AS BIGINT) << CAST(p AS INT)
                                 ELSE CAST(0 AS BIGINT) END)),
                        (a, b) -> a + b) AS BIGINT) AS bucket
            FROM emb
        ),
        scored AS (
            SELECT q.vec_id AS query_vec_id, e.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> q.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])),
                       (a, b) -> a + b) / (q.nrm * e.nrm) AS cos_exact
            FROM normed q JOIN normed e ON e.bucket = q.bucket AND e.vec_id != q.vec_id
            WHERE q.vec_id < 5
        )
        SELECT query_vec_id, neighbor_id, round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= 5""",
    "q_ivf_topk": """
        WITH emb AS (
            SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, label, v,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                                    (a, b) -> a + b)) AS nrm
            FROM emb
        ),
        dims AS (
            SELECT label, CAST(t.i - 1 AS INT) AS dim,
                   CAST(round(v[CAST(t.i AS INT)] * 1000000) AS BIGINT) AS q
            FROM emb CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) t
        ),
        cent AS (
            SELECT label AS cell, dim,
                   CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS c
            FROM dims GROUP BY 1, 2
        ),
        cnormed AS (
            SELECT cell, cv,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)),
                                    (a, b) -> a + b)) AS cnrm
            FROM (SELECT cell, list(c ORDER BY dim) AS cv FROM cent GROUP BY cell)
        ),
        cscored AS (
            SELECT vec_id, v, nrm, cell, cscore,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cscore DESC, cell) AS crn
            FROM (
                SELECT n.vec_id, n.v, n.nrm, c.cell,
                       list_reduce(list_prepend(0.0,
                           list_transform(range(1, 65),
                               i -> n.v[CAST(i AS INT)] * c.cv[CAST(i AS INT)])),
                           (a, b) -> a + b) / (n.nrm * c.cnrm) AS cscore
                FROM normed n CROSS JOIN cnormed c
            )
        ),
        assign AS (SELECT cell, vec_id, v, nrm FROM cscored WHERE crn = 1),
        probes AS (
            SELECT cell, vec_id AS query_vec_id, v AS qv, nrm AS qn
            FROM cscored WHERE vec_id < 5 AND crn <= 2
        ),
        cand AS (
            SELECT p.query_vec_id, a.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> p.qv[CAST(i AS INT)] * a.v[CAST(i AS INT)])),
                       (x, y) -> x + y) / (p.qn * a.nrm) AS cos_exact
            FROM probes p JOIN assign a USING (cell)
            WHERE a.vec_id != p.query_vec_id
        )
        SELECT query_vec_id, neighbor_id, round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, neighbor_id) AS rn
            FROM cand
        ) WHERE rn <= 5""",
}


def _kmeans_assign_ctes(
    n_cells: int, iters: int, fit_where: str | None = None
) -> list[str]:
    """The ``iters`` deterministic Lloyd iterations of ``kmeans_fit``
    unrolled as CTEs (init = the ``n_cells`` lowest vec_ids; assignment =
    argmax cosine with ties to the lower cell; re-estimation =
    integer-quantized per-dimension means), ending with ``cscored``
    (final scoring + rank) and ``assign`` (cell, vec_id, v, nrm).  Shared
    by the q_ann_topk and q_semantic_dedup oracles; every float fold is
    the identical left-fold expression tree as the Spark plan, so the fit
    hash-matches bit-exactly.

    ``fit_where`` (r12, the sampled-fit mirror): when given, the init
    and every Lloyd iteration read only ``normed`` rows satisfying the
    predicate (the engine's ``kmeans_fit(sample_fraction=...)`` hash
    filter), while the final ``cscored``/``assign`` still score the
    FULL corpus against the sampled-fit centroids."""
    dot_vc = """list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> n.v[CAST(i AS INT)] * c.cv[CAST(i AS INT)])),
                       (a, b) -> a + b)"""
    ctes = [
        """emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )""",
        """normed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                                    (a, b) -> a + b)) AS nrm
            FROM emb
        )""",
        (
            "fitset AS (SELECT * FROM normed"
            + (f" WHERE {fit_where})" if fit_where else ")")
        ),
        f"""c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
                   v AS cv,
                   nrm AS cnrm
            FROM (SELECT * FROM fitset ORDER BY vec_id LIMIT {n_cells})
        )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""s{t} AS (
            SELECT vec_id, v, cell, cscore FROM (
                SELECT n.vec_id, n.v, c.cell,
                       {dot_vc} / (n.nrm * c.cnrm) AS cscore
                FROM fitset n CROSS JOIN c{t} c
            )
        )"""
        )
        ctes.append(
            f"""a{t} AS (
            SELECT cell, vec_id, v FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cscore DESC, cell) AS rn
                FROM s{t}
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""d{t} AS (
            SELECT cell, CAST(u.i - 1 AS INT) AS dim,
                   CAST(round(v[CAST(u.i AS INT)] * 1000000) AS BIGINT) AS q
            FROM a{t} CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) u
        )"""
        )
        ctes.append(
            f"""m{t} AS (
            SELECT cell, dim, CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS c
            FROM d{t} GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""c{t + 1} AS (
            SELECT cell, cv,
                   sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x * x)),
                                    (a, b) -> a + b)) AS cnrm
            FROM (SELECT cell, list(c ORDER BY dim) AS cv FROM m{t} GROUP BY cell)
        )"""
        )
    ctes.append(
        f"""cscored AS (
            SELECT vec_id, v, nrm, cell, cscore,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cscore DESC, cell) AS crn
            FROM (
                SELECT n.vec_id, n.v, n.nrm, c.cell,
                       {dot_vc} / (n.nrm * c.cnrm) AS cscore
                FROM normed n CROSS JOIN c{iters} c
            )
        )"""
    )
    ctes.append(
        """assign AS (SELECT cell, vec_id, v, nrm FROM cscored WHERE crn = 1)"""
    )
    return ctes


def _ann_topk_oracle(
    n_cells: int = 8, iters: int = 5, nprobe: int = 3, n_queries: int = 5,
    k: int = 10, fit_where: str | None = None,
) -> str:
    """DuckDB oracle for ``q_ann_topk``: the shared unrolled k-means fit
    (``_kmeans_assign_ctes``), then the same probe/re-rank tail as the
    q_ivf_topk oracle.  ``fit_where`` passes through to the fit CTEs
    (the q_sampled_fit mirror)."""
    ctes = _kmeans_assign_ctes(n_cells, iters, fit_where=fit_where)
    ctes.append(
        f"""probes AS (
            SELECT cell, vec_id AS query_vec_id, v AS qv, nrm AS qn
            FROM cscored WHERE vec_id < {n_queries} AND crn <= {nprobe}
        )"""
    )
    ctes.append(
        """cand AS (
            SELECT p.query_vec_id, a.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> p.qv[CAST(i AS INT)] * a.v[CAST(i AS INT)])),
                       (x, y) -> x + y) / (p.qn * a.nrm) AS cos_exact
            FROM probes p JOIN assign a USING (cell)
            WHERE a.vec_id != p.query_vec_id
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT query_vec_id, neighbor_id, round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, neighbor_id) AS rn
            FROM cand
        ) WHERE rn <= {k}"""
    )


ORACLES["q_ann_topk"] = _ann_topk_oracle()


def _semantic_dedup_oracle(
    n_cells: int = 8, iters: int = 5, threshold: float = 0.3
) -> str:
    """r5: SemDeDup -- the shared unrolled k-means fit, then exact
    within-cell pairwise cosine (the fixture's cells are all far below
    the skew-guard cap, so no sub-blocking appears here, matching the
    Spark plan's behavior at this scale)."""
    ctes = _kmeans_assign_ctes(n_cells, iters)
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_reduce(list_prepend(0.0,
                   list_transform(range(1, 65),
                       i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
                   (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
        FROM assign a JOIN assign b USING (cell)
        WHERE a.vec_id < b.vec_id
          AND round(list_reduce(list_prepend(0.0,
                  list_transform(range(1, 65),
                      i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
                  (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= {threshold}"""
    )


ORACLES.update({
    "q_ngram_jaccard": """
        WITH sub AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> string_split(text, ' ')[CAST(i AS INT)] || ' '
                            || string_split(text, ' ')[CAST(i AS INT) + 1] || ' '
                            || string_split(text, ' ')[CAST(i AS INT) + 2]
                   )) AS g
            FROM documents WHERE doc_id < 40 AND len(string_split(text, ' ')) >= 3
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
        FROM sub a JOIN sub b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / len(list_distinct(list_concat(a.g, b.g))) >= 0.01""",
    "q_sliding_agg": """
        WITH e AS (
            SELECT epoch_ms(ts) AS ms, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT w AS window_start_ms, w + 3600000 AS window_end_ms,
               COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM (
            SELECT ((ms // 1800000) - k.k) * 1800000 AS w, cents
            FROM e CROSS JOIN (SELECT UNNEST(range(0, 2)) AS k) k
        ) GROUP BY 1, 2""",
})

# Round-3 additions (temporal joins, sketches, rollup).  The oracle
# formulations are deliberately DIFFERENT algorithms from the Spark plans
# (join-then-rank vs union-merge for the as-of join; theta join vs
# bucketed equi-join for the range join)
# so they are independent checks, not mirrors.  Float constants are
# inlined from the same Python values the Spark side uses (repr round-trips
# doubles exactly).


def _sketch_oracle() -> dict[str, str]:
    from .functions.sketch import (
        HASH_A,
        HASH_B,
        HASH_P,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_SCALE,
        HLL_W_BITS,
        KMV_K,
    )

    kmv_num = repr(float((KMV_K - 1) * HASH_P))
    rho_branches = "\n               ".join(
        f"WHEN w >= {1 << (HLL_W_BITS - i)} THEN {i}" for i in range(1, HLL_W_BITS + 1)
    )
    return {
        "q_kmv_distinct": f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   ({HASH_A} * user_id + {HASH_B}) % {HASH_P} AS h
            FROM events
        ),
        ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM h
        ),
        agg AS (
            SELECT event_type, COUNT(*) AS n_exact,
                   MAX(CASE WHEN rn = {KMV_K} THEN h END) AS hk
            FROM ranked GROUP BY 1
        )
        SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
               round(CASE WHEN n_exact >= {KMV_K} THEN {kmv_num} / hk
                          ELSE CAST(n_exact AS DOUBLE) END, 6) AS kmv_estimate
        FROM agg""",
        "q_hll_distinct": f"""
        WITH b AS (
            SELECT event_type,
                   (({HASH_A} * user_id + {HASH_B}) % {HASH_P}) % {HLL_M} AS bucket,
                   (({HASH_A} * user_id + {HASH_B}) % {HASH_P}) // {HLL_M} AS w
            FROM events
        ),
        r AS (
            SELECT event_type, bucket,
                   MAX(CASE
               {rho_branches}
               ELSE {HLL_W_BITS + 1} END) AS m_j
            FROM b GROUP BY 1, 2
        ),
        s AS (
            SELECT event_type,
                   CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W_BITS + 1} - m_j)) AS BIGINT)
                       AS s_present,
                   COUNT(*) AS n_buckets
            FROM r GROUP BY 1
        ),
        x AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
            FROM events GROUP BY 1
        )
        SELECT s.event_type, CAST(x.n_exact AS BIGINT) AS n_exact,
               round({HLL_ALPHA_NUM!r}
                     / CAST(s_present + ({HLL_M} - n_buckets) * {HLL_SCALE} AS DOUBLE),
                     6) AS hll_estimate,
               CAST({HLL_M} - n_buckets AS BIGINT) AS zero_buckets
        FROM s JOIN x USING (event_type)""",
    }


ORACLES.update(_sketch_oracle())
ORACLES.update(
    {
        "q_asof_join": """
        WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
        o AS (
            SELECT o_custkey, epoch_ms(o_orderdate) AS oms, o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT event_id, user_id, ts_ms,
               o_orderkey AS asof_orderkey, cents AS asof_price_cents
        FROM (
            SELECT e.event_id, e.user_id, e.ts_ms, o.o_orderkey, o.cents,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.oms DESC NULLS LAST,
                                o.o_orderkey DESC NULLS LAST) AS rn
            FROM e LEFT JOIN o
                ON o.o_custkey = e.user_id AND o.oms <= e.ts_ms
        ) WHERE rn = 1""",
        "q_range_join": oracle_analysis("""
        SELECT b.query_id, b.batch_id, COUNT(*) AS n_events,
               CAST(SUM(e.cents) AS BIGINT) AS sum_cents
        FROM bounds2 b
        JOIN (SELECT epoch_ms(ts) AS ms,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events) e
            ON e.ms >= b.start_ms AND e.ms < b.end_ms
        GROUP BY 1, 2"""),
        "q_time_rollup": """
        WITH e AS (
            SELECT epoch_ms(ts) // 86400000 AS day_idx,
                   (epoch_ms(ts) % 86400000) // 3600000 AS hr,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT day_idx, hr, CAST(GROUPING(day_idx, hr) AS BIGINT) AS gid,
               COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM e GROUP BY ROLLUP(day_idx, hr)""",
        # histogram-quantile semantics ARE the contract (bin upper bound),
        # so the SQL states the same definition over the same integer bins
        "q_hist_quantiles": """
        WITH b AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) // 500 AS bin,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bin, c,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM b
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
               CAST((MIN(CASE WHEN cum * 100 >= 50 * n THEN bin END) + 1) * 500
                    AS BIGINT) AS p50_ub_cents,
               CAST((MIN(CASE WHEN cum * 100 >= 95 * n THEN bin END) + 1) * 500
                    AS BIGINT) AS p95_ub_cents,
               CAST((MIN(CASE WHEN cum * 100 >= 99 * n THEN bin END) + 1) * 500
                    AS BIGINT) AS p99_ub_cents
        FROM cum GROUP BY 1""",
    }
)


# ------------------------------------------- r4 extension oracles
# The dedup-clusters oracle REUSES the q_minhash_lsh SQL verbatim as its
# edge set (single source of truth) and computes connected components with
# a RECURSIVE CTE -- a genuinely different algorithm from the Spark side's
# iterative min-label propagation, so the check is independent.


def _r4_extension_oracles() -> dict[str, str]:
    from .functions.sampling import _threshold
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    pairs_sql = ORACLES["q_minhash_lsh"]
    marker = "SELECT rep_id AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard"
    head, tail = pairs_sql.split(marker, 1)
    cluster_sql = (
        head.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
        + ", edges AS (\n"
        + marker
        + tail
        + """
        ),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT doc_a AS node FROM edges
                UNION ALL SELECT doc_b FROM edges
            )
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION SELECT doc_b, doc_a FROM edges
        ),
        cc(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT s.src, MIN(c.label)
            FROM cc c JOIN sym s ON s.dst = c.node
            GROUP BY s.src
        ),
        final AS (SELECT node, MIN(label) AS cluster_id FROM cc GROUP BY node)
        SELECT CAST(node AS BIGINT) AS doc_id,
               CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS cluster_size
        FROM final"""
    )
    hash_expr = f"({HASH_A} * event_id + {HASH_B}) % {HASH_P}"
    return {
        "q_hash_sample": f"""
        SELECT event_id, user_id, event_type FROM events
        WHERE {hash_expr} < {_threshold(0.1)}""",
        "q_stratified_sample": f"""
        SELECT event_id, user_id, event_type FROM (
            SELECT event_id, user_id, event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY {hash_expr}, event_id) AS rn
            FROM events
        ) WHERE rn <= 5""",
        "q_tfidf_topk": """
        WITH postings AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM postings WHERE term != '' GROUP BY 1, 2
        ),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df,
               round(CAST(tf * n_docs AS DOUBLE) / df, 6) AS score
        FROM (
            SELECT t.doc_id, t.term, t.tf, d.df, n.n_docs,
                   row_number() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY round(CAST(t.tf * n.n_docs AS DOUBLE) / d.df,
                                      6) DESC,
                                t.term) AS rn
            FROM tf t JOIN dfq d USING (term) CROSS JOIN nd n
        ) WHERE rn <= 5""",
        "q_dedup_clusters": cluster_sql,
    }


ORACLES.update(_r4_extension_oracles())


# ------------------------------------------- r4b extension oracles
# count-min / bloom-prune / int8-quantized top-k.  The bloom oracle is the
# plain semi-join: the Bloom stage is result-invariant by construction (no
# false negatives; the exact join kills false positives), so result
# equality IS the check that the prune lost nothing -- the pruning /
# no-false-negative properties themselves are pinned in
# tests/test_extensions_r4b.py.

def _r4b_extension_oracles() -> dict[str, str]:
    from .functions.sketch import CMS_A, CMS_B, CMS_D, CMS_W, HASH_P

    def cell(i: int, key: str) -> str:
        return f"(({CMS_A[i]} * {key} + {CMS_B[i]}) % {HASH_P}) % {CMS_W}"

    cms_cells = "\n            UNION ALL ".join(
        f"SELECT {i} AS r, {cell(i, 'user_id')} AS c FROM events"
        for i in range(CMS_D)
    )
    cms_probes = "\n            UNION ALL ".join(
        f"SELECT key, n_exact, {i} AS r, {cell(i, 'key')} AS c FROM keys"
        for i in range(CMS_D)
    )
    return {
        "q_count_min": f"""
        WITH keys AS (
            SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_exact
            FROM events GROUP BY 1
        ),
        cells AS (
            SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            {cms_cells}
            ) GROUP BY 1, 2
        ),
        probes AS (
            {cms_probes}
        )
        SELECT CAST(key AS BIGINT) AS user_id, n_exact,
               CAST(MIN(cnt) AS BIGINT) AS cm_estimate
        FROM probes JOIN cells USING (r, c)
        GROUP BY 1, 2
        ORDER BY cm_estimate DESC, user_id LIMIT 20""",
        "q_bloom_prune": """
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )""",
        "q_quantized_topk": """
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding, x -> greatest(-127, least(127,
                       CAST(round(CAST(x AS DOUBLE) * 256) AS INT)))) AS qv
            FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS query_vec_id, b.vec_id AS neighbor_id,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, 65),
                           i -> CAST(a.qv[CAST(i AS INT)]
                                     * b.qv[CAST(i AS INT)] AS BIGINT))),
                       (x, y) -> x + y) AS BIGINT) AS dot_q8
            FROM q a JOIN q b ON b.vec_id != a.vec_id
            WHERE a.vec_id < 5
        )
        SELECT query_vec_id, neighbor_id, dot_q8 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY dot_q8 DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= 10""",
    }


ORACLES.update(_r4b_extension_oracles())


# ------------------------------------------- r4c extension oracles
# repetition / PII redaction / boilerplate removal.  The repetition oracle
# deliberately uses the OPPOSITE algorithm from the Spark plan (explode +
# GROUP BY + max(count) vs the zero-shuffle sorted-array run-length fold)
# so the check is independent; PII/boilerplate reproduce the deterministic
# corpus injection verbatim, then check the full redaction/removal output
# by md5 + length.

def _r4c_extension_oracles() -> dict[str, str]:
    from .functions.text import (
        BOILERPLATE_MIN_DOC_FRAC,
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    pii_prelude = """
        WITH pii AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                 THEN ' host 10.' || (doc_id % 256) || '.'
                      || ((doc_id // 256) % 256) || '.' || (doc_id % 100)
                 ELSE '' END
              AS text
            FROM documents
        )
    """
    bp_prelude = """
        WITH bp AS (
            SELECT doc_id,
              concat_ws(chr(10),
                CASE WHEN doc_id % 2 = 0
                     THEN 'copyright acme corp all rights reserved' END,
                CASE WHEN doc_id % 3 = 0
                     THEN 'subscribe to our newsletter for updates' END,
                text,
                CASE WHEN doc_id % 4 = 0
                     THEN 'privacy policy terms of service' END
              ) AS text
            FROM documents
        )
    """
    return {
        "q_repetition": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        tok_counts AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2
        ),
        big_counts AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(t)),
                       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]))
                       AS bg
                FROM toks
            ) GROUP BY 1, 2
        ),
        agg AS (
            SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, MAX(c) AS topc
            FROM tok_counts GROUP BY 1
        ),
        bagg AS (SELECT doc_id, MAX(c) AS topb FROM big_counts GROUP BY 1)
        SELECT a.doc_id,
               CAST(a.n AS BIGINT) AS n_tokens,
               round(1.0 - a.nd / CAST(a.n AS DOUBLE), 6) AS dup_token_frac,
               round(a.topc / CAST(a.n AS DOUBLE), 6) AS top_token_frac,
               CASE WHEN a.n > 1
                    THEN round(b.topb / CAST(a.n - 1 AS DOUBLE), 6)
               END AS top_bigram_frac
        FROM agg a LEFT JOIN bagg b USING (doc_id)""",
        "q_pii_redact": pii_prelude + f"""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
              AS n_emails,
          CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
              AS n_phones,
          CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT) AS n_ips,
          CAST(length(clean) AS BIGINT) AS clean_len,
          md5(clean) AS clean_md5
        FROM (
          SELECT doc_id, text,
            regexp_replace(
              regexp_replace(
                regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                '{PII_IP_RE}', '<IP>', 'g'),
              '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean
          FROM pii
        )""",
        "q_boilerplate": bp_prelude + f"""
        , lines AS (
            SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM bp)
        ),
        freq AS (
            SELECT line FROM lines GROUP BY line
            HAVING COUNT(DISTINCT doc_id) >=
                   {BOILERPLATE_MIN_DOC_FRAC} *
                   (SELECT COUNT(DISTINCT doc_id) FROM bp)
        ),
        kept AS (
            SELECT doc_id, pos, line FROM lines
            WHERE line NOT IN (SELECT line FROM freq)
        ),
        rebuilt AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean
            FROM kept GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
               COALESCE(r.n_kept, 0) AS n_kept,
               CAST(length(COALESCE(r.clean, '')) AS BIGINT) AS clean_len,
               md5(COALESCE(r.clean, '')) AS clean_md5
        FROM bp s LEFT JOIN rebuilt r USING (doc_id)""",
    }


ORACLES.update(_r4c_extension_oracles())


# ------------------------------------------- r4d extension oracles
# decontamination / sequence packing / random projection.  The trigram
# shingling and the per-shard running-offset window are reproduced in
# independent DuckDB SQL; the projection signs are Python literals embedded
# verbatim in BOTH engines (no cross-engine hash arithmetic), with the
# float fold in the same left-to-right order on both sides.

def _r4d_extension_oracles() -> dict[str, str]:
    from .functions.similarity import RP_IN_DIM, RP_OUT_DIM, rp_signs
    from .functions.text import (
        DECONTAM_BENCH_MOD,
        DECONTAM_THRESHOLD,
        PACK_N_SHARDS,
        PACK_SEQ_LEN,
    )

    signs = rp_signs()
    # CAST: bare 1.0 literals parse as DECIMAL in DuckDB; the fold must be
    # pure double arithmetic to match Spark bit-for-bit
    sign_lists = ", ".join(
        "CAST(["
        + ", ".join(f"{s:.1f}" for s in signs[k])
        + f"] AS DOUBLE[]) AS sk{k}"
        for k in range(RP_OUT_DIM)
    )
    proj = ", ".join(
        f"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {RP_IN_DIM + 1}),
                   i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * sk{k}[CAST(i AS INT)])),
               (a, x) -> a + x), 6) AS p{k}"""
        for k in range(RP_OUT_DIM)
    )
    sig_bits = " + ".join(
        f"CASE WHEN p{k} > 0 THEN {1 << k} ELSE 0 END" for k in range(RP_OUT_DIM)
    )
    return {
        "q_decontaminate": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        tri AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 3 THEN list_distinct(
                       list_transform(range(1, len(t) - 1),
                           i -> t[CAST(i AS INT)] || ' '
                                || t[CAST(i AS INT) + 1] || ' '
                                || t[CAST(i AS INT) + 2]))
                   ELSE CAST([] AS VARCHAR[]) END AS sh
            FROM toks
        ),
        bench AS (
            SELECT DISTINCT unnest(sh) AS g FROM tri
            WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
        ),
        train AS (
            SELECT doc_id, sh FROM tri WHERE doc_id % {DECONTAM_BENCH_MOD} != 0
        ),
        hits AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM (SELECT doc_id, unnest(sh) AS g FROM train) e
            JOIN bench USING (g)
            GROUP BY 1
        )
        SELECT t.doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
               coalesce(n_hits, 0) AS n_hits,
               round(coalesce(n_hits, 0) / greatest(len(sh), 1), 6) AS contam_frac,
               round(coalesce(n_hits, 0) / greatest(len(sh), 1), 6)
                   >= {DECONTAM_THRESHOLD} AS flagged
        FROM train t LEFT JOIN hits USING (doc_id)""",
        "q_pack_sequences": f"""
        WITH base AS (
            SELECT doc_id, CAST(doc_id % {PACK_N_SHARDS} AS INT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        off AS (
            -- CAST is load-bearing: a windowed SUM in DuckDB is HUGEINT
            -- (Arrow decimal128(38,0)); the driver's value hash is
            -- type-sensitive, so the uncast running sum red-flagged this
            -- query in CORRECTNESS_r05 even though every value equalled
            -- Spark's int64.
            SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY doc_id)
                      - n_tokens AS BIGINT) AS token_offset
            FROM base
        )
        SELECT doc_id, shard, n_tokens, token_offset,
               CAST(token_offset // {PACK_SEQ_LEN} AS BIGINT) AS first_seq,
               CAST((token_offset + n_tokens - 1) // {PACK_SEQ_LEN} AS BIGINT)
                   AS last_seq,
               CAST((token_offset + n_tokens - 1) // {PACK_SEQ_LEN}
                    - token_offset // {PACK_SEQ_LEN} + 1 AS BIGINT) AS n_seqs
        FROM off""",
        "q_random_project": f"""
        WITH s AS (SELECT {sign_lists}),
        projected AS (
            SELECT vec_id, label, {proj}
            FROM embeddings CROSS JOIN s
        )
        SELECT *, CAST({sig_bits} AS BIGINT) AS srp_sig FROM projected""",
        # the two-pass sharded id assignment must reproduce the global
        # row_number exactly -- the oracle IS the naive global sort
        "q_assign_row_ids": """
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
        FROM documents""",
    }


ORACLES.update(_r4d_extension_oracles())


# ------------------------------------------- r4f extension oracles
# mixture sampling (r5, integer-exact): weights are fixed-point integers
# (round(p * 1e6)), T_scaled = min(n * 1e6 // ps) is integer floor
# division, and the keep test is the cross-multiplied integer comparison
# h * n * 1e6 < HASH_P * ps * T_scaled (HUGEINT in DuckDB, decimal(38,0)
# in Spark) -- no float division anywhere, so the kept set is
# engine-independent by construction (r4 verdict #7).  cms_windowed: same
# affine cells as the r4b count-min oracle, bucketed to epoch-aligned
# hours (`//` floors == Spark window start for the nonnegative fixture ms).

def _r4f_extension_oracles() -> dict[str, str]:
    from .functions.sampling import WEIGHT_SCALE
    from .functions.sketch import CMS_A, CMS_B, CMS_D, CMS_W, HASH_A, HASH_B, HASH_P

    w_values = ", ".join(
        f"('{s}', {int(round(p * WEIGHT_SCALE))})" for s, p in MIXTURE_WEIGHTS.items()
    )
    cms_cells = "\n            UNION ALL ".join(
        f"SELECT (ms // 3600000) * 3600000 AS window_start_ms, {i} AS r,"
        f" (({CMS_A[i]} * user_id + {CMS_B[i]}) % {HASH_P}) % {CMS_W} AS c"
        " FROM e"
        for i in range(CMS_D)
    )
    return {
        "q_mixture_sample": f"""
        WITH w AS (SELECT * FROM (VALUES {w_values}) AS w(lang, ps)),
        counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY 1
        ),
        avail AS (SELECT counts.lang, n, ps FROM counts JOIN w USING (lang)),
        t AS (SELECT MIN((n * {WEIGHT_SCALE}) // ps) AS t_scaled FROM avail),
        thr AS (
            SELECT lang,
                   CAST(n AS HUGEINT) * {WEIGHT_SCALE} AS lhsf,
                   CAST({HASH_P} AS HUGEINT) * ps * t_scaled AS rhs
            FROM avail CROSS JOIN t
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN thr USING (lang)
        WHERE CAST(({HASH_A} * doc_id + {HASH_B}) % {HASH_P} AS HUGEINT)
              * lhsf < rhs""",
        "q_cms_windowed": f"""
        WITH e AS (SELECT epoch_ms(ts) AS ms, user_id FROM events),
        cells AS (
            {cms_cells}
        )
        SELECT window_start_ms, r, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2, 3""",
    }


ORACLES.update(_r4f_extension_oracles())


def _hdr_quantiles_oracle() -> dict[str, str]:
    """r5: the HDR log-bucket sketch's independent DuckDB form -- same
    integer bucket edges (binary-string length for floor(log2), integer
    shifts), same permille rank selection; no float log anywhere."""
    from .functions.sketch import HDR_P_BITS

    p = HDR_P_BITS
    fine_max = 1 << p
    eb = f"(length(printf('%b', x)) - 1 - {p})"
    picks = ",\n               ".join(
        f"CAST(MIN(CASE WHEN cum * 1000 >= {pm} * n THEN lo + w END)"
        f" AS BIGINT) AS p{pm}_ub_cents"
        for pm in (500, 950, 990, 999)
    )
    return {
        "q_hdr_quantiles": f"""
        WITH v AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ),
        b AS (
            SELECT event_type,
                   CASE WHEN x < {fine_max} THEN x
                        ELSE (x >> {eb}) << {eb} END AS lo,
                   CASE WHEN x < {fine_max} THEN CAST(1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) << {eb} END AS w
            FROM v
        ),
        g AS (
            SELECT event_type, lo, w, COUNT(*) AS c FROM b GROUP BY 1, 2, 3
        ),
        cum AS (
            SELECT event_type, lo, w, c,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY lo
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM g
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
               {picks}
        FROM cum GROUP BY 1""",
        "q_hdr_windowed": f"""
        WITH v AS (
            SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
                   event_type, CAST(round(value * 100) AS BIGINT) AS x
            FROM events
        ),
        b AS (
            SELECT window_start_ms, event_type,
                   CASE WHEN x < {fine_max} THEN x
                        ELSE (x >> {eb}) << {eb} END AS lo,
                   CASE WHEN x < {fine_max} THEN CAST(1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) << {eb} END AS w
            FROM v
        )
        SELECT window_start_ms, event_type, lo, w,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2, 3, 4""",
    }


ORACLES.update(_hdr_quantiles_oracle())


def _r5_text_oracles() -> dict[str, str]:
    """r5: quality classifier (weights inlined as a list literal, same
    char-fold hash as q_doc_fingerprint) and sliding-window chunking
    (correlated UNNEST over the integer chunk-count range)."""
    from .functions.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        QC_DIM,
        QC_THRESHOLD_MILLI,
        qc_weights,
    )

    w_list = "[" + ", ".join(str(x) for x in qc_weights()) + "]"

    def fold(expr: str) -> str:
        # inner lambda var is `ci`, NOT `i`: the bigram caller embeds this
        # inside list_transform(range(...), i -> ...) and DuckDB lambda
        # variables shadow lexically -- an inner `i` would silently hash
        # character positions instead of the outer token index
        return f"""list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, length({expr}) + 1),
                           ci -> CAST(ascii(substr({expr}, CAST(ci AS INT), 1))
                                AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647)"""

    sz, st = CHUNK_TOKENS, CHUNK_STRIDE
    return {
        "q_quality_classifier": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        feats AS (
            SELECT doc_id,
                   list_concat(
                       list_transform(toks, tok -> {fold('tok')} % {QC_DIM}),
                       CASE WHEN len(toks) >= 2 THEN
                           list_transform(range(1, len(toks)),
                               i -> {fold("(toks[CAST(i AS INT)] || '_' || toks[CAST(i + 1 AS INT)])")} % {QC_DIM})
                       ELSE [] END
                   ) AS fs
            FROM t
        ),
        scored AS (
            SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(fs,
                            b -> CAST(({w_list})[CAST(b + 1 AS INT)] AS BIGINT))),
                        (a, x) -> a + x) AS BIGINT) AS score_milli
            FROM feats
        )
        SELECT doc_id, n_feats, score_milli,
               score_milli >= {QC_THRESHOLD_MILLI} AS keep
        FROM scored""",
        "q_chunk_docs": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        ks AS (
            SELECT doc_id, toks,
                   greatest(0, (len(toks) - {sz} + {st - 1}) // {st}) AS k_max
            FROM t
        ),
        e AS (
            SELECT doc_id, toks, UNNEST(range(0, k_max + 1)) AS k FROM ks
        )
        SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
               CAST(k * {st} AS BIGINT) AS start_tok,
               CAST(len(list_slice(toks, CAST(k * {st} + 1 AS INT),
                                   CAST(k * {st} + {sz} AS INT))) AS BIGINT)
                   AS n_toks,
               md5(array_to_string(
                   list_slice(toks, CAST(k * {st} + 1 AS INT),
                              CAST(k * {st} + {sz} AS INT)), ' ')) AS chunk_md5
        FROM e""",
    }


ORACLES.update(_r5_text_oracles())


def _r5_pipeline_oracles() -> dict[str, str]:
    """r5: chunk-level dedup (reuses the q_chunk_docs chunk CTE), the
    per-source manifest, and the deterministic hash-order corpus shuffle
    (oracle = the naive global row_number over the hash order)."""
    from .functions.sampling import HASH_A, HASH_B, HASH_P
    from .functions.text import CHUNK_STRIDE, CHUNK_TOKENS

    sz, st = CHUNK_TOKENS, CHUNK_STRIDE
    chunk_cte = f"""t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        ks AS (
            SELECT doc_id, toks,
                   greatest(0, (len(toks) - {sz} + {st - 1}) // {st}) AS k_max
            FROM t
        ),
        e AS (
            SELECT doc_id, toks, UNNEST(range(0, k_max + 1)) AS k FROM ks
        ),
        c AS (
            SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
                   CAST(len(list_slice(toks, CAST(k * {st} + 1 AS INT),
                                       CAST(k * {st} + {sz} AS INT)))
                        AS BIGINT) AS n_toks,
                   md5(array_to_string(
                       list_slice(toks, CAST(k * {st} + 1 AS INT),
                                  CAST(k * {st} + {sz} AS INT)), ' '))
                       AS chunk_md5
            FROM e
        )"""
    return {
        "q_chunk_dedup": f"""
        WITH {chunk_cte},
        m AS (
            SELECT chunk_md5, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS dup_count,
                   CAST(MAX(n_toks) AS BIGINT) AS n_toks
            FROM c GROUP BY 1
        )
        SELECT m.chunk_md5, m.keep_doc_id,
               CAST(MIN(c.chunk_idx) AS BIGINT) AS keep_chunk_idx,
               m.dup_count, m.n_toks
        FROM m JOIN c ON c.chunk_md5 = m.chunk_md5
                     AND c.doc_id = m.keep_doc_id
        GROUP BY 1, 2, 4, 5""",
        "q_source_manifest": """
        SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               round(CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS avg_doc_tokens
        FROM documents GROUP BY 1, 2""",
        "q_corpus_shuffle": f"""
        WITH h AS (
            SELECT doc_id,
                   ({HASH_A} * doc_id + {HASH_B}) % {HASH_P} AS hv
            FROM documents
        )
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY hv) - 1 AS BIGINT)
                   AS shuffle_pos,
               CAST((row_number() OVER (ORDER BY hv) - 1) % 32 AS INT)
                   AS shard
        FROM h""",
    }


ORACLES.update(_r5_pipeline_oracles())


def _pq_oracles() -> dict[str, str]:
    """r5: product quantization -- the m jointly-fit codebooks unrolled as
    CTEs (grouped Lloyd keyed by (sub, cell), same determinism contract as
    the q_ann_topk oracle), ADC scoring as integer sums, and the exact
    cosine re-rank over the ADC shortlist."""
    from .functions.pq import PQ_ITERS, PQ_K, PQ_M, PQ_SHORTLIST, PQ_SUB_DIM

    m, k, sd, iters = PQ_M, PQ_K, PQ_SUB_DIM, PQ_ITERS

    def l2(a: str, b: str) -> str:
        return f"""list_reduce(list_prepend(0.0,
                   list_transform(range(1, {sd + 1}),
                       li -> ({a}[CAST(li AS INT)] - {b}[CAST(li AS INT)])
                           * ({a}[CAST(li AS INT)] - {b}[CAST(li AS INT)]))),
                   (lx, ly) -> lx + ly)"""

    ctes = [
        """emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )""",
        f"""sv AS (
            SELECT vec_id, CAST(u.s AS INT) AS sub,
                   list_slice(v, CAST(u.s * {sd} + 1 AS INT),
                              CAST(u.s * {sd} + {sd} AS INT)) AS svec
            FROM emb CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s) u
        )""",
        f"""c0 AS (
            SELECT sub, CAST(rn - 1 AS INT) AS cell, svec AS cv FROM (
                SELECT sub, svec,
                       row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
                FROM sv
            ) WHERE rn <= {k}
        )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""s{t} AS (
            SELECT a.vec_id, a.sub, a.svec, c.cell,
                   {l2('a.svec', 'c.cv')} AS d
            FROM sv a JOIN c{t} c USING (sub)
        )"""
        )
        ctes.append(
            f"""a{t} AS (
            SELECT sub, cell, svec FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                             ORDER BY d, cell) AS rn
                FROM s{t}
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""d{t} AS (
            SELECT sub, cell, CAST(u.i - 1 AS INT) AS dim,
                   CAST(round(svec[CAST(u.i AS INT)] * 1000000) AS BIGINT) AS q
            FROM a{t} CROSS JOIN (SELECT UNNEST(range(1, {sd + 1})) AS i) u
        )"""
        )
        ctes.append(
            f"""m{t} AS (
            SELECT sub, cell, dim,
                   CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS c
            FROM d{t} GROUP BY 1, 2, 3
        )"""
        )
        ctes.append(
            f"""c{t + 1} AS (
            SELECT sub, cell, cv FROM (
                SELECT sub, cell, list(c ORDER BY dim) AS cv
                FROM m{t} GROUP BY 1, 2
            )
        )"""
        )
    ctes.append(
        f"""enc AS (
            SELECT vec_id, sub, cell AS code FROM (
                SELECT a.vec_id, a.sub, c.cell,
                       row_number() OVER (PARTITION BY a.vec_id, a.sub
                                          ORDER BY {l2('a.svec', 'c.cv')},
                                                   c.cell) AS rn
                FROM sv a JOIN c{iters} c USING (sub)
            ) WHERE rn = 1
        )"""
    )
    ctes.append(
        f"""dtab AS (
            SELECT a.vec_id AS query_vec_id, a.sub, c.cell AS code,
                   CAST(round({l2('a.svec', 'c.cv')} * 1000000) AS BIGINT)
                       AS d_int
            FROM sv a JOIN c{iters} c USING (sub)
            WHERE a.vec_id < 5
        )"""
    )
    ctes.append(
        """adc AS (
            SELECT d.query_vec_id, e.vec_id,
                   CAST(SUM(d.d_int) AS BIGINT) AS adc_dist
            FROM enc e JOIN dtab d ON d.sub = e.sub AND d.code = e.code
            WHERE e.vec_id != d.query_vec_id
            GROUP BY 1, 2
        )"""
    )
    prefix = "WITH " + ",\n        ".join(ctes)
    topk_sql = (
        prefix
        + """
        SELECT query_vec_id, CAST(vec_id AS BIGINT) AS neighbor_id, adc_dist
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY adc_dist, vec_id) AS rn
            FROM adc
        ) WHERE rn <= 10"""
    )
    rerank_sql = (
        prefix
        + f""",
        short AS (
            SELECT query_vec_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                             ORDER BY adc_dist, vec_id) AS rn
                FROM adc
            ) WHERE rn <= {PQ_SHORTLIST}
        ),
        normed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0,
                        list_transform(v, x -> x * x)), (a, b) -> a + b)) AS nrm
            FROM emb
        ),
        cand AS (
            SELECT s.query_vec_id, s.vec_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> q.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])),
                       (x, y) -> x + y) / (q.nrm * e.nrm) AS cos_exact
            FROM short s
            JOIN normed e ON e.vec_id = s.vec_id
            JOIN normed q ON q.vec_id = s.query_vec_id
        )
        SELECT query_vec_id, CAST(vec_id AS BIGINT) AS neighbor_id,
               round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, vec_id) AS rn
            FROM cand
        ) WHERE rn <= 10"""
    )
    return {"q_pq_topk": topk_sql, "q_pq_rerank": rerank_sql}


ORACLES.update(_pq_oracles())


def _dedup_increment_oracle() -> str:
    """r5: incremental dedup -- same shingle/minhash/banding machinery as
    the q_minhash_lsh oracle, but over corpus + derived new batch, with
    sketch-only verdicts (est = matching signature positions / 16, a
    power-of-two division so the double is exact cross-engine)."""
    from .functions.dedup import DUP_SHIFT

    return f"""
        WITH newdocs AS (
            SELECT doc_id + {DUP_SHIFT} AS doc_id,
                   CASE WHEN orig_pm = 0
                        THEN text || '{INCR_SUFFIX}' ELSE text END AS text
            FROM (
                SELECT doc_id, doc_id % {INCR_PERTURB_MOD} AS orig_pm, text
                FROM documents WHERE doc_id % {INCR_MOD} = 0
            )
        ),
        alldocs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id, text FROM newdocs
        ),
        md5s AS (
            SELECT doc_id, md5(text) AS md5_fp FROM alldocs
            WHERE length(text) >= 5
        ),
        shingled AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(length(text) - 3, 1)),
                       i -> CAST((((ascii(substr(text, CAST(i AS INT), 1)) * 31
                            + ascii(substr(text, CAST(i AS INT) + 1, 1))) * 31
                            + ascii(substr(text, CAST(i AS INT) + 2, 1))) * 31
                            + ascii(substr(text, CAST(i AS INT) + 3, 1))) * 31
                            + ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)
                   )) AS sh
            FROM alldocs
            WHERE length(text) >= 5
        ),
        coeffs AS (SELECT * FROM (VALUES {_MINHASH_SQL}) AS c(k, a, b)),
        sigs AS (
            SELECT doc_id, k,
                   CAST(list_min(list_transform(sh, h -> (a * h + b) % 2147483647))
                        AS BIGINT) AS mh
            FROM shingled CROSS JOIN coeffs
            GROUP BY ALL
        ),
        mharr AS (SELECT doc_id, list(mh ORDER BY k) AS mh FROM sigs GROUP BY 1),
        bands AS (
            SELECT doc_id, CAST(k // 4 AS INT) AS band,
                   string_agg(CAST(mh AS VARCHAR), '-' ORDER BY k) AS band_sig
            FROM sigs GROUP BY 1, 2
        ),
        cand AS (
            SELECT n.doc_id AS new_id, o.doc_id AS match_id
            FROM bands n
            JOIN bands o ON n.band = o.band AND n.band_sig = o.band_sig
            WHERE n.doc_id >= {DUP_SHIFT}
              AND (o.doc_id < {DUP_SHIFT} OR o.doc_id < n.doc_id)
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT c.new_id, c.match_id,
                   len(list_filter(range(1, 17),
                       i -> a.mh[CAST(i AS INT)] = b.mh[CAST(i AS INT)])) / 16.0
                       AS est,
                   (a5.md5_fp = b5.md5_fp) AS same_md5
            FROM cand c
            JOIN mharr a ON a.doc_id = c.new_id
            JOIN mharr b ON b.doc_id = c.match_id
            JOIN md5s a5 ON a5.doc_id = c.new_id
            JOIN md5s b5 ON b5.doc_id = c.match_id
        )
        SELECT new_id, match_id,
               CASE WHEN est = 1.0 AND same_md5 THEN 'certain'
                    ELSE 'near' END AS verdict,
               est
        FROM scored WHERE est >= 0.5"""


ORACLES["q_dedup_increment"] = _dedup_increment_oracle()


def _decode_audio_oracle() -> str:
    """r5: codec-free verification of the WAV decode path -- the waveform
    is a pure integer function of (doc_id, text), so the decoded stats
    are recomputed in SQL from the generating formula; a decoder that
    misparses the container or the samples hash-mismatches."""
    from .functions.multimodal import AUDIO_N_MIN, AUDIO_N_MOD

    return f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS len,
                   doc_id % {AUDIO_N_MOD} + {AUDIO_N_MIN} AS n,
                   8000 + (doc_id % 3) * 4000 AS sr
            FROM documents WHERE length(text) > 0
        ),
        s AS (
            SELECT doc_id, n, sr,
                   list_transform(range(0, n),
                       j -> (ascii(substr(text, CAST((j % len) + 1 AS INT), 1))
                             - 128) * 256
                   ) AS samples
            FROM d
        )
        SELECT doc_id,
               CAST(sr AS BIGINT) AS sample_rate,
               CAST(n AS BIGINT) AS n_samples,
               CAST(list_max(list_transform(samples, x -> abs(x))) AS BIGINT)
                   AS peak_abs,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(samples, x -> CAST(x AS BIGINT) * x)),
                    (a, b) -> a + b) AS BIGINT) AS sum_sq,
               CAST(len(list_filter(range(2, n + 1),
                    j -> (samples[CAST(j - 1 AS INT)] >= 0)
                         != (samples[CAST(j AS INT)] >= 0))) AS BIGINT)
                   AS zero_cross,
               'wav-pcm16' AS decoder
        FROM s"""


ORACLES["q_decode_audio"] = _decode_audio_oracle()


def _audio_frames_oracle() -> str:
    """r5: codec-free frame features -- same generating-formula samples
    as the q_decode_audio oracle, then per-16-sample frames via list
    slicing; a decoder or framing bug hash-mismatches."""
    from .functions.multimodal import AUDIO_FRAME_LEN, AUDIO_N_MIN, AUDIO_N_MOD

    fl = AUDIO_FRAME_LEN
    return f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS len,
                   doc_id % {AUDIO_N_MOD} + {AUDIO_N_MIN} AS n
            FROM documents WHERE length(text) > 0
        ),
        s AS (
            SELECT doc_id, n,
                   list_transform(range(0, n),
                       j -> (ascii(substr(text, CAST((j % len) + 1 AS INT), 1))
                             - 128) * 256
                   ) AS samples
            FROM d
        ),
        fr AS (
            SELECT doc_id, n, samples,
                   unnest(range(0, CAST((n + {fl} - 1) // {fl} AS BIGINT)))
                       AS f
            FROM s
        ),
        sliced AS (
            SELECT doc_id, f,
                   list_slice(samples, CAST(f * {fl} + 1 AS INT),
                              CAST(least((f + 1) * {fl}, n) AS INT)) AS w
            FROM fr
        )
        SELECT doc_id,
               CAST(f AS BIGINT) AS frame_idx,
               CAST(len(w) AS BIGINT) AS frame_n,
               CAST(list_max(list_transform(w, x -> abs(x))) AS BIGINT)
                   AS peak_abs,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(w, x -> CAST(x AS BIGINT) * x)),
                    (a, b) -> a + b) AS BIGINT) AS sum_sq,
               CAST(len(list_filter(range(2, len(w) + 1),
                    j -> (w[CAST(j - 1 AS INT)] >= 0)
                         != (w[CAST(j AS INT)] >= 0))) AS BIGINT)
                   AS zero_cross
        FROM sliced"""


ORACLES["q_audio_frames"] = _audio_frames_oracle()

# r5: video container probe -- every field recomputed from the doc_id
# arithmetic (the codec-free pattern); largest track = the last one (dims
# grow with the track index by construction)
ORACLES["q_probe_video"] = """
        SELECT doc_id,
               'isom' AS brand,
               CAST(1000 AS BIGINT) AS timescale,
               CAST(doc_id % 5000 + 100 AS BIGINT) AS duration,
               CAST(doc_id % 2 + 1 AS BIGINT) AS n_tracks,
               CAST(doc_id % 320 + 16 + (doc_id % 2) * 4 AS BIGINT) AS width,
               CAST(doc_id % 240 + 16 + (doc_id % 2) * 2 AS BIGINT) AS height,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS mdat_bytes
        FROM documents WHERE length(text) > 0"""


def _url_canon_ctes(src: str = "documents") -> str:
    """The URL injection + canonicalization CTE chain (urls/parts/split/
    canon) over ``src`` -- shared by the standalone URL oracles and the
    r10 ``q_ingest_e2e`` composition (the injection is a pure function of
    doc_id, so any id-bearing CTE can source it)."""
    from .functions.urls import TRACKING_PARAMS_RE

    return (
        r"""
        urls AS (
            SELECT doc_id,
              (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
              || '://'
              || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
              || 'Site' || (doc_id % 7) || '.ExAmple.COM'
              || (CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 0 THEN ':443'
                       WHEN doc_id % 5 = 0 AND doc_id % 2 = 1 THEN ':80'
                       WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
              || '/Docs/p' || (doc_id % 13)
              || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
              || (CASE WHEN doc_id % 2 = 0 THEN '?id=' || doc_id
                  ELSE '?utm_source=feed' || (doc_id % 3) || '&id='
                       || doc_id || '&utm_campaign=x' END)
              || (CASE WHEN doc_id % 3 = 0 THEN '#sec' || (doc_id % 4)
                  ELSE '' END) AS url
            FROM __SRC__
        ),
        parts AS (
            SELECT doc_id,
              lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
              regexp_replace(lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                    '^www\.', '') AS hostport,
              regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
            FROM urls
        ),
        split AS (
            SELECT doc_id, scheme,
              regexp_extract(hostport, '^([^:]+)', 1) AS host,
              regexp_extract(hostport, '(:[0-9]+)$', 1) AS rawport,
              regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                             '/+$', '') AS path,
              regexp_extract(rest, '(\?.*)$', 1) AS rawq
            FROM parts
        ),
        canon AS (
            SELECT doc_id,
              scheme || '://' || host
              || (CASE WHEN scheme = 'http' AND rawport = ':80' THEN ''
                       WHEN scheme = 'https' AND rawport = ':443' THEN ''
                       ELSE rawport END)
              || path
              || regexp_replace(regexp_replace(
                     regexp_replace(rawq, '__TRACK__', '', 'g'),
                     '^&', '?', 'g'),
                     '[?&]+$', '', 'g') AS canon_url,
              host AS domain,
              regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS reg_domain
            FROM split
        )
    """.replace("__TRACK__", TRACKING_PARAMS_RE)
        .replace("__SRC__", src)
    )


def _url_oracles() -> dict[str, str]:
    """r5: the URL injection and the canonicalization chain reproduced in
    DuckDB -- the regexp patterns are the same Java-regex/RE2 shared
    subset the Spark plan uses (no backreference replacements), with
    DuckDB's explicit 'g' flag where the Spark op is implicitly global."""
    prelude = "\n        WITH " + _url_canon_ctes() + "\n    "
    from .functions.urls import DOMAIN_CAP_N

    return {
        "q_canon_urls": prelude
        + "SELECT doc_id, canon_url, domain, reg_domain FROM canon",
        "q_domain_cap": prelude
        + f"""
        SELECT doc_id, canon_url, domain, reg_domain, keep_rank FROM (
            SELECT *,
                   CAST(row_number() OVER (
                       PARTITION BY domain
                       ORDER BY (2654435761 * doc_id + 104729)
                                % 2147483647, doc_id
                   ) AS BIGINT) AS keep_rank
            FROM canon
        ) WHERE keep_rank <= {DOMAIN_CAP_N}""",
        "q_domain_stats": prelude
        + """
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_unique_urls,
               CAST(COUNT(DISTINCT reg_domain) AS BIGINT) AS n_reg_domains
        FROM canon GROUP BY domain""",
    }


ORACLES.update(_url_oracles())
ORACLES["q_semantic_dedup"] = _semantic_dedup_oracle()


def _qc_fold_sql(expr: str) -> str:
    """The byte-fold hash of the quality classifier, as DuckDB SQL."""
    return f"""list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length({expr}) + 1),
                       ci -> CAST(ascii(substr({expr}, CAST(ci AS INT), 1))
                            AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647)"""


def _qc_score_ctes(src: str, col: str) -> str:
    """feats/scored CTE text of the quality classifier over ``src.col``
    (shared by the v1 and v2 corpus-pipeline oracles)."""
    from .functions.text import QC_DIM, qc_weights

    w_list = "[" + ", ".join(str(x) for x in qc_weights()) + "]"
    fold = _qc_fold_sql
    return f"""
        t AS (SELECT doc_id, string_split({col}, ' ') AS toks FROM {src}),
        feats AS (
            SELECT doc_id,
                   list_concat(
                       list_transform(toks, tok -> {fold('tok')} % {QC_DIM}),
                       CASE WHEN len(toks) >= 2 THEN
                           list_transform(range(1, len(toks)),
                               i -> {fold("(toks[CAST(i AS INT)] || '_' || toks[CAST(i + 1 AS INT)])")} % {QC_DIM})
                       ELSE [] END
                   ) AS fs
            FROM t
        ),
        scored AS (
            SELECT doc_id,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(fs,
                            b -> CAST(({w_list})[CAST(b + 1 AS INT)] AS BIGINT))),
                        (a, x) -> a + x) AS BIGINT) AS score_milli
            FROM feats
        )"""


def _corpus_prefix_ctes(where: str = "") -> str:
    """CTE text of the corpus-pipeline stages 1-3 (the three deterministic
    injections, normalize, redact, boilerplate strip, ending at ``spine``
    with (doc_id, n_lines, n_kept, clean)) -- shared by the v1 and v2
    pipeline oracles; ``where`` optionally slices the input docs."""
    from .functions.text import (
        BOILERPLATE_MIN_DOC_FRAC,
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    normalize = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "text, '\\r\\n?', chr(10), 'g'),"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),"
        " '\\t', ' ', 'g'),"
        " ' +\\n', chr(10), 'g'),"
        " '\\n +', chr(10), 'g'),"
        " '  +', ' ', 'g'),"
        " '\\n{3,}', chr(10) || chr(10), 'g'),"
        " '^[ \\n]+|[ \\n]+$', '', 'g')"
    )
    redact = (
        f"regexp_replace(regexp_replace(regexp_replace("
        f"text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),"
        f" '{PII_IP_RE}', '<IP>', 'g'),"
        f" '{PII_PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
        WITH p AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                 THEN ' host 10.' || (doc_id % 256) || '.'
                      || ((doc_id // 256) % 256) || '.' || (doc_id % 100)
                 ELSE '' END
              AS text
            FROM documents
            {where}
        ),
        dz AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN '  ' || chr(9) ELSE '' END
              || replace(
                   replace(text, ' join ', ' join' || chr(13) || chr(10)),
                   ' the ', ' the' || chr(9) || '  ')
              || CASE WHEN doc_id % 3 = 0
                 THEN ' ' || chr(7) || 'garbled' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN '   ' ELSE '' END AS text
            FROM p
        ),
        bpc AS (
            SELECT doc_id,
              concat_ws(chr(10),
                CASE WHEN doc_id % 2 = 0
                     THEN 'copyright acme corp all rights reserved' END,
                CASE WHEN doc_id % 3 = 0
                     THEN 'subscribe to our newsletter for updates' END,
                text,
                CASE WHEN doc_id % 4 = 0
                     THEN 'privacy policy terms of service' END
              ) AS text
            FROM dz
        ),
        nz AS (SELECT doc_id, {normalize} AS text FROM bpc),
        red AS (SELECT doc_id, {redact} AS text FROM nz),
        lines AS (
            SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM red)
        ),
        freq AS (
            SELECT line FROM lines GROUP BY line
            HAVING COUNT(DISTINCT doc_id) >=
                   {BOILERPLATE_MIN_DOC_FRAC} *
                   (SELECT COUNT(DISTINCT doc_id) FROM red)
        ),
        kept AS (
            SELECT doc_id, pos, line FROM lines
            WHERE line NOT IN (SELECT line FROM freq)
        ),
        rebuilt AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean
            FROM kept GROUP BY doc_id
        ),
        spine AS (
            SELECT r.doc_id,
                   CAST(len(string_split(r.text, chr(10))) AS BIGINT) AS n_lines,
                   COALESCE(b.n_kept, 0) AS n_kept,
                   COALESCE(b.clean, '') AS clean
            FROM red r LEFT JOIN rebuilt b USING (doc_id)
        )"""


def _corpus_pipeline_oracle() -> str:
    """r5: the five pipeline stages recomputed as CTEs over the same
    three injections -- one hash covers normalization, redaction,
    corpus-frequency boilerplate removal, reassembly, quality scoring
    and keeper election end to end."""
    from .functions.text import QC_THRESHOLD_MILLI

    return f"""
        {_corpus_prefix_ctes()},
        {_qc_score_ctes('spine', 'clean')},
        hashed AS (
            SELECT doc_id, n_lines, n_kept,
                   CAST(length(clean) AS BIGINT) AS clean_len,
                   md5(clean) AS clean_md5
            FROM spine
        ),
        keepers AS (
            SELECT clean_md5, CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM hashed GROUP BY clean_md5
        )
        SELECT h.doc_id, h.n_lines, h.n_kept, h.clean_len, h.clean_md5,
               s.score_milli,
               s.score_milli >= {QC_THRESHOLD_MILLI} AS keep_quality,
               k.keep_id,
               (s.score_milli >= {QC_THRESHOLD_MILLI})
                 AND (h.doc_id = k.keep_id) AND (h.n_kept > 0) AS final_keep
        FROM hashed h
        JOIN keepers k USING (clean_md5)
        JOIN scored s USING (doc_id)"""


ORACLES["q_corpus_pipeline"] = _corpus_pipeline_oracle()

# r5: funnel -- the same greedy-earliest chain as the Spark plan but
# built from correlated step CTEs over the raw rows
def _funnel_oracle() -> str:
    from .operators.funnel import FUNNEL_HORIZON_MS, FUNNEL_STEPS

    s = FUNNEL_STEPS
    h = FUNNEL_HORIZON_MS
    return f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        ),
        s0 AS (
            SELECT user_id, MIN(ms) AS t, MIN(ms) AS entry
            FROM e WHERE event_type = '{s[0]}' GROUP BY 1
        ),
        s1 AS (
            SELECT e.user_id, s0.entry, MIN(e.ms) AS t
            FROM e JOIN s0 USING (user_id)
            WHERE e.event_type = '{s[1]}' AND e.ms > s0.t
              AND e.ms <= s0.entry + {h}
            GROUP BY 1, 2
        ),
        s2 AS (
            SELECT e.user_id, s1.entry, MIN(e.ms) AS t
            FROM e JOIN s1 USING (user_id)
            WHERE e.event_type = '{s[2]}' AND e.ms > s1.t
              AND e.ms <= s1.entry + {h}
            GROUP BY 1, 2
        )
        SELECT CAST(0 AS BIGINT) AS step_idx, '{s[0]}' AS step,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
        UNION ALL
        SELECT CAST(1 AS BIGINT), '{s[1]}', CAST(COUNT(*) AS BIGINT) FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), '{s[2]}', CAST(COUNT(*) AS BIGINT) FROM s2"""


ORACLES["q_funnel"] = _funnel_oracle()


def _retention_oracle() -> str:
    from .operators.funnel import RETENTION_WEEK_MS

    w = RETENTION_WEEK_MS
    return f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        ),
        first AS (
            SELECT user_id, MIN(ms) AS t0 FROM e
            WHERE event_type = 'signup' GROUP BY 1
        ),
        b AS (
            SELECT DISTINCT e.user_id,
                   (f.t0 // {w}) * {w} AS cohort_start_ms,
                   (e.ms - f.t0) // {w} AS week_offset
            FROM e JOIN first f USING (user_id)
            WHERE e.ms >= f.t0
        )
        SELECT CAST(cohort_start_ms AS BIGINT) AS cohort_start_ms,
               CAST(week_offset AS BIGINT) AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM b GROUP BY 1, 2"""


ORACLES["q_retention"] = _retention_oracle()


def _group_split_oracle() -> str:
    from .functions.sampling import SPLIT_FRACTIONS
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    cum, cases = 0.0, []
    for name, frac in SPLIT_FRACTIONS[:-1]:
        cum += frac
        thr = int(cum * HASH_P)  # the SAME float->int the Spark side takes
        cases.append(
            f"WHEN ({HASH_A} * user_id + {HASH_B}) % {HASH_P} < {thr}"
            f" THEN '{name}'"
        )
    last = SPLIT_FRACTIONS[-1][0]
    case = "CASE " + " ".join(cases) + f" ELSE '{last}' END"
    return f"""
        WITH s AS (SELECT user_id, {case} AS split FROM events)
        SELECT split, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY 1"""


ORACLES["q_group_split"] = _group_split_oracle()

# r5: per-column profile -- one UNION-ALL branch per column, each an
# independent full-table aggregate (the opposite algorithm of the Spark
# plan's single unpivot+groupBy, so the check is independent)
ORACLES["q_profile_events"] = "\n        UNION ALL ".join(
    f"""SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN CAST({c} AS VARCHAR) IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)
                   AS n_distinct,
               MIN(CAST({c} AS VARCHAR)) AS min_val,
               MAX(CAST({c} AS VARCHAR)) AS max_val
        FROM events"""
    for c in PROFILE_COLS
)

def _bpe_ctes(n_merges: int = 8, where: str = "") -> list[str]:
    """r5: the BPE training loop unrolled as CTEs (the kmeans_fit
    precedent for iterative algorithms): per round, pair counts from the
    current word table, the same (count desc, a, b) argmax, and the
    left-to-right non-overlapping merge as a list_reduce whose
    accumulator IS the output list.  An empty best round leaves the word
    table unchanged and emits nothing -- matching the Spark loop's early
    stop.  The word STRING rides along so the segment oracle can map
    documents to their final symbol counts."""
    ctes = [
        f"""wrds AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents {where})
            WHERE length(w) > 0 GROUP BY w
        )""",
        "w0 AS (SELECT w, string_split(w, '') AS ws, cnt FROM wrds)",
    ]
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
            SELECT ws[i] AS a, ws[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS c
            FROM (
                SELECT ws, cnt, CAST(unnest(range(1, len(ws))) AS INT) AS i
                FROM w{r} WHERE len(ws) >= 2
            ) GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"""best{r} AS (
            SELECT a AS ba, b AS bb, c FROM p{r} WHERE c >= 2
            ORDER BY c DESC, a ASC, b ASC LIMIT 1
        )"""
        )
        # the best pair joins in as COLUMNS (DuckDB forbids subqueries
        # inside lambdas; outer column references are fine)
        ctes.append(
            f"""w{r + 1} AS (
            SELECT w, CASE
                WHEN ba IS NULL OR len(ws) < 2 THEN ws
                ELSE list_reduce(
                    list_transform(ws, s -> [s]),
                    (acc, x) -> CASE
                        WHEN len(acc) > 0 AND acc[-1] = ba AND x[1] = bb
                        THEN list_append(
                            list_slice(acc, 1, len(acc) - 1), ba || bb)
                        ELSE list_concat(acc, x)
                    END)
            END AS ws, cnt FROM w{r} LEFT JOIN best{r} ON TRUE
        )"""
        )
        ctes.append(
            f"""m{r} AS (
            SELECT CAST({r} AS BIGINT) AS step, ba AS "left", bb AS "right",
                   ba || bb AS merged, c AS pair_count
            FROM best{r}
        )"""
        )
    return ctes


def _bpe_oracle(n_merges: int = 8, where: str = "") -> str:
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(n_merges)
    )
    return (
        "WITH "
        + ",\n        ".join(_bpe_ctes(n_merges, where))
        + "\n        "
        + union
    )


def _bpe_segment_oracle(n_merges: int = 8) -> str:
    """r5: encode side -- a word's BPE token count is len(ws) in the
    FINAL word table, so per-doc budgets are one join from the exploded
    document words to that mapping (the merge result depends only on
    the word string, which is exactly why the Spark encode and this
    mapping agree)."""
    ctes = _bpe_ctes(n_merges)
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        , dw AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        dwf AS (SELECT doc_id, w FROM dw WHERE length(w) > 0),
        map AS (SELECT w, CAST(len(ws) AS BIGINT) AS ntok FROM w{n_merges}),
        agg AS (
            SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(m.ntok) AS BIGINT) AS n_bpe_tokens
            FROM dwf d JOIN map m USING (w) GROUP BY d.doc_id
        )
        SELECT s.doc_id,
               COALESCE(a.n_words, 0) AS n_words,
               COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM (SELECT doc_id FROM documents) s LEFT JOIN agg a USING (doc_id)"""
    )


ORACLES["q_bpe_merges"] = _bpe_oracle()
ORACLES["q_bpe_segment"] = _bpe_segment_oracle()

# r5: lang_id evaluation -- the q_lang_id prediction SQL wrapped in a
# confusion-count aggregate against the ground-truth lang column
ORACLES["q_langid_eval"] = ORACLES["q_lang_id"].replace(
    """SELECT d.doc_id, COALESCE(b.lex_lang, 'und') AS pred_lang
        FROM documents d LEFT JOIN best b USING (doc_id)""",
    """SELECT d.lang, COALESCE(b.lex_lang, 'und') AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents d LEFT JOIN best b USING (doc_id)
        GROUP BY 1, 2""",
)
if "GROUP BY 1, 2" not in ORACLES["q_langid_eval"]:
    raise RuntimeError("q_langid_eval: the q_lang_id prediction SQL changed shape")

# r5: vocabulary top-k -- ranked window over the full count table (the
# opposite of the Spark plan's TakeOrdered), same deterministic tie-break
ORACLES["q_vocab_topk"] = """
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY token
        ),
        ranked AS (
            SELECT token, cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC)
                        AS BIGINT) AS rank,
                   CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_count,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS total_count
            FROM counts
        )
        SELECT rank, token, cnt, cum_count, total_count
        FROM ranked WHERE rank <= 200"""

# r5: SLA recommendation -- quantiles recomputed the OPPOSITE way
# (ranked window over raw rows vs the Spark plan's sorted run-length
# fold), ceiling by integer division
ORACLES["q_sla_recommend"] = oracle_analysis("""
        , vb AS (
            SELECT query_id, batch_running_ms AS d FROM bounds2 WHERE valid
        ),
        ranked AS (
            SELECT query_id, d,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY query_id) AS n
            FROM vb
        ),
        q AS (
            SELECT query_id, CAST(MAX(n) AS BIGINT) AS n_batches,
                   CAST(MIN(CASE WHEN rn * 100 >= 50 * n THEN d END) AS BIGINT) AS p50_ms,
                   CAST(MIN(CASE WHEN rn * 100 >= 95 * n THEN d END) AS BIGINT) AS p95_ms,
                   CAST(MIN(CASE WHEN rn * 100 >= 99 * n THEN d END) AS BIGINT) AS p99_ms
            FROM ranked GROUP BY query_id
        )
        SELECT query_id, n_batches, p50_ms, p95_ms, p99_ms,
               CAST(((p99_ms + 499) // 500) * 500 AS BIGINT) AS recommended_sla_ms
        FROM q""")

# r5: duration anomalies -- same analysis prelude, the stats and the
# cross-multiplied integer test recomputed independently (HUGEINT in
# DuckDB, decimal(38,0) in Spark; both exceed the products' range)
ORACLES["q_duration_anomalies"] = oracle_analysis("""
        , vb AS (
            SELECT query_id, batch_id, batch_running_ms FROM bounds2 WHERE valid
        ),
        st AS (
            SELECT query_id,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(batch_running_ms) AS HUGEINT) AS s,
                   CAST(SUM(batch_running_ms * batch_running_ms) AS HUGEINT) AS q
            FROM vb GROUP BY 1
        )
        SELECT v.query_id, v.batch_id,
               CAST(v.batch_running_ms AS BIGINT) AS duration_ms,
               (CAST(v.batch_running_ms AS HUGEINT) * t.n - t.s)
                 * (CAST(v.batch_running_ms AS HUGEINT) * t.n - t.s)
                 > 9 * (t.n * t.q - t.s * t.s) AS is_anomaly
        FROM vb v JOIN st t USING (query_id)""")


def _resize_image_oracle(max_side: int = 16) -> str:
    """r5: codec-free verification of decode + nearest-neighbor resize --
    the resized pixel at flattened position q is the tiled text byte at
    ``((((q // w2) * h) // h2) * w + (((q % w2) * w) // w2)) % len``, all
    integer floor division, so the resized bytes and their md5 are
    recomputed in SQL with no codec and no float scale factor."""
    return f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS len,
                   doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h
            FROM documents WHERE length(text) > 0
        ),
        t AS (
            SELECT doc_id, text, len, w, h,
                   CASE WHEN greatest(w, h) > {max_side}
                        THEN greatest(1, (w * {max_side}) // greatest(w, h))
                        ELSE w END AS w2,
                   CASE WHEN greatest(w, h) > {max_side}
                        THEN greatest(1, (h * {max_side}) // greatest(w, h))
                        ELSE h END AS h2
            FROM d
        ),
        px AS (
            SELECT doc_id, w, h, w2, h2,
                   list_transform(range(0, w2 * h2),
                       q -> ascii(substr(text,
                            CAST((((((q // w2) * h) // h2) * w
                                  + (((q % w2) * w) // w2)) % len) + 1 AS INT),
                            1))
                   ) AS rp
            FROM t
        )
        SELECT doc_id,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(w2 AS BIGINT) AS out_width,
               CAST(h2 AS BIGINT) AS out_height,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(rp, x -> CAST(x AS BIGINT))),
                    (a, b) -> a + b) AS BIGINT) AS sum_pix,
               md5(array_to_string(
                   list_transform(rp, x -> chr(CAST(x AS INT))), ''))
                   AS resized_md5
        FROM px"""


ORACLES["q_resize_image"] = _resize_image_oracle()


def _cms_probe_oracle() -> str:
    """r5: windowed tracked-key probe -- the probe cells are Python-side
    literals (same affine arithmetic), the window cell counts the same
    UNION-ALL build as the q_cms_windowed oracle, the estimate a
    min-over-rows with absent cells counting zero."""
    from .functions.sketch import CMS_A, CMS_B, CMS_D, CMS_W, HASH_P

    cms_cells = "\n            UNION ALL ".join(
        f"SELECT (ms // 3600000) * 3600000 AS window_start_ms, {i} AS r,"
        f" (({CMS_A[i]} * user_id + {CMS_B[i]}) % {HASH_P}) % {CMS_W} AS c"
        " FROM e"
        for i in range(CMS_D)
    )
    probe_values = ", ".join(
        f"({k}, {i}, {((CMS_A[i] * k + CMS_B[i]) % HASH_P) % CMS_W})"
        for k in CMS_PROBE_KEYS
        for i in range(CMS_D)
    )
    return f"""
        WITH e AS (SELECT epoch_ms(ts) AS ms, user_id FROM events),
        cells AS (
            {cms_cells}
        ),
        agg AS (
            SELECT window_start_ms, r, c, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2, 3
        ),
        wins AS (SELECT DISTINCT window_start_ms FROM agg),
        probe AS (SELECT * FROM (VALUES {probe_values}) AS p(key, r, c))
        SELECT w.window_start_ms, CAST(p.key AS BIGINT) AS key,
               CAST(MIN(COALESCE(a.cnt, 0)) AS BIGINT) AS est
        FROM wins w CROSS JOIN probe p
        LEFT JOIN agg a ON a.window_start_ms = w.window_start_ms
                       AND a.r = p.r AND a.c = p.c
        GROUP BY 1, 2"""


ORACLES["q_cms_probe"] = _cms_probe_oracle()


def _normalize_text_oracle() -> str:
    """r5: the SAME injection (plain replace/concat) and the SAME
    regexp chain as the Spark plan -- the patterns are written in the
    Java-regex/RE2 shared subset, so cross-engine agreement checks both
    the dirtying and every normalization step byte-for-byte (md5)."""
    return r"""
        WITH dirty AS (
            SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN '  ' || chr(9) ELSE '' END
              || replace(
                   replace(text, ' join ', ' join' || chr(13) || chr(10)),
                   ' the ', ' the' || chr(9) || '  ')
              || CASE WHEN doc_id % 3 = 0
                 THEN ' ' || chr(7) || 'garbled' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN '   ' ELSE '' END AS text
            FROM documents
        ),
        clean AS (
            SELECT doc_id, length(text) AS raw_len,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(text, '\r\n?', chr(10), 'g'),
                            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                          '\t', ' ', 'g'),
                        ' +\n', chr(10), 'g'),
                      '\n +', chr(10), 'g'),
                    '  +', ' ', 'g'),
                  '\n{3,}', chr(10) || chr(10), 'g'),
                '^[ \n]+|[ \n]+$', '', 'g') AS c
            FROM dirty
        )
        SELECT doc_id, CAST(raw_len AS BIGINT) AS raw_len,
               CAST(length(c) AS BIGINT) AS clean_len, md5(c) AS clean_md5
        FROM clean"""


ORACLES["q_normalize_text"] = _normalize_text_oracle()


# ------------------------------------------------- r5 continued: retrieval

# fixture search queries: corpus-vocabulary terms, multi- and single-term,
# literal in both the Spark plan and the oracle SQL (like CMS_PROBE_KEYS)
BM25_QUERIES = [
    ("q1", "fast table scan"),
    ("q2", "stream window agg"),
    ("q3", "customer query join"),
    ("q4", "hash merge sort"),
    ("q5", "slow batch"),
    ("q6", "vector filter group row"),
]


def q_bm25_search(spark, sf_dir):
    """BM25 inverted-index keyword search (r5 continued): integer-exact
    Lucene-shaped scoring via the fixed-point log2 primitive -- zero
    float log anywhere."""
    from .functions.search import bm25_search

    return bm25_search(_docs(spark, sf_dir), BM25_QUERIES)


def q_bigram_surprisal(spark, sf_dir):
    """Bigram-LM cross-entropy scoring (r5 continued): the CCNet-style
    perplexity filter in integer micro-bits."""
    from .functions.lm import bigram_surprisal

    return bigram_surprisal(_docs(spark, sf_dir))


def _bm25_oracle() -> str:
    from .functions.intlog import log2_fp_sql

    qvals = ", ".join(f"('{qid}', '{qt}')" for qid, qt in BM25_QUERIES)
    idf = (
        f"({log2_fp_sql('2 * s.n_docs + 2')} - {log2_fp_sql('2 * f.df + 1')})"
    )
    return f"""
        WITH q(query_id, qtext) AS (VALUES {qvals}),
        qterms AS (
            SELECT DISTINCT query_id, term FROM (
                SELECT query_id, unnest(string_split(qtext, ' ')) AS term
                FROM q
            )
        ),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        postings AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
               FROM postings GROUP BY 1),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents
        ),
        dfs AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM postings
            WHERE term IN (SELECT DISTINCT term FROM qterms)
            GROUP BY term
        ),
        scored AS (
            SELECT qt.query_id, p.doc_id,
                   ({idf}::HUGEINT * 22 * p.tf * s.n_tokens)
                   // (10::HUGEINT * p.tf * s.n_tokens
                       + 3::HUGEINT * s.n_tokens
                       + 9::HUGEINT * d.dl * s.n_docs) AS term_score
            FROM postings p
            JOIN dfs f USING (term)
            JOIN qterms qt USING (term)
            JOIN dl d USING (doc_id)
            CROSS JOIN stats s
        ),
        doc_scores AS (
            SELECT query_id, doc_id,
                   CAST(SUM(term_score) AS BIGINT) AS score_fp
            FROM scored GROUP BY 1, 2
        ),
        ranked AS (
            SELECT query_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_fp DESC, doc_id ASC) AS BIGINT)
                       AS rank,
                   doc_id, score_fp
            FROM doc_scores
        )
        SELECT query_id, rank, doc_id, score_fp
        FROM ranked WHERE rank <= 10"""


def _bigram_surprisal_oracle() -> str:
    # bigrams by POSITION SELF-JOIN (the opposite algorithm to the Spark
    # plan's array transform); same integer log2 transform
    from .functions.intlog import log2_fp_sql

    s = (
        f"({log2_fp_sql('m.c1 + vocab.v')} - {log2_fp_sql('m.c12 + 1')})"
    )
    return f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ),
        big AS (
            SELECT doc_id, l[g.i] AS w1, l[g.i + 1] AS w2
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM big GROUP BY 1, 2
        ),
        c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
               FROM c12 GROUP BY 1),
        m AS (SELECT c12.w1, c12.w2, c12.c12, c1.c1
              FROM c12 JOIN c1 USING (w1)),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM (
                SELECT w1 AS w FROM c12 UNION SELECT w2 FROM c12
            )
        ),
        inst AS (
            SELECT b.doc_id, {s} AS st
            FROM big b
            JOIN m ON b.w1 = m.w1 AND b.w2 = m.w2
            CROSS JOIN vocab
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(st) AS BIGINT) AS total_micro_bits,
               CAST(SUM(st) // COUNT(*) AS BIGINT) AS mean_micro_bits
        FROM inst GROUP BY doc_id"""


ORACLES["q_bm25_search"] = _bm25_oracle()
ORACLES["q_bigram_surprisal"] = _bigram_surprisal_oracle()


def q_winnow(spark, sf_dir):
    """Winnowing minimizer fingerprints (r5 continued): the MOSS
    substring-robust document sketch, map-only."""
    from .functions.winnow import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


# char-fold hash of a 3-gram string expression (the q_simhash oracle
# idiom applied to the gram concat) -- reused by the winnowing oracle
def _fold3_sql(s: str) -> str:
    return f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length({s}) + 1),
                   c -> CAST(ascii(substr({s}, CAST(c AS INT), 1)) AS BIGINT))),
               (acc, ch) -> (acc * 31 + ch) % 2147483647)"""


# winnowing oracle: windows computed the OPPOSITE way (per-position SQL
# window functions over exploded gram rows vs the Spark plan's array
# slices); k=3, w=4 literals
ORACLES["q_winnow"] = f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ),
        grams AS (
            SELECT doc_id, g.i AS pos,
                   {_fold3_sql("(l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2])")} AS h
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
            FROM grams GROUP BY 1
        ),
        wins AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM grams
        ),
        sel AS (
            SELECT w.doc_id, w.wmin AS mz
            FROM wins w JOIN stats s USING (doc_id)
            WHERE s.ng >= 4 AND w.pos <= s.ng - 3
            UNION
            SELECT g.doc_id, MIN(g.h) AS mz
            FROM grams g JOIN stats s USING (doc_id)
            WHERE s.ng < 4 GROUP BY g.doc_id
        ),
        fp AS (
            SELECT doc_id, list_sort(list(DISTINCT mz)) AS mins
            FROM sel GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.ng, 0) AS n_grams,
               CAST(COALESCE(len(f.mins), 0) AS BIGINT) AS n_minimizers,
               CASE WHEN f.doc_id IS NOT NULL THEN
                   md5(array_to_string(
                       list_transform(f.mins, x -> CAST(x AS VARCHAR)), '-'))
               END AS fp_md5
        FROM documents d
        LEFT JOIN stats s USING (doc_id)
        LEFT JOIN fp f USING (doc_id)"""


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (r5 continued): events joined to a
    per-type dim on the (hot, low-cardinality) event_type key with the
    key salted across 8 shards; output is the plain-join aggregate, so
    the oracle checks the rewrite is result-invariant."""
    from .functions.joins import salted_join
    from .operators.windows import _ev

    e = _ev(load_table(spark, sf_dir, "events")).select(
        "event_id", "event_type", F.col("cents")
    )
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
    )
    joined = salted_join(e, dim, "event_type", n_salts=8, salt_src="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("cents") * F.col("weight")).cast("long").alias("weighted_cents"),
    )


ORACLES["q_salted_join"] = """
        WITH e AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        dim AS (
            SELECT DISTINCT event_type,
                   CAST(length(event_type) AS BIGINT) AS weight
            FROM events
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(e.cents * d.weight) AS BIGINT) AS weighted_cents
        FROM e JOIN dim d USING (event_type)
        GROUP BY 1"""


def q_zorder(spark, sf_dir):
    """Z-order layout statistics (r5 continued): Morton-interleave
    (user_id, event-minute) over events, per-shard bounding boxes -- the
    min/max skipping index a Z-ordered write produces."""
    from .functions.zorder import zorder_stats
    from .operators.windows import _ev

    e = _ev(load_table(spark, sf_dir, "events")).select(
        (F.col("user_id") % 65536).alias("x"),
        (F.expr("ms div 60000") % 65536).alias("y"),
    )
    return zorder_stats(e, "x", "y")


def _zorder_oracle() -> str:
    from .functions.zorder import BUCKET_BITS, zvalue_sql

    width = (1 << (2 * BUCKET_BITS)) // 16
    scale = 1 << BUCKET_BITS
    return f"""
        WITH e AS (
            SELECT user_id % 65536 AS x,
                   (epoch_ms(ts) // 60000) % 65536 AS y
            FROM events
        ),
        bxt AS (
            SELECT x, ((ROW_NUMBER() OVER (ORDER BY x) - 1) * {scale})
                       // (COUNT(*) OVER ()) AS b_x
            FROM (SELECT DISTINCT x FROM e)
        ),
        byt AS (
            SELECT y, ((ROW_NUMBER() OVER (ORDER BY y) - 1) * {scale})
                       // (COUNT(*) OVER ()) AS b_y
            FROM (SELECT DISTINCT y FROM e)
        ),
        z AS (
            SELECT e.x, e.y, {zvalue_sql('b_x', 'b_y')} AS zv
            FROM e JOIN bxt USING (x) JOIN byt USING (y)
        )
        SELECT CAST(zv // {width} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(x) AS BIGINT) AS min_x,
               CAST(MAX(x) AS BIGINT) AS max_x,
               CAST(MIN(y) AS BIGINT) AS min_y,
               CAST(MAX(y) AS BIGINT) AS max_y
        FROM z GROUP BY 1"""


ORACLES["q_zorder"] = _zorder_oracle()


def q_ppl_filter(spark, sf_dir):
    """Perplexity-band keep-the-middle filter (r5 continued): surprisal
    percentile band via the HDR integer sketch -- the deterministic
    CCNet decision step."""
    from .functions.lm import ppl_band_filter

    return ppl_band_filter(_docs(spark, sf_dir))


def _ppl_filter_oracle() -> str:
    p = 7
    fine_max = 1 << p
    eb = f"(length(printf('%b', x)) - 1 - {p})"
    return f"""
        WITH scores AS (
            SELECT doc_id, mean_micro_bits FROM ({_bigram_surprisal_oracle()})
        ),
        v AS (SELECT mean_micro_bits AS x FROM scores),
        b AS (
            SELECT CASE WHEN x < {fine_max} THEN x
                        ELSE (x >> {eb}) << {eb} END AS lo,
                   CASE WHEN x < {fine_max} THEN CAST(1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) << {eb} END AS w
            FROM v
        ),
        g AS (SELECT lo, w, COUNT(*) AS c FROM b GROUP BY 1, 2),
        cum AS (
            SELECT lo, w, c,
                   SUM(c) OVER (ORDER BY lo ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER () AS n
            FROM g
        ),
        th AS (
            SELECT CAST(MIN(CASE WHEN cum * 1000 >= 50 * n
                                 THEN lo + w END) AS BIGINT) AS t_lo,
                   CAST(MIN(CASE WHEN cum * 1000 >= 950 * n
                                 THEN lo + w END) AS BIGINT) AS t_hi
            FROM cum
        )
        SELECT s.doc_id, s.mean_micro_bits,
               (s.mean_micro_bits >= th.t_lo
                AND s.mean_micro_bits < th.t_hi) AS keep
        FROM scores s CROSS JOIN th"""


ORACLES["q_ppl_filter"] = _ppl_filter_oracle()


# corpus-diff fixture derivation: the "new" snapshot drops every doc_id
# divisible by 11, appends a deterministic suffix to every remaining
# doc_id divisible by 7, and adds fresh docs (id + 500000) for ids
# divisible by 13 -- all three transition kinds exercised from one corpus
DIFF_DROP_MOD = 11
DIFF_EDIT_MOD = 7
DIFF_ADD_MOD = 13
DIFF_ADD_SHIFT = 500000
DIFF_SUFFIX = " snapshot edit marker"


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff (r5 continued): full-outer md5 join between
    two snapshots, per-doc added/removed/changed/unchanged verdicts."""
    from .functions.snapshot import corpus_diff

    old = _docs(spark, sf_dir).select("doc_id", "text")
    kept = old.filter(F.col("doc_id") % DIFF_DROP_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % DIFF_EDIT_MOD == 0,
            F.concat(F.col("text"), F.lit(DIFF_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = old.filter(F.col("doc_id") % DIFF_ADD_MOD == 0).select(
        (F.col("doc_id") + DIFF_ADD_SHIFT).alias("doc_id"), "text"
    )
    return corpus_diff(old, kept.unionByName(added))


ORACLES["q_corpus_diff"] = f"""
        WITH old AS (SELECT doc_id, text FROM documents),
        new AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                        THEN text || '{DIFF_SUFFIX}' ELSE text END AS text
            FROM documents WHERE doc_id % {DIFF_DROP_MOD} != 0
            UNION ALL
            SELECT doc_id + {DIFF_ADD_SHIFT}, text
            FROM documents WHERE doc_id % {DIFF_ADD_MOD} = 0
        ),
        o AS (SELECT doc_id, md5(text) AS old_md5 FROM old),
        n AS (SELECT doc_id, md5(text) AS new_md5 FROM new)
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.old_md5 != n.new_md5 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               o.old_md5, n.new_md5
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""


def q_bm25_eval(spark, sf_dir):
    """BM25 self-retrieval evaluation (r5 continued): snippet queries
    must find their source doc -- phrase-aware unigram+bigram index,
    top-1 20/20 on the fixture (unigram-only: 2/20; the harness measures
    term-space adequacy)."""
    from .functions.search import bm25_self_retrieval

    return bm25_self_retrieval(_docs(spark, sf_dir))


def _bm25_eval_oracle() -> str:
    from .functions.intlog import log2_fp_sql
    from .functions.search import PROBE_MOD, SNIPPET_LEN, SNIPPET_START

    def terms(t: str) -> str:
        l = f"string_split({t}, ' ')"
        return (
            f"list_concat({l}, list_transform("
            f"generate_series(1, len({l}) - 1),"
            f" i -> {l}[i] || '_' || {l}[i + 1]))"
        )

    idf = (
        f"({log2_fp_sql('2 * s.n_docs + 2')} - {log2_fp_sql('2 * f.df + 1')})"
    )
    last = SNIPPET_START + SNIPPET_LEN - 1
    return f"""
        WITH probes AS (
            SELECT CAST(doc_id AS VARCHAR) AS query_id,
                   array_to_string(list_slice(string_split(text, ' '),
                       {SNIPPET_START}, {last}), ' ') AS qtext
            FROM documents
            WHERE doc_id % {PROBE_MOD} = 0
              AND len(string_split(text, ' ')) >= {last}
        ),
        qterms AS (
            SELECT DISTINCT query_id, term FROM (
                SELECT query_id, unnest({terms('qtext')}) AS term
                FROM probes
            )
        ),
        toks AS (
            SELECT doc_id, unnest({terms('text')}) AS term FROM documents
        ),
        postings AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
               FROM postings GROUP BY 1),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({terms('text')})) AS BIGINT) AS n_tokens
            FROM documents
        ),
        dfs AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM postings
            WHERE term IN (SELECT DISTINCT term FROM qterms)
            GROUP BY term
        ),
        scored AS (
            SELECT qt.query_id, p.doc_id,
                   ({idf}::HUGEINT * 22 * p.tf * s.n_tokens)
                   // (10::HUGEINT * p.tf * s.n_tokens
                       + 3::HUGEINT * s.n_tokens
                       + 9::HUGEINT * d.dl * s.n_docs) AS term_score
            FROM postings p
            JOIN dfs f USING (term)
            JOIN qterms qt USING (term)
            JOIN dl d USING (doc_id)
            CROSS JOIN stats s
        ),
        doc_scores AS (
            SELECT query_id, doc_id,
                   CAST(SUM(term_score) AS BIGINT) AS score_fp
            FROM scored GROUP BY 1, 2
        ),
        ranked AS (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score_fp DESC, doc_id ASC) AS rank
            FROM doc_scores
        ),
        hits AS (
            SELECT
                CAST(SUM(CASE WHEN query_id = CAST(doc_id AS VARCHAR)
                              AND rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS top1_hits,
                CAST(SUM(CASE WHEN query_id = CAST(doc_id AS VARCHAR)
                              AND rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                    AS top10_hits
            FROM ranked WHERE rank <= 10
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
               top1_hits, top10_hits
        FROM hits"""


ORACLES["q_bm25_eval"] = _bm25_eval_oracle()


def q_key_skew(spark, sf_dir):
    """Join-key skew diagnosis (r5 continued): top-k key frequencies +
    exact permille share over events.user_id -- the measurement that
    picks plain join vs AQE split vs salted_join."""
    from .functions.profile import key_skew_stats

    return key_skew_stats(load_table(spark, sf_dir, "events"), "user_id")


ORACLES["q_key_skew"] = """
        WITH counts AS (
            SELECT CAST(user_id AS VARCHAR) AS key_value,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
        ranked AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value ASC)
                        AS BIGINT) AS rank,
                   key_value, cnt,
                   CAST((cnt * 1000) // t.total AS BIGINT) AS permille
            FROM counts CROSS JOIN tot t
        )
        SELECT rank, key_value, cnt, permille
        FROM ranked WHERE rank <= 10"""


def q_negative_samples(spark, sf_dir):
    """Deterministic cross-label negative sampling (r5 continued): the
    contrastive-training pair generator over embeddings."""
    from .functions.sampling import negative_samples

    return negative_samples(_emb(spark, sf_dir))


def _negative_samples_oracle() -> str:
    from .functions.sampling import NEG_STEPS
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    steps = ", ".join(
        f"({j}, {int(s)})" for j, s in enumerate(NEG_STEPS[:4])
    )
    return f"""
        WITH pos AS (
            SELECT vec_id, label,
                   ROW_NUMBER() OVER (
                       ORDER BY ({HASH_A} * vec_id + {HASH_B}) % {HASH_P}
                   ) - 1 AS p
            FROM embeddings
        ),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        steps(j, step) AS (VALUES {steps}),
        anchors AS (
            SELECT pos.vec_id AS anchor_id, pos.label AS anchor_label,
                   CAST(steps.j AS BIGINT) AS j,
                   (pos.p + 1 + (steps.step % (nt.n - 1))) % nt.n AS tgt
            FROM pos CROSS JOIN nt CROSS JOIN steps
            WHERE nt.n >= 2
        )
        SELECT a.anchor_id, a.j, c.vec_id AS neg_id,
               a.anchor_label, c.label AS neg_label
        FROM anchors a JOIN pos c ON c.p = a.tgt
        WHERE c.label != a.anchor_label"""


ORACLES["q_negative_samples"] = _negative_samples_oracle()


def q_partition_advisor(spark, sf_dir):
    """Partition-sizing advisor (r5 continued): shuffle-partition and
    output-file recommendations from measured payload bytes -- the
    reference's recommendation idea applied to the corpus-job knobs."""
    from .functions.advisor import partition_advisor

    return partition_advisor(_docs(spark, sf_dir))


def q_watermark_advisor(spark, sf_dir):
    """Watermark-delay advisor (r5 continued): per-candidate-delay
    dropped-event counts from measured per-user out-of-orderness."""
    from .functions.advisor import watermark_advisor

    return watermark_advisor(load_table(spark, sf_dir, "events"))


def _advisor_oracles() -> dict[str, str]:
    from .functions.advisor import (
        TARGET_FILE_BYTES,
        TARGET_PARTITION_BYTES,
        WATERMARK_DELAYS_MS,
    )

    tp, tf = TARGET_PARTITION_BYTES, TARGET_FILE_BYTES
    delays = ", ".join(f"({int(d)})" for d in WATERMARK_DELAYS_MS)
    return {
        "q_partition_advisor": f"""
        WITH agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(strlen(text)), 0) AS BIGINT)
                       AS data_bytes
            FROM documents
        )
        SELECT n_rows, data_bytes,
               GREATEST(1, (data_bytes + {tp} - 1) // {tp})
                   AS rec_shuffle_partitions,
               GREATEST(1, (data_bytes + {tf} - 1) // {tf})
                   AS rec_output_files,
               n_rows // GREATEST(1, (data_bytes + {tp} - 1) // {tp})
                   AS rows_per_partition
        FROM agg""",
        "q_watermark_advisor": f"""
        WITH e AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
        ),
        l AS (
            SELECT MAX(ms) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) - ms AS late_by
            FROM e
        ),
        d(delay_ms) AS (VALUES {delays})
        SELECT CAST(d.delay_ms AS BIGINT) AS delay_ms,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN l.late_by > d.delay_ms
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST((SUM(CASE WHEN l.late_by > d.delay_ms THEN 1 ELSE 0 END)
                     * 1000) // COUNT(*) AS BIGINT) AS permille
        FROM l CROSS JOIN d
        GROUP BY 1""",
    }


ORACLES.update(_advisor_oracles())


def q_user_sequences(spark, sf_dir):
    """Per-user behavioral sequence examples (r5 continued): ordered
    event-type sequences with order-covering digests."""
    from .functions.sequences import user_event_sequences

    return user_event_sequences(load_table(spark, sf_dir, "events"))


def q_user_features(spark, sf_dir):
    """Leakage-safe rolling features per event (r5 continued): previous-n
    frame, the current event never sees itself."""
    from .functions.sequences import rolling_user_features

    return rolling_user_features(load_table(spark, sf_dir, "events"))


def _sequences_oracles() -> dict[str, str]:
    from .functions.sequences import ROLL_N, SEQ_MAX_LEN

    return {
        "q_user_sequences": f"""
        WITH e AS (
            SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
            FROM events
        ),
        seqs AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   list_slice(
                       list(event_type ORDER BY ms, event_id),
                       1, {SEQ_MAX_LEN}) AS seq,
                   CAST(MIN(ms) AS BIGINT) AS first_ms,
                   CAST(MAX(ms) AS BIGINT) AS last_ms
            FROM e GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(len(seq) AS BIGINT) AS seq_len,
               md5(array_to_string(seq, '|')) AS seq_md5,
               first_ms, last_ms
        FROM seqs""",
        "q_user_features": f"""
        WITH e AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ms,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_id, user_id,
               CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ms, event_id
                    ROWS BETWEEN {ROLL_N} PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS prev_n,
               CAST(COALESCE(SUM(cents) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id
                    ROWS BETWEEN {ROLL_N} PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev_cents,
               CAST(ms - LAG(ms) OVER (PARTITION BY user_id
                    ORDER BY ms, event_id) AS BIGINT) AS ms_since_prev
        FROM e""",
    }


ORACLES.update(_sequences_oracles())


def q_source_overlap(spark, sf_dir):
    """Cross-source n-gram overlap matrix (r5 continued): pairwise
    contamination/redundancy audit over distinct token 3-grams."""
    from .functions.snapshot import source_overlap_matrix

    return source_overlap_matrix(load_table(spark, sf_dir, "documents"))


ORACLES["q_source_overlap"] = """
        WITH arr AS (
            SELECT source, string_split(text, ' ') AS l FROM documents
        ),
        sg AS (
            SELECT DISTINCT source,
                   l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2] AS gram
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        totals AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM sg GROUP BY 1
        ),
        shared AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT s.src_a, s.src_b,
               ta.n_grams AS grams_a, tb.n_grams AS grams_b, s.shared,
               CAST((s.shared * 1000)
                    // (ta.n_grams + tb.n_grams - s.shared) AS BIGINT)
                   AS jaccard_permille
        FROM shared s
        JOIN totals ta ON ta.source = s.src_a
        JOIN totals tb ON tb.source = s.src_b"""


def q_pmi(spark, sf_dir):
    """PMI collocation extraction (r5 continued): top-k word pairs by
    integer fixed-point pointwise mutual information."""
    from .functions.lm import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir))


def _pmi_oracle() -> str:
    from .functions.intlog import log2_fp_sql
    from .functions.lm import PMI_MIN_COUNT, PMI_TOP_K

    pmi = (
        f"({log2_fp_sql('m.c12')} + {log2_fp_sql('t.t')}"
        f" - {log2_fp_sql('c1.c1')} - {log2_fp_sql('c2.c2')})"
    )
    return f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
        ),
        big AS (
            SELECT l[g.i] AS w1, l[g.i + 1] AS w2
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 1)) AS g(i)
        ),
        m AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM big GROUP BY 1, 2
        ),
        c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM m GROUP BY 1),
        c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM m GROUP BY 1),
        t AS (SELECT CAST(SUM(c12) AS BIGINT) AS t FROM m),
        scored AS (
            SELECT m.w1, m.w2, m.c12, {pmi} AS pmi_micro_bits
            FROM m
            JOIN c1 USING (w1)
            JOIN c2 USING (w2)
            CROSS JOIN t
            WHERE m.c12 >= {PMI_MIN_COUNT}
        ),
        ranked AS (
            SELECT CAST(ROW_NUMBER() OVER (
                       ORDER BY pmi_micro_bits DESC, w1 ASC, w2 ASC)
                       AS BIGINT) AS rank,
                   w1, w2, c12, pmi_micro_bits
            FROM scored
        )
        SELECT rank, w1, w2, c12, pmi_micro_bits
        FROM ranked WHERE rank <= {PMI_TOP_K}"""


ORACLES["q_pmi"] = _pmi_oracle()


def q_vocab_drift(spark, sf_dir):
    """Unigram-distribution drift between snapshots (r5 continued):
    exact cross-multiplied L1 permille + top moving tokens, over the
    corpus-diff fixture derivation."""
    from .functions.snapshot import vocab_drift

    old = _docs(spark, sf_dir).select("doc_id", "text")
    kept = old.filter(F.col("doc_id") % DIFF_DROP_MOD != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % DIFF_EDIT_MOD == 0,
            F.concat(F.col("text"), F.lit(DIFF_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = old.filter(F.col("doc_id") % DIFF_ADD_MOD == 0).select(
        (F.col("doc_id") + DIFF_ADD_SHIFT).alias("doc_id"), "text"
    )
    return vocab_drift(old, kept.unionByName(added))


def _vocab_drift_oracle() -> str:
    from .functions.snapshot import DRIFT_TOP_K

    return f"""
        WITH old AS (SELECT doc_id, text FROM documents),
        new AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                        THEN text || '{DIFF_SUFFIX}' ELSE text END AS text
            FROM documents WHERE doc_id % {DIFF_DROP_MOD} != 0
            UNION ALL
            SELECT doc_id + {DIFF_ADD_SHIFT}, text
            FROM documents WHERE doc_id % {DIFF_ADD_MOD} = 0
        ),
        co AS (
            SELECT unnest(string_split(text, ' ')) AS token,
                   CAST(1 AS BIGINT) AS one
            FROM old
        ),
        cn AS (
            SELECT unnest(string_split(text, ' ')) AS token,
                   CAST(1 AS BIGINT) AS one
            FROM new
        ),
        go AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_old
               FROM co GROUP BY 1),
        gn AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_new
               FROM cn GROUP BY 1),
        j AS (
            SELECT COALESCE(go.token, gn.token) AS token,
                   COALESCE(c_old, 0) AS c_old,
                   COALESCE(c_new, 0) AS c_new
            FROM go FULL OUTER JOIN gn ON go.token = gn.token
        ),
        t AS (SELECT CAST(SUM(c_old) AS BIGINT) AS t_old,
                     CAST(SUM(c_new) AS BIGINT) AS t_new FROM j),
        x AS (
            SELECT j.token, j.c_old, j.c_new,
                   abs(j.c_old::HUGEINT * t.t_new
                       - j.c_new::HUGEINT * t.t_old) AS xv,
                   t.t_old, t.t_new
            FROM j CROSS JOIN t
        ),
        tot AS (
            SELECT CAST((1000::HUGEINT * SUM(xv))
                        // (MAX(t_old)::HUGEINT * MAX(t_new))
                        AS BIGINT) AS total_l1_permille
            FROM x
        ),
        ranked AS (
            SELECT CAST(ROW_NUMBER() OVER (
                       ORDER BY (1000::HUGEINT * xv)
                                // (t_old::HUGEINT * t_new) DESC,
                                token ASC) AS BIGINT) AS rank,
                   token, c_old, c_new,
                   CAST((1000::HUGEINT * xv) // (t_old::HUGEINT * t_new)
                        AS BIGINT) AS drift_permille
            FROM x
        )
        SELECT rank, token, c_old, c_new, drift_permille,
               tot.total_l1_permille
        FROM ranked CROSS JOIN tot
        WHERE rank <= {DRIFT_TOP_K}"""


ORACLES["q_vocab_drift"] = _vocab_drift_oracle()


def q_probe_image(spark, sf_dir):
    """JFIF marker-stream probe (r5 continued): real JPEG container
    parsing over derived blobs -- completes the image/audio/video probe
    triad."""
    from .functions.multimodal import attach_jpeg_blob, probe_image

    return probe_image(attach_jpeg_blob(_docs(spark, sf_dir)))


# every probed field recomputed from the generating doc_id formula +
# strlen(text) -- codec-free, so a wrong parser hash-mismatches
ORACLES["q_probe_image"] = """
        SELECT doc_id,
               CAST(1 AS BIGINT) AS jfif_major,
               CAST(2 AS BIGINT) AS jfif_minor,
               doc_id % 100 + 72 AS xdensity,
               CAST(72 AS BIGINT) AS ydensity,
               doc_id % 320 + 16 AS width,
               doc_id % 240 + 16 AS height,
               doc_id % 3 + 1 AS n_components,
               least(CAST(strlen(text) AS BIGINT), 65533) AS comment_bytes
        FROM documents WHERE length(text) > 0"""


def q_props_stats(spark, sf_dir):
    """JSON payload extraction + rollup (r5 continued): JVM json-path
    over events.props, per-type integer stats."""
    from .functions.sequences import props_stats

    return props_stats(load_table(spark, sf_dir, "events"))


ORACLES["q_props_stats"] = """
        WITH e AS (
            -- TRY_CAST, not CAST (ADVICE r5): Spark's cast of a
            -- non-integral extracted string to long yields NULL silently,
            -- so the oracle must null-on-failure too instead of raising
            SELECT event_type,
                   TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(k) AS BIGINT) AS n_with_k,
               CAST(MIN(k) AS BIGINT) AS k_min,
               CAST(MAX(k) AS BIGINT) AS k_max,
               CAST(SUM(k) AS BIGINT) AS k_sum
        FROM e GROUP BY 1"""


# --------------------------------------------- r6: incremental ANN index

def q_ann_increment(spark, sf_dir):
    """Incremental embedding-index maintenance (r5 verdict ask #5): fold a
    new vector batch (vec_id % 5 == 4, an interleaved 20%) into an IVF
    index fitted on the other 80% -- map-only assignment against broadcast
    centroids plus the persisted O(k)-row per-cell baseline; the corpus is
    never rescanned.  Cells whose new-batch mean assignment cosine drops
    > 0.05 below baseline are flagged for quantizer refit."""
    from .functions.similarity import (
        ann_increment,
        ann_index_stats,
        ivf_centroids,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    new_batch = emb.filter(F.col("vec_id") % 5 == 4)
    cents = ivf_centroids(corpus)
    return ann_increment(new_batch, cents, ann_index_stats(corpus, cents))


def _ann_increment_oracle() -> str:
    dot_vc = """list_reduce(list_prepend(0.0,
                   list_transform(range(1, 65),
                       i -> n.v[CAST(i AS INT)] * c.cv[CAST(i AS INT)])),
                   (a, b) -> a + b)"""
    assign = """SELECT vec_id, cell, cscore FROM (
                SELECT vec_id, cell, cscore,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cscore DESC, cell) AS rn
                FROM (
                    SELECT n.vec_id, c.cell,
                           {dot} / (n.nrm * c.cnrm) AS cscore
                    FROM {src} n CROSS JOIN cnormed c
                )
            ) WHERE rn = 1"""
    return f"""
        WITH emb AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, label, v,
                   sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)),
                        (a, b) -> a + b)) AS nrm
            FROM emb
        ),
        corpus AS (SELECT * FROM normed WHERE vec_id % 5 != 4),
        newb   AS (SELECT * FROM normed WHERE vec_id % 5 = 4),
        dims AS (
            SELECT label, CAST(t.i - 1 AS INT) AS dim,
                   CAST(round(v[CAST(t.i AS INT)] * 1000000) AS BIGINT) AS q
            FROM corpus CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) t
        ),
        cent AS (
            SELECT label AS cell, dim,
                   CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS c
            FROM dims GROUP BY 1, 2
        ),
        cnormed AS (
            SELECT cell, cv,
                   sqrt(list_reduce(list_prepend(0.0,
                            list_transform(cv, x -> x * x)),
                        (a, b) -> a + b)) AS cnrm
            FROM (SELECT cell, list(c ORDER BY dim) AS cv FROM cent
                  GROUP BY cell)
        ),
        cassign AS ({assign.format(dot=dot_vc, src="corpus")}),
        nassign AS ({assign.format(dot=dot_vc, src="newb")}),
        base AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_corpus,
                   CAST(SUM(CAST(round(cscore * 1000000) AS BIGINT))
                        AS BIGINT) / 1000000.0 / COUNT(*) AS base_mean_raw
            FROM cassign GROUP BY 1
        ),
        inc AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_new,
                   CAST(SUM(CAST(round(cscore * 1000000) AS BIGINT))
                        AS BIGINT) / 1000000.0 / COUNT(*) AS new_mean_raw
            FROM nassign GROUP BY 1
        ),
        joined AS (
            -- FULL join (ADVICE r6): new mass landing in a cell with zero
            -- corpus vectors must surface (n_corpus = 0, growth TRUE),
            -- mirroring ann_increment's full-outer semantics
            SELECT cell,
                   CAST(coalesce(b.n_corpus, 0) AS BIGINT) AS n_corpus,
                   CAST(coalesce(i.n_new, 0) AS BIGINT) AS n_new,
                   b.base_mean_raw, i.new_mean_raw
            FROM base b FULL JOIN inc i USING (cell)
        )
        SELECT cell, n_corpus, n_new,
               round(base_mean_raw, 6) AS base_mean,
               round(new_mean_raw, 6) AS new_mean,
               coalesce(new_mean_raw < base_mean_raw - 0.05, FALSE)
                   AS drift_flagged,
               (n_new * SUM(n_corpus) OVER ())
                   > (3 * n_corpus * SUM(n_new) OVER ()) AS growth_flagged
        FROM joined"""


ORACLES["q_ann_increment"] = _ann_increment_oracle()


# ------------------------------------------------ r6: shared-quantizer fit

def q_shared_fit(spark, sf_dir):
    """Fit-once quantizer pipeline (r5 verdict ask #7): ``kmeans_fit``
    runs ONCE (persisted, k x dim rows), then BOTH consumers -- the ANN
    search surface and SemDeDup -- reuse the fitted centroids, instead of
    each refitting the identical 5-iteration Lloyd fit.  The fit reads
    its whole fit set (the corpus, or a ``sample_fraction`` sample) into
    one worker, so fit-once halves that stage of an embedding pipeline.
    Output is the tagged union of both consumers (src='ann': top-k
    neighbors; src='sem': semantic near-dup pairs), which makes the
    shared fit oracle-checkable in one hash: the DuckDB side unrolls the
    Lloyd CTEs ONCE and feeds both tails from the same ``assign``
    relation.

    Laziness (r11 verdict ask #6): building this DataFrame runs ZERO
    Spark jobs beyond the table load's parquet-footer metadata read
    (pinned in tests/test_plans.py) -- the former eager
    ``cents.count()`` ran the fit before the driver's timer started the
    returned plan.  The fit still executes exactly once: ``track()``
    persists the centroids, the cache manager swaps BOTH consumer
    subtrees for the same InMemoryRelation at first-action planning
    time, and block-level get-or-compute locks make each cached
    partition compute once even with both tails in one job."""
    from .cache import track
    from .functions.similarity import ann_topk, kmeans_fit, semantic_dedup_pairs

    emb = _emb(spark, sf_dir)
    cents = track(kmeans_fit(emb, k=8, iters=5))
    ann = ann_topk(emb, centroids=cents).select(
        F.lit("ann").alias("src"),
        F.col("query_vec_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cosine",
    )
    sem = semantic_dedup_pairs(emb, threshold=0.3, centroids=cents).select(
        F.lit("sem").alias("src"),
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        "cosine",
    )
    return ann.unionByName(sem)


def _shared_fit_oracle(
    n_cells: int = 8, iters: int = 5, nprobe: int = 3, n_queries: int = 5,
    k: int = 10, threshold: float = 0.3,
) -> str:
    """One unrolled Lloyd fit, two consumer tails -- the oracle mirror of
    the fit-once pipeline."""
    ctes = _kmeans_assign_ctes(n_cells, iters)
    ctes.append(
        f"""probes AS (
            SELECT cell, vec_id AS query_vec_id, v AS qv, nrm AS qn
            FROM cscored WHERE vec_id < {n_queries} AND crn <= {nprobe}
        )"""
    )
    ctes.append(
        """cand AS (
            SELECT p.query_vec_id, a.vec_id AS neighbor_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> p.qv[CAST(i AS INT)] * a.v[CAST(i AS INT)])),
                       (x, y) -> x + y) / (p.qn * a.nrm) AS cos_exact
            FROM probes p JOIN assign a USING (cell)
            WHERE a.vec_id != p.query_vec_id
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT 'ann' AS src, query_vec_id AS id_a, neighbor_id AS id_b,
               round(cos_exact, 6) AS cosine
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_vec_id
                                         ORDER BY cos_exact DESC, neighbor_id) AS rn
            FROM cand
        ) WHERE rn <= {k}
        UNION ALL
        SELECT 'sem' AS src, a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_reduce(list_prepend(0.0,
                   list_transform(range(1, 65),
                       i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
                   (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
        FROM assign a JOIN assign b USING (cell)
        WHERE a.vec_id < b.vec_id
          AND round(list_reduce(list_prepend(0.0,
                  list_transform(range(1, 65),
                      i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)])),
                  (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= {threshold}"""
    )


ORACLES["q_shared_fit"] = _shared_fit_oracle()


# ------------------------------------------------- r6: incremental PQ index

def q_pq_increment(spark, sf_dir):
    """Incremental PQ-index maintenance (the ann_increment pattern on the
    product quantizer): codebooks fit on the 80% corpus (vec_id % 5 != 4),
    the interleaved 20% new batch encoded map-only against them, and
    per-subspace quantization error compared to the persisted baseline --
    a subspace whose new-batch mean error exceeds 1.5x baseline flags a
    codebook refit.  The corpus is never re-read on the increment path.

    Laziness (r12 verdict ask #3): building this DataFrame runs ZERO
    Spark jobs (pinned in tests/test_plans.py) -- ``track()`` persists
    the codebook and the cache manager swaps every consumer subtree for
    one InMemoryRelation at first-action planning time, so the Lloyd
    chain still materializes exactly once without an eager count."""
    from .cache import track
    from .functions.pq import pq_error_stats, pq_fit, pq_increment

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    new_batch = emb.filter(F.col("vec_id") % 5 == 4)
    cb = track(pq_fit(corpus))
    return pq_increment(new_batch, cb, pq_error_stats(corpus, cb))


def _pq_fit_split_ctes():
    """The PQ Lloyd fit on the 80/20 interleaved split, unrolled as CTEs
    (emb, svall, sv = corpus, svnew = new batch, c0..c{iters}) -- shared
    by the q_pq_increment and q_pq_refit oracles.  Returns
    (ctes, l2, m, k, sd, iters); the final codebook relation is
    ``c{iters}``."""
    from .functions.pq import PQ_ITERS, PQ_K, PQ_M, PQ_SUB_DIM

    m, k, sd, iters = PQ_M, PQ_K, PQ_SUB_DIM, PQ_ITERS

    def l2(a: str, b: str) -> str:
        return f"""list_reduce(list_prepend(0.0,
                   list_transform(range(1, {sd + 1}),
                       li -> ({a}[CAST(li AS INT)] - {b}[CAST(li AS INT)])
                           * ({a}[CAST(li AS INT)] - {b}[CAST(li AS INT)]))),
                   (lx, ly) -> lx + ly)"""

    ctes = [
        """emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )""",
        f"""svall AS (
            SELECT vec_id, CAST(u.s AS INT) AS sub,
                   list_slice(v, CAST(u.s * {sd} + 1 AS INT),
                              CAST(u.s * {sd} + {sd} AS INT)) AS svec
            FROM emb CROSS JOIN (SELECT UNNEST(range(0, {m})) AS s) u
        )""",
        "sv AS (SELECT * FROM svall WHERE vec_id % 5 != 4)",
        "svnew AS (SELECT * FROM svall WHERE vec_id % 5 = 4)",
        f"""c0 AS (
            SELECT sub, CAST(rn - 1 AS INT) AS cell, svec AS cv FROM (
                SELECT sub, svec,
                       row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
                FROM sv
            ) WHERE rn <= {k}
        )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""s{t} AS (
            SELECT a.vec_id, a.sub, a.svec, c.cell,
                   {l2('a.svec', 'c.cv')} AS d
            FROM sv a JOIN c{t} c USING (sub)
        )"""
        )
        ctes.append(
            f"""a{t} AS (
            SELECT sub, cell, svec FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                             ORDER BY d, cell) AS rn
                FROM s{t}
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""d{t} AS (
            SELECT sub, cell, CAST(u.i - 1 AS INT) AS dim,
                   CAST(round(svec[CAST(u.i AS INT)] * 1000000) AS BIGINT) AS q
            FROM a{t} CROSS JOIN (SELECT UNNEST(range(1, {sd + 1})) AS i) u
        )"""
        )
        ctes.append(
            f"""m{t} AS (
            SELECT sub, cell, dim,
                   CAST(SUM(q) AS BIGINT) / 1000000.0 / COUNT(*) AS c
            FROM d{t} GROUP BY 1, 2, 3
        )"""
        )
        ctes.append(
            f"""c{t + 1} AS (
            SELECT sub, cell, cv FROM (
                SELECT sub, cell, list(c ORDER BY dim) AS cv
                FROM m{t} GROUP BY 1, 2
            )
        )"""
        )
    return ctes, l2, m, k, sd, iters


def _pq_increment_oracle() -> str:
    """Fit the m codebooks on the corpus split (the q_pq_topk unrolled
    Lloyd, restricted to vec_id % 5 != 4), then per-subspace mean
    quantization error for corpus (baseline) and new split."""
    ctes, l2, m, k, sd, iters = _pq_fit_split_ctes()
    # min over cells == the encode fold's winning distance (exact double min)
    err = (
        """{name} AS (
            SELECT a.vec_id, a.sub, MIN({l2}) AS err
            FROM {src} a JOIN c{it} c USING (sub)
            GROUP BY 1, 2
        )"""
    )
    ctes.append(err.format(name="cerr", src="sv", it=iters,
                           l2=l2("a.svec", "c.cv")))
    ctes.append(err.format(name="nerr", src="svnew", it=iters,
                           l2=l2("a.svec", "c.cv")))
    ctes.append(
        """base AS (
            SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_corpus,
                   CAST(SUM(CAST(round(err * 1000000) AS BIGINT)) AS BIGINT)
                       / 1000000.0 / COUNT(*) AS base_err_raw
            FROM cerr GROUP BY 1
        )"""
    )
    ctes.append(
        """inc AS (
            SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_new,
                   CAST(SUM(CAST(round(err * 1000000) AS BIGINT)) AS BIGINT)
                       / 1000000.0 / COUNT(*) AS new_err_raw
            FROM nerr GROUP BY 1
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + """
        SELECT b.sub, b.n_corpus,
               CAST(coalesce(i.n_new, 0) AS BIGINT) AS n_new,
               round(b.base_err_raw, 6) AS base_err,
               round(i.new_err_raw, 6) AS new_err,
               coalesce(i.new_err_raw > b.base_err_raw * 1.5, FALSE)
                   AS drift_flagged
        FROM base b LEFT JOIN inc i USING (sub)"""
    )


ORACLES["q_pq_increment"] = _pq_increment_oracle()


# ------------------------------------------- r7: bench-only heavyweights
# kll_quantiles is non-oracle BY DESIGN -- its independent evidence is
# bit-parity with the pure-numpy reference in tests/test_kll.py -- so it
# registers as a bench target, not an ORACLES row.

def q_kll_quantiles(spark, sf_dir):
    """KLL rank-error quantiles over events.value per event_type: the
    mergeable-sketch heavyweight (two-level applyInPandas build + merge).
    Non-oracle by design; see tests/test_kll.py for the parity, rank-error
    and repartition-invariance evidence."""
    from .functions.kll import kll_quantiles

    return kll_quantiles(spark.read.parquet(f"{sf_dir}/events.parquet"))


# --------------------------------------- r7: span-granular substring dedup

def q_shared_spans(spark, sf_dir):
    """Maximal shared token spans behind winnowing candidate pairs
    (r6 verdict ask #7): the Lee-et-al exact-substring step at span
    granularity -- diagonal runs of matching positional k-grams, islands
    per (pair, diagonal).  Doc slice (doc_id < 1000) keeps the
    self-similar fixture's output bounded, the q_ngram_jaccard
    convention."""
    from .functions.winnow import shared_spans

    return shared_spans(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))


def _shared_spans_oracle() -> str:
    # same fold-hash idiom as the q_winnow oracle; k=3, w=4, min_shared=2,
    # min_tokens=6 literals
    return f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
            WHERE doc_id < 1000
        ),
        grams AS (
            SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
                   {_fold3_sql("(l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2])")} AS h
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
            FROM grams GROUP BY 1
        ),
        wins AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM grams
        ),
        sel AS (
            SELECT w.doc_id, w.wmin AS mz
            FROM wins w JOIN stats s USING (doc_id)
            WHERE s.ng >= 4 AND w.pos <= s.ng - 3
            UNION
            SELECT g.doc_id, MIN(g.h) AS mz
            FROM grams g JOIN stats s USING (doc_id)
            WHERE s.ng < 4 GROUP BY g.doc_id
        ),
        selc AS (
            SELECT doc_id, mz FROM (
                SELECT doc_id, mz, row_number() OVER (
                    PARTITION BY mz
                    ORDER BY (2654435761 * doc_id + 104729) % 2147483647,
                             doc_id) AS rnk
                FROM sel
            ) WHERE rnk <= 2048
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM selc a JOIN selc b ON a.mz = b.mz AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        matches AS (
            SELECT p.doc_a, p.doc_b, ga.pos AS pa, gb.pos AS pb
            FROM pairs p
            JOIN grams ga ON ga.doc_id = p.doc_a
            JOIN grams gb ON gb.doc_id = p.doc_b AND gb.h = ga.h
        ),
        runs AS (
            SELECT doc_a, doc_b, pa, pa - pb AS diag,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                           ORDER BY pa) AS grp
            FROM matches
        )
        SELECT doc_a, doc_b,
               CAST(MIN(pa) AS BIGINT) AS start_a,
               CAST(MIN(pa) - diag AS BIGINT) AS start_b,
               CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
        FROM runs
        GROUP BY doc_a, doc_b, diag, grp
        HAVING COUNT(*) + 2 >= 6"""


ORACLES["q_shared_spans"] = _shared_spans_oracle()


# ------------------------------------------- r7: incremental refit oracle

def q_ann_refit(spark, sf_dir):
    """Incremental centroid refit end-to-end (r6 verdict ask #3): fit on
    the 80% corpus split, fold the interleaved 20% new batch in via the
    additive vector-mass shard + ``kmeans_update`` weighted mean -- the
    corpus is never rescanned on the refit path.  Output is the updated
    centroid table itself in exploded long form (cell, dim, cv_micro
    BIGINT) -- the r8 verdict's reshape: the driver comparator
    canonicalizes with a pandas sort and cannot hash ARRAY columns, so
    the driver surface carries only scalar columns (the engine API keeps
    the array form).  The oracle hash covers the whole chain: Lloyd fit,
    baseline counts, fold assignment of the new batch, integer mass
    sums, and the update arithmetic."""
    from .cache import track
    from .functions.similarity import (
        ann_index_stats,
        ann_vector_shard,
        kmeans_fit,
        kmeans_update,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    newb = emb.filter(F.col("vec_id") % 5 == 4)
    # lazy fit (r12 verdict ask #3): track() alone -- building the query
    # runs zero jobs; the fit materializes once at first action
    cents = track(kmeans_fit(corpus, k=8, iters=5))
    # micro form: BIGINT 1e-6 units via pure-integer half-up division --
    # engine-bit-exact (round(x, 6) on the double form can differ across
    # engines at decimal-representation boundaries; observed at sf0.01)
    upd = kmeans_update(
        cents,
        ann_index_stats(corpus, cents),
        ann_vector_shard(newb, cents),
        micro=True,
    )
    # driver-surface reshape: scalar long form, no ARRAY columns
    return upd.select(
        "cell", F.posexplode("cv_micro").alias("dim", "cv_micro")
    ).select("cell", F.col("dim").cast("long").alias("dim"), "cv_micro")


def _ann_refit_oracle(n_cells: int = 8, iters: int = 5) -> str:
    """The unrolled Lloyd fit restricted to the 80% split, then the
    kmeans_update weighted mean replicated bit-exactly: integer numerator
    (n_base * round(cv*1e6) + vsum), one double division."""
    dot_vc = """list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> n.v[CAST(i AS INT)] * c.cv[CAST(i AS INT)])),
                       (a, b) -> a + b)"""
    ctes = _kmeans_assign_ctes(n_cells, iters)
    # the fit sees only the corpus split
    ctes[0] = """emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE vec_id % 5 != 4
        )"""
    ctes.append(
        """base AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_base
            FROM assign GROUP BY 1
        )"""
    )
    ctes.append(
        """nnormed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)),
                        (a, b) -> a + b)) AS nrm
            FROM (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings WHERE vec_id % 5 = 4
            )
        )"""
    )
    ctes.append(
        f"""nassign AS (
            SELECT cell, vec_id, v FROM (
                SELECT n.vec_id, n.v, c.cell,
                       row_number() OVER (PARTITION BY n.vec_id
                                          ORDER BY {dot_vc} / (n.nrm * c.cnrm)
                                              DESC, c.cell) AS rn
                FROM nnormed n CROSS JOIN c{iters} c
            ) WHERE rn = 1
        )"""
    )
    ctes.append(
        """vsums AS (
            SELECT cell, CAST(u.i - 1 AS INT) AS dim,
                   CAST(SUM(CAST(round(v[CAST(u.i AS INT)] * 1000000)
                                 AS BIGINT)) AS BIGINT) AS vs,
                   CAST(COUNT(*) AS BIGINT) AS n_new
            FROM nassign CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) u
            GROUP BY 1, 2
        )"""
    )
    ctes.append(
        f"""upd AS (
            SELECT cell, i,
                   CASE WHEN n_new IS NULL THEN cq
                        WHEN nn < 0 THEN -((2 * -nn + dd) // (2 * dd))
                        ELSE (2 * nn + dd) // (2 * dd)
                   END AS m
            FROM (
                SELECT c.cell, u.i AS i, vs.n_new,
                       CAST(round(c.cv[CAST(u.i AS INT)] * 1000000)
                            AS BIGINT) AS cq,
                       coalesce(b.n_base, 0)
                           * CAST(round(c.cv[CAST(u.i AS INT)] * 1000000)
                                  AS BIGINT)
                           + vs.vs AS nn,
                       coalesce(b.n_base, 0) + vs.n_new AS dd
                FROM c{iters} c
                CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) u
                LEFT JOIN base b ON b.cell = c.cell
                LEFT JOIN vsums vs ON vs.cell = c.cell AND vs.dim = u.i - 1
            )
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + """
        SELECT cell, CAST(i - 1 AS BIGINT) AS dim, CAST(m AS BIGINT) AS cv_micro
        FROM upd"""
    )


ORACLES["q_ann_refit"] = _ann_refit_oracle()


# --------------------------------------- r7: duplicated-passage inventory

def q_dup_passages(spark, sf_dir):
    """Corpus-level duplicated-passage inventory (the roll-up of
    q_shared_spans): passage identity = md5 of the matched gram-hash run,
    counted over distinct documents.  Same doc slice as q_shared_spans."""
    from .functions.winnow import duplicated_passages

    return duplicated_passages(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))


def _dup_passages_oracle() -> str:
    return f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
            WHERE doc_id < 1000
        ),
        grams AS (
            SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
                   {_fold3_sql("(l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2])")} AS h
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
            FROM grams GROUP BY 1
        ),
        wins AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM grams
        ),
        sel AS (
            SELECT w.doc_id, w.wmin AS mz
            FROM wins w JOIN stats s USING (doc_id)
            WHERE s.ng >= 4 AND w.pos <= s.ng - 3
            UNION
            SELECT g.doc_id, MIN(g.h) AS mz
            FROM grams g JOIN stats s USING (doc_id)
            WHERE s.ng < 4 GROUP BY g.doc_id
        ),
        selc AS (
            SELECT doc_id, mz FROM (
                SELECT doc_id, mz, row_number() OVER (
                    PARTITION BY mz
                    ORDER BY (2654435761 * doc_id + 104729) % 2147483647,
                             doc_id) AS rnk
                FROM sel
            ) WHERE rnk <= 2048
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM selc a JOIN selc b ON a.mz = b.mz AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        matches AS (
            SELECT p.doc_a, p.doc_b, ga.pos AS pa, gb.pos AS pb, ga.h
            FROM pairs p
            JOIN grams ga ON ga.doc_id = p.doc_a
            JOIN grams gb ON gb.doc_id = p.doc_b AND gb.h = ga.h
        ),
        runs AS (
            SELECT doc_a, doc_b, pa, h, pa - pb AS diag,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                           ORDER BY pa) AS grp
            FROM matches
        ),
        spans AS (
            SELECT doc_a, doc_b,
                   CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens,
                   md5(array_to_string(
                       list_transform(list(h ORDER BY pa),
                                      x -> CAST(x AS VARCHAR)), '-'))
                       AS passage_digest
            FROM runs
            GROUP BY doc_a, doc_b, diag, grp
            HAVING COUNT(*) + 2 >= 6
        ),
        pdocs AS (
            SELECT passage_digest, n_tokens, doc_a AS doc FROM spans
            UNION ALL
            SELECT passage_digest, n_tokens, doc_b FROM spans
        )
        SELECT passage_digest, n_tokens,
               CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
               CAST(MIN(doc) AS BIGINT) AS example_doc
        FROM pdocs
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT doc) >= 2"""


ORACLES["q_dup_passages"] = _dup_passages_oracle()


# ---------------------------------------------------- r7: soft dedup

def q_softdedup(spark, sf_dir):
    """Soft dedup weights (r7): every document down-weighted by its
    near-dup cluster size (1e6 // size ppm, singletons 1e6) -- the
    keep-everything alternative to keeper election, composed from the
    minhash pair + cluster chain the hard path uses."""
    from .functions.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        softdedup_weights,
    )

    docs = _docs(spark, sf_dir)
    return softdedup_weights(docs, dedup_clusters(minhash_lsh_pairs(docs)))


_softdedup_clusters_sql = ORACLES["q_dedup_clusters"]
ORACLES["q_softdedup"] = f"""
        SELECT d.doc_id,
               CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               CAST(coalesce(c.cluster_size, 1) AS BIGINT) AS cluster_size,
               CAST(greatest(1, 1000000 // coalesce(c.cluster_size, 1))
                    AS BIGINT) AS weight_ppm
        FROM documents d
        LEFT JOIN ({_softdedup_clusters_sql}) c ON c.doc_id = d.doc_id"""


# ------------------------------------------- r7: token-budget sampling

TOKEN_BUDGETS = [("src0", 400), ("src1", 700), ("src2", 100000), ("src3", 1)]


def q_token_budget(spark, sf_dir):
    """Token-budget mixture sampling (r7): each source sampled in
    affine-hash order until its TOKEN budget is reached (src2's budget
    exceeds its mass = keep all; src3's budget of 1 keeps exactly the
    first hash-ordered doc)."""
    from .functions.sampling import token_budget_sample

    return token_budget_sample(
        _docs(spark, sf_dir), "source", "doc_id", dict(TOKEN_BUDGETS)
    )


def _token_budget_oracle() -> str:
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    vals = ", ".join(f"('{s}', {b})" for s, b in TOKEN_BUDGETS)
    return f"""
        WITH bud(source, budget) AS (VALUES {vals}),
        t AS (
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
                   CAST(len(list_filter(string_split(d.text, ' '),
                                        w -> len(w) > 0)) AS BIGINT)
                       AS n_tokens,
                   ({HASH_A} * d.doc_id + {HASH_B}) % {HASH_P} AS h
            FROM documents d JOIN bud b USING (source)
        ),
        c AS (
            SELECT t.*, b.budget,
                   SUM(n_tokens) OVER (PARTITION BY t.source
                                       ORDER BY h, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cum_tokens
            FROM t JOIN bud b USING (source)
        )
        SELECT doc_id, text, lang, source, n_chars, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens - n_tokens < budget"""


ORACLES["q_token_budget"] = _token_budget_oracle()


# ------------------------------------------- r7: PQ incremental refit oracle

def q_pq_refit(spark, sf_dir):
    """Incremental PQ codebook refit end-to-end (the q_ann_refit recipe
    on the product quantizer): codebooks fit on the 80% split, the
    interleaved 20% batch folded in via the additive per-codeword
    subvector mass + ``pq_update`` weighted mean -- corpus never
    rescanned on the refit path.  Output is the updated codebook in
    engine-bit-exact integer micro-units, exploded to the scalar long
    form (sub, cell, dim, cv_micro BIGINT) for the driver comparator
    (the r8 verdict's reshape -- no ARRAY columns on the driver
    surface; the engine API keeps the array form)."""
    from .cache import track
    from .functions.pq import pq_cell_stats, pq_fit, pq_update, pq_vector_shard

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    newb = emb.filter(F.col("vec_id") % 5 == 4)
    # lazy fit (r12 verdict ask #3): track() alone -- building the query
    # runs zero jobs; the fit materializes once at first action
    cb = track(pq_fit(corpus))
    upd = pq_update(
        cb, pq_cell_stats(corpus, cb), pq_vector_shard(newb, cb), micro=True
    )
    # driver-surface reshape: scalar long form, no ARRAY columns
    return upd.select(
        "sub", "cell", F.posexplode("cv_micro").alias("dim", "cv_micro")
    ).select(
        "sub", "cell", F.col("dim").cast("long").alias("dim"), "cv_micro"
    )


def _pq_refit_oracle() -> str:
    """The shared PQ Lloyd fit, one final corpus encode (baseline counts),
    one new-batch encode (per-codeword mass), then the pure-integer
    half-away-from-zero weighted-mean update."""
    ctes, l2, m, k, sd, iters = _pq_fit_split_ctes()
    # final-codebook encode of corpus (baseline counts) and new batch
    enc = """{name} AS (
            SELECT sub, cell, svec FROM (
                SELECT a.sub, a.svec, c.cell,
                       row_number() OVER (PARTITION BY a.vec_id, a.sub
                                          ORDER BY {l2}, c.cell) AS rn
                FROM {src} a JOIN c{it} c USING (sub)
            ) WHERE rn = 1
        )"""
    ctes.append(enc.format(name="cenc", src="sv", it=iters,
                           l2=l2("a.svec", "c.cv")))
    ctes.append(enc.format(name="nenc", src="svnew", it=iters,
                           l2=l2("a.svec", "c.cv")))
    ctes.append(
        """base AS (
            SELECT sub, cell, CAST(COUNT(*) AS BIGINT) AS n_base
            FROM cenc GROUP BY 1, 2
        )"""
    )
    ctes.append(
        f"""vsums AS (
            SELECT sub, cell, CAST(u.i - 1 AS INT) AS dim,
                   CAST(SUM(CAST(round(svec[CAST(u.i AS INT)] * 1000000)
                                 AS BIGINT)) AS BIGINT) AS vs,
                   CAST(COUNT(*) AS BIGINT) AS n_new
            FROM nenc CROSS JOIN (SELECT UNNEST(range(1, {sd + 1})) AS i) u
            GROUP BY 1, 2, 3
        )"""
    )
    ctes.append(
        f"""upd AS (
            SELECT sub, cell, i,
                   CASE WHEN n_new IS NULL THEN cq
                        WHEN nn < 0 THEN -((2 * -nn + dd) // (2 * dd))
                        ELSE (2 * nn + dd) // (2 * dd)
                   END AS mval
            FROM (
                SELECT c.sub, c.cell, u.i AS i, vs.n_new,
                       CAST(round(c.cv[CAST(u.i AS INT)] * 1000000)
                            AS BIGINT) AS cq,
                       coalesce(b.n_base, 0)
                           * CAST(round(c.cv[CAST(u.i AS INT)] * 1000000)
                                  AS BIGINT)
                           + vs.vs AS nn,
                       coalesce(b.n_base, 0) + vs.n_new AS dd
                FROM c{iters} c
                CROSS JOIN (SELECT UNNEST(range(1, {sd + 1})) AS i) u
                LEFT JOIN base b ON b.sub = c.sub AND b.cell = c.cell
                LEFT JOIN vsums vs ON vs.sub = c.sub AND vs.cell = c.cell
                                   AND vs.dim = u.i - 1
            )
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + """
        SELECT sub, cell, CAST(i - 1 AS BIGINT) AS dim,
               CAST(mval AS BIGINT) AS cv_micro
        FROM upd"""
    )


ORACLES["q_pq_refit"] = _pq_refit_oracle()


# ------------------------------------- r7: embedding-space decontamination

def q_semantic_decontam(spark, sf_dir):
    """Embedding-space eval decontamination (r7): eval set = vec_id < 10,
    corpus = the rest; every corpus vector scored by max cosine to the
    broadcast eval set in one map-only fold pass."""
    from .functions.similarity import semantic_decontaminate

    emb = _emb(spark, sf_dir)
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10)
    )


ORACLES["q_semantic_decontam"] = """
        WITH emb AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id, v,
                   sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)),
                        (a, b) -> a + b)) AS nrm
            FROM emb
        ),
        ev AS (SELECT * FROM normed WHERE vec_id < 10),
        corpus AS (SELECT * FROM normed WHERE vec_id >= 10),
        scored AS (
            SELECT c.vec_id, e.vec_id AS eval_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(1, 65),
                           i -> c.v[CAST(i AS INT)] * e.v[CAST(i AS INT)])),
                       (a, b) -> a + b) / (c.nrm * e.nrm) AS cos
            FROM corpus c CROSS JOIN ev e
        ),
        best AS (
            SELECT vec_id, eval_id, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cos DESC, eval_id) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT vec_id,
               CAST(eval_id AS BIGINT) AS nearest_eval_id,
               round(cos, 6) AS max_eval_cosine,
               round(cos, 6) >= 0.45 AS contaminated
        FROM best"""


# --------------------------------------- r7: exact-substring span removal

def q_span_dedup(spark, sf_dir):
    """The removal step of exact-substring dedup (the q_shared_spans
    payoff): every shared span cut from the higher-doc_id pair member,
    overlapping cuts merged; output is the per-doc digest of the cleaned
    text (token counts + md5).  Same doc slice as q_shared_spans."""
    from .functions.winnow import remove_shared_spans

    return remove_shared_spans(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))


def _span_dedup_oracle() -> str:
    # the q_shared_spans CTEs (spans with start_b on the loser side), then
    # interval merge per loser doc + token rebuild + digest
    return f"""
        WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS l FROM documents
            WHERE doc_id < 1000
        ),
        grams AS (
            SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
                   {_fold3_sql("(l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2])")} AS h
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
            FROM grams GROUP BY 1
        ),
        wins AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM grams
        ),
        sel AS (
            SELECT w.doc_id, w.wmin AS mz
            FROM wins w JOIN stats s USING (doc_id)
            WHERE s.ng >= 4 AND w.pos <= s.ng - 3
            UNION
            SELECT g.doc_id, MIN(g.h) AS mz
            FROM grams g JOIN stats s USING (doc_id)
            WHERE s.ng < 4 GROUP BY g.doc_id
        ),
        selc AS (
            SELECT doc_id, mz FROM (
                SELECT doc_id, mz, row_number() OVER (
                    PARTITION BY mz
                    ORDER BY (2654435761 * doc_id + 104729) % 2147483647,
                             doc_id) AS rnk
                FROM sel
            ) WHERE rnk <= 2048
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM selc a JOIN selc b ON a.mz = b.mz AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        matches AS (
            SELECT p.doc_a, p.doc_b, ga.pos AS pa, gb.pos AS pb
            FROM pairs p
            JOIN grams ga ON ga.doc_id = p.doc_a
            JOIN grams gb ON gb.doc_id = p.doc_b AND gb.h = ga.h
        ),
        runs AS (
            SELECT doc_a, doc_b, pa, pa - pb AS diag,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                           ORDER BY pa) AS grp
            FROM matches
        ),
        cuts AS (
            SELECT doc_b AS doc_id,
                   CAST(MIN(pa) - diag AS BIGINT) AS s,
                   CAST(MIN(pa) - diag + COUNT(*) + 1 AS BIGINT) AS e
            FROM runs
            GROUP BY doc_a, doc_b, diag, grp
            HAVING COUNT(*) + 2 >= 6
        ),
        marked AS (
            SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS newgrp
            FROM cuts
        ),
        merged AS (
            SELECT doc_id, MIN(s) AS s, MAX(e) AS e
            FROM (
                SELECT *, SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS grp
                FROM marked
            )
            GROUP BY doc_id, grp
        ),
        toks AS (
            SELECT a.doc_id, CAST(t.i AS BIGINT) AS pos, a.l[t.i] AS tok,
                   CAST(len(a.l) AS BIGINT) AS n_tokens
            FROM arr a, LATERAL unnest(generate_series(1, len(a.l))) AS t(i)
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok, t.n_tokens
            FROM toks t
            WHERE NOT EXISTS (
                SELECT 1 FROM merged m
                WHERE m.doc_id = t.doc_id AND t.pos >= m.s AND t.pos <= m.e
            )
        )
        SELECT a.doc_id,
               CAST(len(a.l) AS BIGINT) AS n_tokens,
               CAST(len(a.l) - COUNT(k.pos) AS BIGINT) AS n_removed,
               md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), ''))
                   AS clean_md5
        FROM arr a LEFT JOIN kept k USING (doc_id)
        GROUP BY a.doc_id, len(a.l)"""


ORACLES["q_span_dedup"] = _span_dedup_oracle()


# --------------------------------- r8: six-stage corpus pipeline (ask #3)

def q_corpus_pipeline_v2(spark, sf_dir):
    """The six-stage cleanup pipeline (r8): normalize -> redact ->
    boilerplate strip -> exact-substring span removal -> quality gate ->
    exact-dedup keeper as one plan, over the same three deterministic
    injections as q_corpus_pipeline.  Doc slice (doc_id < 1000) bounds
    the span stage on the self-similar fixture, the q_span_dedup
    convention (full table at sf<=0.01).  One oracle hash covers all six
    stages."""
    from .functions.corpus import corpus_pipeline_v2
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    return corpus_pipeline_v2(
        boilerplate_corpus(
            dirty_corpus(
                pii_corpus(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))
            )
        )
    )


def _corpus_pipeline_v2_oracle() -> str:
    """The v1 prefix CTEs (through the boilerplate spine), the
    q_span_dedup span CTEs re-rooted on the spine's cleaned text, then
    quality scoring + keeper election over the SPAN-CLEANED text --
    every literal (k=3 grams, w=4 windows, 6-token floor, >=2 shared
    minimizers) matches the Spark defaults."""
    from .functions.text import QC_THRESHOLD_MILLI

    return f"""
        {_corpus_prefix_ctes("WHERE doc_id < 1000")},
        arr AS (
            SELECT doc_id, string_split(clean, ' ') AS l FROM spine
        ),
        grams AS (
            SELECT doc_id, CAST(g.i AS BIGINT) AS pos,
                   {_fold3_sql("(l[g.i] || ' ' || l[g.i + 1] || ' ' || l[g.i + 2])")} AS h
            FROM arr, LATERAL unnest(generate_series(1, len(l) - 2)) AS g(i)
        ),
        stats AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
            FROM grams GROUP BY 1
        ),
        wins AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS wmin
            FROM grams
        ),
        sel AS (
            SELECT w.doc_id, w.wmin AS mz
            FROM wins w JOIN stats s USING (doc_id)
            WHERE s.ng >= 4 AND w.pos <= s.ng - 3
            UNION
            SELECT g.doc_id, MIN(g.h) AS mz
            FROM grams g JOIN stats s USING (doc_id)
            WHERE s.ng < 4 GROUP BY g.doc_id
        ),
        selc AS (
            SELECT doc_id, mz FROM (
                SELECT doc_id, mz, row_number() OVER (
                    PARTITION BY mz
                    ORDER BY (2654435761 * doc_id + 104729) % 2147483647,
                             doc_id) AS rnk
                FROM sel
            ) WHERE rnk <= 2048
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM selc a JOIN selc b ON a.mz = b.mz AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        matches AS (
            SELECT p.doc_a, p.doc_b, ga.pos AS pa, gb.pos AS pb
            FROM pairs p
            JOIN grams ga ON ga.doc_id = p.doc_a
            JOIN grams gb ON gb.doc_id = p.doc_b AND gb.h = ga.h
        ),
        runs AS (
            SELECT doc_a, doc_b, pa, pa - pb AS diag,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                           ORDER BY pa) AS grp
            FROM matches
        ),
        cuts AS (
            SELECT doc_b AS doc_id,
                   CAST(MIN(pa) - diag AS BIGINT) AS s,
                   CAST(MIN(pa) - diag + COUNT(*) + 1 AS BIGINT) AS e
            FROM runs
            GROUP BY doc_a, doc_b, diag, grp
            HAVING COUNT(*) + 2 >= 6
        ),
        marked AS (
            SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                         OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS newgrp
            FROM cuts
        ),
        merged AS (
            SELECT doc_id, MIN(s) AS s, MAX(e) AS e
            FROM (
                SELECT *, SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS grp
                FROM marked
            )
            GROUP BY doc_id, grp
        ),
        toks2 AS (
            SELECT a.doc_id, CAST(t.i AS BIGINT) AS pos, a.l[t.i] AS tok,
                   CAST(len(a.l) AS BIGINT) AS n_tokens
            FROM arr a, LATERAL unnest(generate_series(1, len(a.l))) AS t(i)
        ),
        kept2 AS (
            SELECT t.doc_id, t.pos, t.tok, t.n_tokens
            FROM toks2 t
            WHERE NOT EXISTS (
                SELECT 1 FROM merged m
                WHERE m.doc_id = t.doc_id AND t.pos >= m.s AND t.pos <= m.e
            )
        ),
        clean2 AS (
            SELECT a.doc_id,
                   CAST(len(a.l) AS BIGINT) AS n_tokens,
                   CAST(len(a.l) - COUNT(k.pos) AS BIGINT) AS n_removed,
                   coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '')
                       AS clean
            FROM arr a LEFT JOIN kept2 k USING (doc_id)
            GROUP BY a.doc_id, len(a.l)
        ),
        {_qc_score_ctes('clean2', 'clean')},
        hashed AS (
            SELECT c.doc_id, s.n_lines, s.n_kept, c.n_tokens, c.n_removed,
                   CAST(length(c.clean) AS BIGINT) AS clean_len,
                   md5(c.clean) AS clean_md5
            FROM clean2 c JOIN spine s USING (doc_id)
        ),
        keepers AS (
            SELECT clean_md5, CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM hashed GROUP BY clean_md5
        )
        SELECT h.doc_id, h.n_lines, h.n_kept, h.n_tokens, h.n_removed,
               h.clean_len, h.clean_md5,
               s.score_milli,
               s.score_milli >= {QC_THRESHOLD_MILLI} AS keep_quality,
               k.keep_id,
               (s.score_milli >= {QC_THRESHOLD_MILLI})
                 AND (h.doc_id = k.keep_id) AND (h.n_kept > 0) AS final_keep
        FROM hashed h
        JOIN keepers k USING (clean_md5)
        JOIN scored s USING (doc_id)"""


ORACLES["q_corpus_pipeline_v2"] = _corpus_pipeline_v2_oracle()


# ------------------------------------ r8: sample-trained BPE (ask #5)

BPE_SAMPLE_FRACTION = 0.5


def q_bpe_sampled(spark, sf_dir):
    """Sample-trained BPE (r8): merges learned on a deterministic
    hash-sample of the corpus (the at-scale trainer; encode still sees
    every byte via bpe_segment).  The oracle replays the identical
    unrolled training rounds over the identically-filtered doc set, so
    the hash check proves the sampled trainer end to end."""
    from .functions.bpe import bpe_train_sampled

    return bpe_train_sampled(
        _docs(spark, sf_dir), fraction=BPE_SAMPLE_FRACTION
    )


def _bpe_sampled_oracle() -> str:
    from .functions.sampling import _threshold

    thr = _threshold(BPE_SAMPLE_FRACTION)
    where = (
        "WHERE (2654435761 * doc_id + 104729) % 2147483647 < " + str(thr)
    )
    return _bpe_oracle(where=where)


ORACLES["q_bpe_sampled"] = _bpe_sampled_oracle()


# --------------------------------------- r8: per-domain document cap

def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (r8): at most DOMAIN_CAP_N docs per
    domain in deterministic affine-hash order -- the C4/RefinedWeb
    domain-balancing pass, ranked TWO-LEVEL so a megadomain never
    serializes onto one reducer (the token_budget scale recipe applied
    to top-N)."""
    from .functions.urls import (
        DOMAIN_CAP_N,
        canonicalize_urls,
        domain_cap,
        url_corpus,
    )

    return domain_cap(
        canonicalize_urls(url_corpus(_docs(spark, sf_dir))), DOMAIN_CAP_N
    )


# ------------------------------ r8: quality-ordered token-budget curation

def q_quality_budget(spark, sf_dir):
    """Quality-ordered token-budget curation (r8): fill each source's
    token budget BEST-FIRST by the hashed-linear quality score (the
    DCLM-style selection; q_token_budget fills the same budgets with a
    uniform hash sample).  Two-level prefix sum over score-range buckets
    -- no full-stratum row window."""
    from .functions.sampling import quality_budget_sample
    from .functions.text import qc_score_expr
    from .plans.shape import scan_parallel

    # the per-char fold score is compute-dense and fused into the scan
    # stage: run it at cluster parallelism, not single-split scan
    # parallelism (measured 48 -> ~6 s at sf1; no-op on real multi-split
    # scans)
    d = scan_parallel(_docs(spark, sf_dir)).withColumn(
        "score_milli", qc_score_expr(F.col("text")).cast("long")
    )
    return quality_budget_sample(d, "source", "doc_id", dict(TOKEN_BUDGETS))


def _quality_budget_oracle() -> str:
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    vals = ", ".join(f"('{s}', {b})" for s, b in TOKEN_BUDGETS)
    return f"""
        WITH bud(source, budget) AS (VALUES {vals}),
        {_qc_score_ctes('documents', 'text')},
        tt AS (
            SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
                   CAST(s.score_milli AS BIGINT) AS score_milli,
                   CAST(len(list_filter(string_split(d.text, ' '),
                                        w -> len(w) > 0)) AS BIGINT)
                       AS n_tokens,
                   ({HASH_A} * d.doc_id + {HASH_B}) % {HASH_P} AS h
            FROM documents d
            JOIN scored s USING (doc_id)
            JOIN bud b USING (source)
        ),
        c AS (
            SELECT tt.*, b.budget,
                   SUM(n_tokens) OVER (PARTITION BY tt.source
                                       ORDER BY -score_milli, h, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS cum_tokens
            FROM tt JOIN bud b USING (source)
        )
        SELECT doc_id, text, lang, source, n_chars, score_milli, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM c WHERE cum_tokens - n_tokens < budget"""


ORACLES["q_quality_budget"] = _quality_budget_oracle()


# ----------------------------------- r8: perceptual image dedup (aHash)

def q_image_ahash(spark, sf_dir):
    """Perceptual average-hash over REAL PNG decodes (r8): fixed 32x24
    canvas, 8x8 block grid, integer-micro block means, 64 bits as two
    nonnegative 32-bit halves.  The oracle recomputes every block mean
    from the pixel-generating formula with no codec anywhere, so a wrong
    decode OR a wrong hash hash-mismatches."""
    from .functions.multimodal import attach_png_blob_fixed, image_ahash

    return image_ahash(attach_png_blob_fixed(_docs(spark, sf_dir)))


def q_image_dups(spark, sf_dir):
    """Perceptual near-dup image pairs (r8): the simhash band recipe on
    the aHash fingerprint over the planted-duplicate corpus (exact text
    copies -> identical canvases -> Hamming 0).  Banded 16-bit equi-join,
    JVM bit_count Hamming filter."""
    from .functions.dedup import dup_corpus
    from .functions.multimodal import (
        attach_png_blob_fixed,
        image_ahash,
        image_dup_pairs,
    )

    return image_dup_pairs(
        image_ahash(attach_png_blob_fixed(dup_corpus(_docs(spark, sf_dir))))
    )


def _ahash_ctes(src: str) -> str:
    """CTE text computing (doc_id, ahash_lo, ahash_hi) from the
    pixel-generating formula (text bytes tiled over the fixed 32x24
    canvas) -- codec-free, integer-exact (micro floor means, floor
    threshold), shared by the hash and pair oracles."""
    return f"""
        d AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
            FROM {src} WHERE length(text) > 0
        ),
        blocks AS (
            SELECT doc_id, len, text, r.r AS r, c.c AS c,
                   (r.r * 24) // 8 AS y0, ((r.r + 1) * 24) // 8 AS y1,
                   (c.c * 32) // 8 AS x0, ((c.c + 1) * 32) // 8 AS x1
            FROM d,
                 LATERAL unnest(generate_series(0, 7)) AS r(r),
                 LATERAL unnest(generate_series(0, 7)) AS c(c)
        ),
        bm AS (
            SELECT doc_id, CAST(r * 8 + c AS BIGINT) AS k,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       flatten(list_transform(generate_series(y0, y1 - 1),
                           y -> list_transform(generate_series(x0, x1 - 1),
                               x -> CAST(ascii(substr(text,
                                   CAST((y * 32 + x) % len + 1 AS INT), 1))
                                   AS BIGINT))))),
                       (a, v) -> a + v) * 1000000
                   // ((y1 - y0) * (x1 - x0)) AS micro
            FROM blocks
        ),
        th AS (SELECT doc_id, SUM(micro) // 64 AS g FROM bm GROUP BY doc_id),
        bits AS (
            SELECT b.doc_id, b.k,
                   CASE WHEN b.micro > t.g THEN 1 ELSE 0 END AS bit
            FROM bm b JOIN th t USING (doc_id)
        ),
        hh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN k < 32
                        THEN bit * (CAST(1 AS BIGINT) << CAST(k AS INT))
                        ELSE 0 END) AS BIGINT) AS ahash_lo,
                   CAST(SUM(CASE WHEN k >= 32
                        THEN bit * (CAST(1 AS BIGINT) << CAST(k - 32 AS INT))
                        ELSE 0 END) AS BIGINT) AS ahash_hi
            FROM bits GROUP BY doc_id
        )"""


ORACLES["q_image_ahash"] = (
    "WITH "
    + _ahash_ctes("documents")
    + """
        SELECT doc_id, 32 AS width, 24 AS height, ahash_lo, ahash_hi
        FROM hh"""
)



ORACLES["q_image_dups"] = (
    _CORPUS.rstrip() + ","  # continue the WITH list after corpus
    + _ahash_ctes("corpus")
    + """,
        bands AS (
            SELECT doc_id, ahash_lo, ahash_hi, b.b AS band,
                   CASE WHEN b.b = 0 THEN ahash_lo % 65536
                        WHEN b.b = 1 THEN ahash_lo // 65536
                        WHEN b.b = 2 THEN ahash_hi % 65536
                        ELSE ahash_hi // 65536 END AS v
            FROM hh, LATERAL unnest(generate_series(0, 3)) AS b(b)
            WHERE NOT ((ahash_lo = 0 AND ahash_hi = 0)
                       OR (ahash_lo = 4294967295 AND ahash_hi = 4294967295))
        ),"""
    + _dup_pair_cap_sql()
    + """
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               CAST(bit_count(xor(a.ahash_lo, b2.ahash_lo))
                    + bit_count(xor(a.ahash_hi, b2.ahash_hi)) AS INT)
                   AS hamming
        FROM capped a
        JOIN capped b2 ON a.band = b2.band AND a.v = b2.v
                      AND a.doc_id < b2.doc_id
        WHERE bit_count(xor(a.ahash_lo, b2.ahash_lo))
              + bit_count(xor(a.ahash_hi, b2.ahash_hi)) <= 8"""
)


# ------------------------------- r8: perceptual audio dedup (energy-delta)

def q_audio_fp(spark, sf_dir):
    """Energy-delta audio fingerprint over REAL WAV decodes (r8): fixed
    512-sample canvas, 32 16-sample frames, bit f set iff frame f's
    integer energy exceeds frame f-1's -- the Haitsma-Kalker-shaped
    robust hash, 31 bits.  Codec-free oracle recomputes every frame
    energy from the generating formula."""
    from .functions.multimodal import attach_wav_blob_fixed, audio_fingerprint

    return audio_fingerprint(attach_wav_blob_fixed(_docs(spark, sf_dir)))


def q_audio_dups(spark, sf_dir):
    """Near-dup audio pairs (r8): two 16-bit bands over the energy-delta
    fingerprint + JVM bit_count Hamming, over the planted-duplicate
    corpus."""
    from .functions.dedup import dup_corpus
    from .functions.multimodal import (
        attach_wav_blob_fixed,
        audio_dup_pairs,
        audio_fingerprint,
    )

    return audio_dup_pairs(
        audio_fingerprint(attach_wav_blob_fixed(dup_corpus(_docs(spark, sf_dir))))
    )


def _afp_ctes(src: str) -> str:
    """CTE text computing (doc_id, afp) from the sample-generating
    formula: sample(i) = (ascii(text[i mod len]) - 128) * 256 over the
    fixed 512-sample canvas; 32 frame energies; energy-delta bits."""
    return f"""
        d AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
            FROM {src} WHERE length(text) > 0
        ),
        fr AS (
            SELECT doc_id, f.f AS f,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(0, 15), j ->
                           CAST(((ascii(substr(text,
                                 CAST((f.f * 16 + j) % len + 1 AS INT), 1))
                                 - 128) * 256)
                                * ((ascii(substr(text,
                                 CAST((f.f * 16 + j) % len + 1 AS INT), 1))
                                 - 128) * 256) AS BIGINT))),
                       (a, v) -> a + v) AS e
            FROM d, LATERAL unnest(generate_series(0, 31)) AS f(f)
        ),
        delta AS (
            SELECT a.doc_id, a.f,
                   CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
            FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f - 1
        ),
        afp AS (
            SELECT doc_id,
                   CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(f - 1 AS INT)))
                        AS BIGINT) AS afp
            FROM delta GROUP BY doc_id
        )"""


ORACLES["q_audio_fp"] = (
    "WITH "
    + _afp_ctes("documents")
    + """
        SELECT d.doc_id, 32 AS n_frames, afp.afp
        FROM d JOIN afp USING (doc_id)"""
)

ORACLES["q_audio_dups"] = (
    _CORPUS.rstrip() + ","
    + _afp_ctes("corpus")
    + """,
        bands AS (
            SELECT doc_id, afp, b.b AS band,
                   CASE WHEN b.b = 0 THEN afp % 65536
                        ELSE afp // 65536 END AS v
            FROM afp, LATERAL unnest(generate_series(0, 1)) AS b(b)
            WHERE afp NOT IN (0, 2147483647)
        ),"""
    + _dup_pair_cap_sql()
    + """
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               CAST(bit_count(xor(a.afp, b2.afp)) AS INT) AS hamming
        FROM capped a
        JOIN capped b2 ON a.band = b2.band AND a.v = b2.v
                      AND a.doc_id < b2.doc_id
        WHERE bit_count(xor(a.afp, b2.afp)) <= 4"""
)


# ------------------------------------ r8: packed-sequence manifest

def q_seq_manifest(spark, sf_dir):
    """Packed-sequence manifest (r8): the seq -> doc-spans inverse of
    q_pack_sequences -- per (shard, sequence): contributing-doc count,
    filled tokens, and the position-sorted span digest.  The loader's
    random-access index into the packed corpus."""
    from .functions.text import sequence_manifest

    return sequence_manifest(_docs(spark, sf_dir))


def _seq_manifest_oracle() -> str:
    from .functions.text import PACK_N_SHARDS, PACK_SEQ_LEN

    L = PACK_SEQ_LEN
    return f"""
        WITH base AS (
            SELECT doc_id, CAST(doc_id % {PACK_N_SHARDS} AS INT) AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        off AS (
            SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY doc_id)
                      - n_tokens AS BIGINT) AS token_offset
            FROM base
        ),
        sq AS (
            SELECT shard, doc_id, n_tokens, token_offset,
                   CAST(s.s AS BIGINT) AS seq_id
            FROM off,
                 LATERAL unnest(generate_series(token_offset // {L},
                     (token_offset + n_tokens - 1) // {L})) AS s(s)
        ),
        sp AS (
            SELECT shard, seq_id, doc_id,
                   GREATEST(token_offset, seq_id * {L}) - seq_id * {L}
                       AS begin,
                   LEAST(token_offset + n_tokens, (seq_id + 1) * {L})
                       - GREATEST(token_offset, seq_id * {L}) AS n_fill
            FROM sq
        )
        SELECT shard, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_fill) AS BIGINT) AS filled,
               md5(string_agg(doc_id || ':' || begin || ':' || n_fill, ';'
                   ORDER BY begin, doc_id, n_fill)) AS docs_digest
        FROM sp GROUP BY shard, seq_id"""


ORACLES["q_seq_manifest"] = _seq_manifest_oracle()


# ------------------------- r10: the end-to-end ingest flagship (ask #6)

def q_ingest_e2e(spark, sf_dir):
    """The "100 TB pipeline" headline (r10, r9 verdict ask #6): raw docs
    -> six-stage cleanup (corpus_pipeline_v2) -> per-domain cap ->
    quality-ordered token budgets -> sequence packing -> packed-shard
    manifest, composed as ONE plan (``functions/corpus.py::ingest_e2e``).
    One value hash over the final manifest covers every stage's verdicts
    at once.  Input convention: the q_corpus_pipeline_v2 slice
    (doc_id < 1000 bounds the span stage on the self-similar fixture)
    with the same three deterministic injections; the budget stage's
    source strata come from the raw table (the injection helpers carry
    only doc_id + text)."""
    from .functions.corpus import ingest_e2e
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    raw = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    injected = boilerplate_corpus(dirty_corpus(pii_corpus(raw)))
    return ingest_e2e(
        injected,
        raw.select("doc_id", "source"),
        dict(TOKEN_BUDGETS),
        n_per_domain=E2E_DOMAIN_CAP,
    )


# the e2e flagship uses a wider domain cap than the standalone
# q_domain_cap (8/domain over 7 synthetic domains would throttle the
# whole pipeline to ~56 docs -- fine for pinning the cap operator,
# too thin to exercise budgets and packing downstream)
E2E_DOMAIN_CAP = 64


def _ingest_e2e_oracle() -> str:
    """The five stage oracles composed into one DuckDB query: the full
    q_corpus_pipeline_v2 SQL re-rooted as a CTE, the shared URL
    canonicalization chain over the survivors, the one-window domain cap
    and quality-budget forms (kept-set-identical to the engine's
    two-level plans), and the seq-manifest pack arithmetic over the
    admitted set's CLEANED token counts."""
    from .functions.sketch import HASH_A, HASH_B, HASH_P
    from .functions.text import PACK_N_SHARDS, PACK_SEQ_LEN

    v2 = _corpus_pipeline_v2_oracle()
    marker = "SELECT h.doc_id, h.n_lines"
    head, tail = v2.split(marker, 1)
    v2_cte = (
        head.rstrip()
        + ",\n        v2 AS (\n            "
        + marker
        + tail
        + "\n        ),\n        "
    )
    vals = ", ".join(f"('{s}', {b})" for s, b in TOKEN_BUDGETS)
    L = PACK_SEQ_LEN
    return (
        v2_cte
        + """survivors AS (
            SELECT doc_id, score_milli,
                   CAST(n_tokens - n_removed AS BIGINT) AS clean_tokens
            FROM v2 WHERE final_keep
        ),
        """
        + _url_canon_ctes("survivors")
        + f""",
        capped AS (
            SELECT doc_id, score_milli, clean_tokens FROM (
                SELECT s.doc_id, s.score_milli, s.clean_tokens,
                       row_number() OVER (
                           PARTITION BY c.domain
                           ORDER BY ({HASH_A} * s.doc_id + {HASH_B})
                                    % {HASH_P}, s.doc_id) AS keep_rank
                FROM survivors s JOIN canon c USING (doc_id)
            ) WHERE keep_rank <= {E2E_DOMAIN_CAP}
        ),
        bud(source, budget) AS (VALUES {vals}),
        tt AS (
            SELECT cp.doc_id, d.source, cp.score_milli,
                   cp.clean_tokens AS n_tokens,
                   ({HASH_A} * cp.doc_id + {HASH_B}) % {HASH_P} AS h
            FROM capped cp
            JOIN documents d USING (doc_id)
            JOIN bud b ON b.source = d.source
        ),
        cq AS (
            SELECT tt.*, b.budget,
                   SUM(n_tokens) OVER (PARTITION BY tt.source
                       ORDER BY -score_milli, h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
            FROM tt JOIN bud b USING (source)
        ),
        admitted AS (
            SELECT doc_id, n_tokens FROM cq
            WHERE cum_tokens - n_tokens < budget AND n_tokens > 0
        ),
        pbase AS (
            SELECT doc_id, CAST(doc_id % {PACK_N_SHARDS} AS INT) AS shard,
                   n_tokens
            FROM admitted
        ),
        poff AS (
            SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY doc_id)
                      - n_tokens AS BIGINT) AS token_offset
            FROM pbase
        ),
        psq AS (
            SELECT shard, doc_id, n_tokens, token_offset,
                   CAST(s.s AS BIGINT) AS seq_id
            FROM poff,
                 LATERAL unnest(generate_series(token_offset // {L},
                     (token_offset + n_tokens - 1) // {L})) AS s(s)
        ),
        psp AS (
            SELECT shard, seq_id, doc_id,
                   GREATEST(token_offset, seq_id * {L}) - seq_id * {L}
                       AS begin,
                   LEAST(token_offset + n_tokens, (seq_id + 1) * {L})
                       - GREATEST(token_offset, seq_id * {L}) AS n_fill
            FROM psq
        )
        SELECT shard, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_fill) AS BIGINT) AS filled,
               md5(string_agg(doc_id || ':' || begin || ':' || n_fill, ';'
                   ORDER BY begin, doc_id, n_fill)) AS docs_digest
        FROM psp GROUP BY shard, seq_id"""
    )


ORACLES["q_ingest_e2e"] = _ingest_e2e_oracle()


# --------------------- r10: leakage-safe train/val split (extension)

LEAKAGE_VAL_FRAC = 0.2


def q_leakage_split(spark, sf_dir):
    """Cluster-aware train/val split (r10): every doc assigned by the
    affine hash of its NEAR-DUP CLUSTER id, so duplicated pages can
    never straddle the split and leak train text into the held-out set.
    Composes the oracled minhash-pairs -> connected-components chain;
    singletons hash their own id."""
    from .functions.dedup import leakage_safe_split

    return leakage_safe_split(_docs(spark, sf_dir), val_frac=LEAKAGE_VAL_FRAC)


def _leakage_split_oracle() -> str:
    from .functions.sampling import _threshold
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    cluster_sql = ORACLES["q_dedup_clusters"]
    marker = "SELECT CAST(node AS BIGINT) AS doc_id,"
    head, tail = cluster_sql.split(marker, 1)
    thr = _threshold(LEAKAGE_VAL_FRAC)
    return (
        head.rstrip().rstrip(",")
        + ",\n        clusters AS (\n            "
        + marker
        + tail
        + f"""
        ),
        assigned AS (
            SELECT c.doc_id,
                   CAST(coalesce(cl.cluster_id, c.doc_id) AS BIGINT)
                       AS cluster_id
            FROM corpus c LEFT JOIN clusters cl USING (doc_id)
        )
        SELECT doc_id, cluster_id,
               CASE WHEN ({HASH_A} * cluster_id + {HASH_B}) % {HASH_P}
                         < {thr}
                    THEN 'val' ELSE 'train' END AS split
        FROM assigned"""
    )


ORACLES["q_leakage_split"] = _leakage_split_oracle()


# ------------------- r10: temperature-scaled mixture planning (extension)

TEMP_MIX_TOTAL = 10_000_000


def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture plan (r10): per-source token counts ->
    n^0.5-weighted target budgets (the mT5/XLM-R low-resource
    up-sampling), every output column engine-exact (IEEE sqrt +
    stratum-sorted sequential fold + integer micro weights).  Feeds the
    budget samplers as their budgets dict."""
    from .functions.sampling import temperature_mixture_plan

    return temperature_mixture_plan(_docs(spark, sf_dir), TEMP_MIX_TOTAL)


# ----------------------- r10: Gopher-rules quality filter (extension)

def q_gopher_rules(spark, sf_dir):
    """Gopher-style rule-bundle quality verdicts (r10): the named
    heuristic filter of Rae et al. 2021, one map-only projection with
    integer cross-multiplied thresholds; each rule auditable per doc."""
    from .functions.text import gopher_rules

    return gopher_rules(_docs(spark, sf_dir))


def _gopher_rules_oracle() -> str:
    from .functions.text import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_SYMBOL_PCT,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_PCT,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
    )

    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> len(w) > 0)
                       AS toks
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(toks,
                            w -> CAST(length(w) AS BIGINT))),
                        (a, x) -> a + x) AS BIGINT) AS sum_word_len,
                   CAST(len(list_filter(toks,
                        w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
                       AS n_alpha_words,
                   CAST(len(list_filter(toks,
                        w -> list_contains([{_STOP_SQL}], w))) AS BIGINT)
                       AS n_stopwords,
                   CAST(len(list_filter(toks,
                        w -> starts_with(w, '#') OR contains(w, '...')))
                        AS BIGINT) AS n_symbol_words
            FROM t
        )
        SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords,
               n_symbol_words,
               (n_words >= {GOPHER_MIN_WORDS}
                AND n_words <= {GOPHER_MAX_WORDS}) AS r_word_count,
               (sum_word_len >= {GOPHER_MIN_MEAN_LEN} * n_words
                AND sum_word_len <= {GOPHER_MAX_MEAN_LEN} * n_words)
                   AS r_mean_len,
               (100 * n_alpha_words >= {GOPHER_MIN_ALPHA_PCT} * n_words)
                   AS r_alpha,
               (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords,
               (100 * n_symbol_words <= {GOPHER_MAX_SYMBOL_PCT} * n_words)
                   AS r_symbols,
               ((n_words >= {GOPHER_MIN_WORDS}
                 AND n_words <= {GOPHER_MAX_WORDS})
                AND (sum_word_len >= {GOPHER_MIN_MEAN_LEN} * n_words
                     AND sum_word_len <= {GOPHER_MAX_MEAN_LEN} * n_words)
                AND (100 * n_alpha_words
                     >= {GOPHER_MIN_ALPHA_PCT} * n_words)
                AND (n_stopwords >= {GOPHER_MIN_STOPWORDS})
                AND (100 * n_symbol_words
                     <= {GOPHER_MAX_SYMBOL_PCT} * n_words)) AS keep
        FROM m"""


ORACLES["q_gopher_rules"] = _gopher_rules_oracle()


# ------------------------ r10: epoch-deterministic shuffle (extension)

EPOCH_SHUFFLE_EPOCH = 2


def q_epoch_shuffle(spark, sf_dir):
    """Epoch-parameterized training-order shuffle (r10): the
    corpus_shuffle permutation at epoch 2 -- a distinct affine bijection
    per epoch via the HASH_A^(epoch+1) multiplier, so every pass of a
    multi-epoch run gets a fresh, still fully deterministic and
    auditable, order."""
    from .functions.sampling import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir), epoch=EPOCH_SHUFFLE_EPOCH)


def _epoch_shuffle_oracle() -> str:
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    a_e = pow(HASH_A, EPOCH_SHUFFLE_EPOCH + 1, HASH_P)
    return f"""
        WITH h AS (
            SELECT doc_id,
                   ({a_e} * doc_id + {HASH_B}) % {HASH_P} AS hv
            FROM documents
        )
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY hv) - 1 AS BIGINT)
                   AS shuffle_pos,
               CAST((row_number() OVER (ORDER BY hv) - 1) % 32 AS INT)
                   AS shard
        FROM h"""


ORACLES["q_epoch_shuffle"] = _epoch_shuffle_oracle()


ORACLES["q_temperature_mix"] = f"""
    WITH counts AS (
        SELECT source AS stratum,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ),
    wtd AS (
        SELECT stratum, n_tokens,
               sqrt(CAST(n_tokens AS DOUBLE)) AS w
        FROM counts
    ),
    den AS (
        SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(w ORDER BY stratum)),
                   (a, b) -> a + b) AS d
        FROM wtd
    ),
    -- r11: last (stratum-sorted) weight absorbs the residual so micros
    -- sum EXACTLY to 1e6 (mirrors temperature_mixture_plan); r12: a
    -- NEGATIVE residual clamps the last micro to 0 and the deficit
    -- comes off the largest other micro (first in stratum order on
    -- ties) -- the degenerate-residual guard, same in all mirrors
    r AS (
        SELECT stratum, n_tokens,
               CAST(round(w / d * 1000000) AS BIGINT) AS rm,
               row_number() OVER (ORDER BY stratum) AS rn,
               COUNT(*) OVER () AS cnt,
               CAST(SUM(CAST(round(w / d * 1000000) AS BIGINT)) OVER ()
                    AS BIGINT) AS rsum
        FROM wtd, den
    ),
    r2 AS (
        SELECT *,
               1000000 - (rsum - MAX(CASE WHEN rn = cnt THEN rm END)
                                 OVER ()) AS resid,
               MAX(CASE WHEN rn < cnt THEN rm END) OVER () AS max_others
        FROM r
    ),
    r3 AS (
        SELECT *,
               MIN(CASE WHEN rn < cnt AND rm = max_others THEN rn END)
                   OVER () AS amax_rn
        FROM r2
    ),
    wmf AS (
        SELECT stratum, n_tokens,
               CAST(CASE WHEN resid >= 0 THEN
                             (CASE WHEN rn = cnt THEN resid ELSE rm END)
                         WHEN rn = cnt THEN 0
                         WHEN rn = amax_rn THEN rm + resid
                         ELSE rm END AS BIGINT) AS weight_micro
        FROM r3
    )
    SELECT stratum, n_tokens, weight_micro,
           CAST(({TEMP_MIX_TOTAL} * weight_micro)
                // 1000000 AS BIGINT) AS target_tokens
    FROM wmf"""


# -------------- r11: ingest flagship + loader tail (r10 verdict ask #4)

INGEST_FULL_EPOCH = 1


def q_ingest_full(spark, sf_dir):
    """The complete raw-docs-to-training-order flagship (r11, r10
    verdict ask #4): the q_ingest_e2e front (cleanup -> domain cap ->
    quality token budgets) composed with the loader tail -- the
    cluster-aware train/val split (leakage_safe_split over the FULL raw
    corpus, so the split sees every near-dup) and the epoch-1
    deterministic training order (corpus_shuffle) over the train side.
    One row per admitted doc: (doc_id, cluster_id, split, shuffle_pos,
    shard); val docs carry NULL position/shard.  A single value hash
    covers the whole funnel: admission verdicts, cluster membership,
    split side, and the exact training-stream position."""
    from .functions.corpus import ingest_full
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    raw = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    injected = boilerplate_corpus(dirty_corpus(pii_corpus(raw)))
    return ingest_full(
        injected,
        raw.select("doc_id", "source"),
        dict(TOKEN_BUDGETS),
        n_per_domain=E2E_DOMAIN_CAP,
        split_corpus=_docs(spark, sf_dir),
        val_frac=LEAKAGE_VAL_FRAC,
        epoch=INGEST_FULL_EPOCH,
    )


def _ingest_full_oracle() -> str:
    """Splice of three already-independent oracles: the q_ingest_e2e
    CTE chain cut at its ``admitted`` table (the packing CTEs dropped),
    the full q_leakage_split chain (its ``capped``/``scored`` CTEs
    renamed to dodge the e2e chain's same-named CTEs, its final select
    wrapped as ``splitv``), and the q_epoch_shuffle arithmetic at
    epoch=1 over the train side of the joined spine."""
    import re as _re

    from .functions.sketch import HASH_A, HASH_B, HASH_P

    e2e = ORACLES["q_ingest_e2e"]
    leak = ORACLES["q_leakage_split"]
    e2e_head = e2e.split(",\n        pbase AS (", 1)[0]
    leak = _re.sub(r"\bcapped\b", "sp_capped", leak)
    leak = _re.sub(r"\bscored\b", "sp_scored", leak)
    leak_body = leak.split("WITH RECURSIVE", 1)[1]
    leak_ctes, leak_final = leak_body.rsplit("SELECT doc_id, cluster_id,", 1)
    a_e = pow(HASH_A, INGEST_FULL_EPOCH + 1, HASH_P)
    return (
        e2e_head.replace("WITH ", "WITH RECURSIVE ", 1)
        + ",\n        "
        + leak_ctes.strip().rstrip(",")
        + ",\n        splitv AS (\n            SELECT doc_id, cluster_id,"
        + leak_final
        + f"""
        ),
        joined AS (
            SELECT a.doc_id, s.cluster_id, s.split
            FROM admitted a JOIN splitv s USING (doc_id)
        ),
        ord AS (
            SELECT doc_id,
                   CAST(row_number() OVER (
                            ORDER BY ({a_e} * doc_id + {HASH_B})
                                     % {HASH_P}) - 1
                        AS BIGINT) AS shuffle_pos
            FROM joined WHERE split = 'train'
        )
        SELECT j.doc_id, j.cluster_id, j.split, o.shuffle_pos,
               CAST(o.shuffle_pos % 32 AS INT) AS shard
        FROM joined j LEFT JOIN ord o USING (doc_id)"""
    )


ORACLES["q_ingest_full"] = _ingest_full_oracle()


# ------- r12: the packed flagship -- docs to packed shards (verdict #3)

def q_ingest_packed(spark, sf_dir):
    """The complete docs-to-packed-shards flagship (r12, r11 verdict ask
    #3): ``q_ingest_full``'s funnel (admission -> cluster split -> epoch
    order) composed with the PACKING TAIL -- the train stream packed
    into PACK_SEQ_LEN sequences in epoch order (shard = the shuffle's
    round-robin shard, concatenation order = shuffle_pos), one row per
    (shard, seq_id) with the position-sorted doc-span digest.  This is
    the loader-mountable artifact; a single value hash covers every
    stage's verdicts AND the exact token-level layout of every training
    sequence."""
    from .functions.corpus import ingest_packed
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    raw = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    injected = boilerplate_corpus(dirty_corpus(pii_corpus(raw)))
    return ingest_packed(
        injected,
        raw.select("doc_id", "source"),
        dict(TOKEN_BUDGETS),
        n_per_domain=E2E_DOMAIN_CAP,
        split_corpus=_docs(spark, sf_dir),
        val_frac=LEAKAGE_VAL_FRAC,
        epoch=INGEST_FULL_EPOCH,
    )


def _ingest_packed_oracle() -> str:
    """Splice the e2e packing arithmetic (cut from the q_ingest_e2e
    oracle at ``admitted`` when q_ingest_full was built -- r11 verdict
    ask #3 asks for them back) onto the FULL chain: the q_ingest_full
    oracle's final projection is replaced by the train-side pack --
    per-shard running offsets in shuffle_pos order over the round-robin
    shard, the [first_seq, last_seq] explode, and the span digest."""
    from .functions.text import PACK_SEQ_LEN

    full = ORACLES["q_ingest_full"]
    head = full.rsplit("\n        SELECT j.doc_id, j.cluster_id", 1)[0]
    L = PACK_SEQ_LEN
    return (
        head.rstrip()  # ends at the closed ``ord`` CTE
        + f""",
        tr AS (
            SELECT o.doc_id, o.shuffle_pos,
                   CAST(o.shuffle_pos % 32 AS INT) AS shard, a.n_tokens
            FROM ord o JOIN admitted a USING (doc_id)
        ),
        kpoff AS (
            SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY shuffle_pos)
                      - n_tokens AS BIGINT) AS token_offset
            FROM tr
        ),
        kpsq AS (
            SELECT shard, doc_id, n_tokens, token_offset,
                   CAST(s.s AS BIGINT) AS seq_id
            FROM kpoff,
                 LATERAL unnest(generate_series(token_offset // {L},
                     (token_offset + n_tokens - 1) // {L})) AS s(s)
        ),
        kpsp AS (
            SELECT shard, seq_id, doc_id,
                   GREATEST(token_offset, seq_id * {L}) - seq_id * {L}
                       AS begin,
                   LEAST(token_offset + n_tokens, (seq_id + 1) * {L})
                       - GREATEST(token_offset, seq_id * {L}) AS n_fill
            FROM kpsq
        )
        SELECT shard, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_fill) AS BIGINT) AS filled,
               md5(string_agg(doc_id || ':' || begin || ':' || n_fill, ';'
                   ORDER BY begin, doc_id, n_fill)) AS docs_digest
        FROM kpsp GROUP BY shard, seq_id"""
    )


ORACLES["q_ingest_packed"] = _ingest_packed_oracle()


# --- r13: the curriculum-packed flagship (r12 verdict ask #6) ---------------

def q_ingest_curriculum(spark, sf_dir):
    """The packed flagship with the CURRICULUM ordering (r13, r12
    verdict ask #6): the identical admission -> cluster split funnel as
    ``q_ingest_packed``, but the train stream is packed in
    ``curriculum_order``'s quality-banded order (highest-quality band
    first, affine-hash shuffle within each band, scored over the
    injected input text of the admitted train docs) instead of the
    epoch shuffle -- ``ingest_packed(order="curriculum")``, one funnel
    emitting either ordering.  One value hash covers every admission
    verdict, the split, the banding, the in-band shuffle AND the exact
    token layout of every training sequence."""
    from .functions.corpus import ingest_packed
    from .functions.text import boilerplate_corpus, dirty_corpus, pii_corpus

    raw = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    injected = boilerplate_corpus(dirty_corpus(pii_corpus(raw)))
    return ingest_packed(
        injected,
        raw.select("doc_id", "source"),
        dict(TOKEN_BUDGETS),
        n_per_domain=E2E_DOMAIN_CAP,
        split_corpus=_docs(spark, sf_dir),
        val_frac=LEAKAGE_VAL_FRAC,
        order="curriculum",
    )


def _ingest_curriculum_oracle() -> str:
    """The q_ingest_full oracle cut at its closed ``joined`` CTE (the
    epoch ``ord`` dropped), plus the curriculum ranking over the train
    side -- the q_curriculum_order arithmetic scored over the INJECTED
    text (the ``bpc`` CTE, which is exactly the ``documents`` argument
    the engine passes) -- plus the q_ingest_packed pack tail keyed to
    the curriculum positions."""
    import re as _re

    from .functions.sampling import (
        CURRICULUM_HI_MILLI,
        CURRICULUM_LO_MILLI,
    )
    from .functions.sketch import HASH_A, HASH_B, HASH_P
    from .functions.text import PACK_SEQ_LEN

    full = ORACLES["q_ingest_full"]
    head = full.split(",\n        ord AS (", 1)[0]
    # the quality-score CTEs, renamed to dodge the e2e chain's t/feats/
    # scored (the leakage-splice precedent in _ingest_full_oracle)
    qc = _qc_score_ctes("cu_in", "text")
    for old, new in (("t", "cu_tt"), ("feats", "cu_feats"),
                     ("scored", "cu_scored")):
        qc = _re.sub(rf"\b{old}\b", new, qc)
    L = PACK_SEQ_LEN
    return (
        head.rstrip()  # ends at the closed ``joined`` CTE
        + f""",
        cu_in AS (
            SELECT j.doc_id, b.text
            FROM joined j JOIN bpc b USING (doc_id)
            WHERE j.split = 'train'
        ),{qc},
        cu_band AS (
            SELECT doc_id,
                   CAST(CASE WHEN score_milli >= {CURRICULUM_HI_MILLI} THEN 2
                             WHEN score_milli >= {CURRICULUM_LO_MILLI} THEN 1
                             ELSE 0 END AS INT) AS band,
                   ({HASH_A} * doc_id + {HASH_B}) % {HASH_P} AS h
            FROM cu_scored
        ),
        cord AS (
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY (2 - band) * CAST({HASH_P} AS BIGINT) + h)
                       - 1 AS BIGINT) AS shuffle_pos
            FROM cu_band
        ),
        tr AS (
            SELECT o.doc_id, o.shuffle_pos,
                   CAST(o.shuffle_pos % 32 AS INT) AS shard, a.n_tokens
            FROM cord o JOIN admitted a USING (doc_id)
        ),
        kpoff AS (
            SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY shuffle_pos)
                      - n_tokens AS BIGINT) AS token_offset
            FROM tr
        ),
        kpsq AS (
            SELECT shard, doc_id, n_tokens, token_offset,
                   CAST(s.s AS BIGINT) AS seq_id
            FROM kpoff,
                 LATERAL unnest(generate_series(token_offset // {L},
                     (token_offset + n_tokens - 1) // {L})) AS s(s)
        ),
        kpsp AS (
            SELECT shard, seq_id, doc_id,
                   GREATEST(token_offset, seq_id * {L}) - seq_id * {L}
                       AS begin,
                   LEAST(token_offset + n_tokens, (seq_id + 1) * {L})
                       - GREATEST(token_offset, seq_id * {L}) AS n_fill
            FROM kpsq
        )
        SELECT shard, seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_fill) AS BIGINT) AS filled,
               md5(string_agg(doc_id || ':' || begin || ':' || n_fill, ';'
                   ORDER BY begin, doc_id, n_fill)) AS docs_digest
        FROM kpsp GROUP BY shard, seq_id"""
    )


ORACLES["q_ingest_curriculum"] = _ingest_curriculum_oracle()


# ------------ r13: data-driven LSH banding advisor (extension, dedup ops)

def q_lsh_advisor(spark, sf_dir):
    """LSH banding advisor (r13): for every (bands, rows_per_band)
    factorization of the 16-hash signature, the expected candidate-pair
    mass, recall and precision at the 0.5 dedup threshold on THIS
    corpus -- estimated from the pairwise agreement histogram of a
    deterministic hash-sample capped at the TIGHTER of 20% and 5k docs
    (r14: a true fixed-budget statistics pass -- the row cap keeps the
    documented bounded quadratic independent of corpus size; the
    all-pairs join runs over the SAMPLE only).  Every quantity is exact
    BIGINT arithmetic (fixed-point S-curve, half-up integer division),
    so the whole advisor hash-matches the DuckDB oracle."""
    from .functions.dedup import lsh_parameter_advisor

    return lsh_parameter_advisor(
        _docs(spark, sf_dir),
        threshold=0.5,
        sample_fraction=0.2,
        max_sample_rows=5_000,
    )


def _lsh_advisor_oracle() -> str:
    import math

    from .functions.dedup import MINHASH_A, lsh_band_probability_micro
    from .functions.sampling import _threshold
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    n_h = len(MINHASH_A)
    thr_k = math.ceil(0.5 * n_h)
    samp = _threshold(0.2)
    curve_rows = []
    for bnd in (1, 2, 4, 8, 16):
        rpb = n_h // bnd
        if bnd * rpb != n_h:
            continue
        mid = next(
            (k for k in range(n_h + 1)
             if lsh_band_probability_micro(bnd, rpb, k) >= 500_000),
            n_h,
        )
        for k in range(n_h + 1):
            curve_rows.append(
                f"({bnd}, {rpb}, {k},"
                f" {lsh_band_probability_micro(bnd, rpb, k)}, {mid})"
            )
    curve_vals = ", ".join(curve_rows)
    return f"""
    WITH corpus AS (
        -- fixed-budget sample (r14): fraction threshold AND the row cap
        -- as the cross-multiplied integer predicate h * n < cap * P --
        -- bit-identical to the engine's decimal(38,0) comparison
        SELECT doc_id, text
        FROM documents, (SELECT CAST(COUNT(*) AS BIGINT) AS _n
                         FROM documents) c
        WHERE ({HASH_A} * doc_id + {HASH_B}) % {HASH_P} < {samp}
          AND (({HASH_A} * doc_id + {HASH_B}) % {HASH_P}) * _n
              < {5_000 * HASH_P}
    ),
    shingled AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - 3, 1)),
                   i -> CAST((((ascii(substr(text, CAST(i AS INT), 1)) * 31
                        + ascii(substr(text, CAST(i AS INT) + 1, 1))) * 31
                        + ascii(substr(text, CAST(i AS INT) + 2, 1))) * 31
                        + ascii(substr(text, CAST(i AS INT) + 3, 1))) * 31
                        + ascii(substr(text, CAST(i AS INT) + 4, 1)) AS BIGINT)
               )) AS sh
        FROM corpus
        WHERE length(text) >= 5
    ),
    coeffs AS (SELECT * FROM (VALUES {_MINHASH_SQL}) AS c(k, a, b)),
    sigs AS (
        SELECT doc_id, k,
               CAST(list_min(list_transform(sh,
                   h -> (a * h + b) % 2147483647)) AS BIGINT) AS mh
        FROM shingled CROSS JOIN coeffs
        GROUP BY ALL
    ),
    vecs AS (
        SELECT doc_id, list(mh ORDER BY k) AS v FROM sigs GROUP BY doc_id
    ),
    pairs AS (
        SELECT CAST(len(list_filter(range(1, {n_h + 1}),
                   i -> a.v[CAST(i AS INT)] = b.v[CAST(i AS INT)]))
               AS BIGINT) AS n_eq
        FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id
    ),
    hist AS (
        SELECT n_eq, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY n_eq
    ),
    curve AS (
        SELECT * FROM (VALUES {curve_vals})
            AS c(bands, rows_per_band, n_eq, p_micro, midpoint_k)
    ),
    agg AS (
        SELECT bands, rows_per_band, midpoint_k,
               CAST(SUM(cnt * p_micro) AS BIGINT) AS exp_c,
               CAST(SUM(CASE WHEN h.n_eq >= {thr_k}
                        THEN cnt * p_micro ELSE 0 END) AS BIGINT) AS exp_good,
               CAST(SUM(CASE WHEN h.n_eq >= {thr_k}
                        THEN cnt ELSE 0 END) AS BIGINT) AS n_above
        FROM curve c JOIN hist h ON c.n_eq = h.n_eq
        GROUP BY 1, 2, 3
    )
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per_band AS INT) AS rows_per_band,
           exp_c AS exp_candidates_micro,
           CAST(CASE WHEN n_above > 0
                THEN (2 * exp_good + n_above) // (2 * n_above)
                ELSE 0 END AS BIGINT) AS recall_micro,
           CAST(CASE WHEN exp_c > 0
                THEN (2 * exp_good * 1000000 + exp_c) // (2 * exp_c)
                ELSE 0 END AS BIGINT) AS precision_micro,
           CAST(midpoint_k AS BIGINT) AS midpoint_k
    FROM agg"""


ORACLES["q_lsh_advisor"] = _lsh_advisor_oracle()


# ------------ r14: composed job advisor (r13 verdict ask #6)

def q_job_advisor(spark, sf_dir):
    """ONE recommendations table for the whole job (r14): partition
    sizing, watermark delay, per-query SLA and LSH dedup banding folded
    into a single (advisor, scope, knob, value, basis) surface -- the
    reference's product IS recommendations
    (helper/StreamingLensReportingHelper.scala:103-175 renders state ->
    advice); this is that idea over every knob the repo can measure.
    Each component is the existing audited operator verbatim; the
    composition adds only <=5-row integer pick rules, so the whole
    table stays oracle-hash-exact."""
    from .functions.advisor import job_advisor

    t = _telemetry(spark, sf_dir)
    return job_advisor(
        t.progress, _docs(spark, sf_dir), load_table(spark, sf_dir, "events")
    )


def _job_advisor_oracle() -> str:
    """Composes the four EXISTING advisor oracles verbatim as
    subqueries (DuckDB allows WITH inside a derived table), then
    replays the pure-integer pick rules -- the oracle is the
    composition, not a re-derivation."""
    from .functions.advisor import (
        LSH_RECALL_FLOOR_MICRO,
        WATERMARK_ACCEPT_PERMILLE,
    )

    return f"""
    WITH partall AS (SELECT * FROM ({ORACLES['q_partition_advisor']}) t),
    wmall AS (SELECT * FROM ({ORACLES['q_watermark_advisor']}) t),
    slaall AS (SELECT * FROM ({ORACLES['q_sla_recommend']}) t),
    lshall AS (SELECT * FROM ({ORACLES['q_lsh_advisor']}) t),
    wmpick AS (
        SELECT COALESCE(
            MIN(CASE WHEN permille <= {WATERMARK_ACCEPT_PERMILLE}
                     THEN delay_ms END),
            MAX(delay_ms)) AS delay_ms
        FROM wmall
    ),
    lshpick AS (
        SELECT bands, rows_per_band, recall_micro, exp_candidates_micro
        FROM lshall
        ORDER BY CASE WHEN recall_micro >= {LSH_RECALL_FLOOR_MICRO}
                      THEN 0 ELSE 1 END,
                 CASE WHEN recall_micro >= {LSH_RECALL_FLOOR_MICRO}
                      THEN exp_candidates_micro ELSE -recall_micro END,
                 bands
        LIMIT 1
    )
    SELECT 'partitioning' AS advisor, 'corpus' AS scope,
           'spark.sql.shuffle.partitions' AS knob,
           CAST(rec_shuffle_partitions AS BIGINT) AS value,
           CAST(data_bytes AS BIGINT) AS basis
    FROM partall
    UNION ALL
    SELECT 'partitioning', 'corpus', 'output_files',
           CAST(rec_output_files AS BIGINT), CAST(data_bytes AS BIGINT)
    FROM partall
    UNION ALL
    SELECT 'watermark', 'events', 'withWatermark.delay_ms',
           CAST(w.delay_ms AS BIGINT), CAST(w.permille AS BIGINT)
    FROM wmall w JOIN wmpick p ON w.delay_ms = p.delay_ms
    UNION ALL
    SELECT 'sla', query_id, 'expectedMicroBatchSLAMillis',
           CAST(recommended_sla_ms AS BIGINT), CAST(p99_ms AS BIGINT)
    FROM slaall
    UNION ALL
    SELECT 'dedup', 'corpus', 'lsh.bands',
           CAST(bands AS BIGINT), CAST(recall_micro AS BIGINT)
    FROM lshpick
    UNION ALL
    SELECT 'dedup', 'corpus', 'lsh.rows_per_band',
           CAST(rows_per_band AS BIGINT), CAST(exp_candidates_micro AS BIGINT)
    FROM lshpick"""


ORACLES["q_job_advisor"] = _job_advisor_oracle()


# ---------------- r12: pack-efficiency report (extension, loader QA)

def q_pack_waste(spark, sf_dir):
    """Pack-efficiency report (r12): per shard, real tokens vs padding
    and boundary-straddling docs of the ``pack_sequences`` layout -- the
    QA table behind the seq_len/n_shards decision (a high pad_micro says
    the shard count is too fine for the corpus; straddles count docs a
    loader truncates mid-document).  Pure integers, one groupBy over the
    pack output."""
    from .functions.text import pack_waste

    return pack_waste(_docs(spark, sf_dir))


def _pack_waste_oracle() -> str:
    """The q_pack_sequences SQL wrapped as a subquery + one GROUP BY;
    pad_micro via the pure-integer half-up division (2N + D) // 2D."""
    from .functions.text import PACK_SEQ_LEN

    pack = ORACLES["q_pack_sequences"]
    L = PACK_SEQ_LEN
    return f"""
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(n_seqs) - COUNT(*) AS BIGINT) AS n_straddles,
           CAST((MAX(last_seq) + 1) * {L} - SUM(n_tokens) AS BIGINT)
               AS pad_tokens,
           CAST((2 * ((MAX(last_seq) + 1) * {L} - SUM(n_tokens)) * 1000000
                 + (MAX(last_seq) + 1) * {L})
                // (2 * (MAX(last_seq) + 1) * {L}) AS BIGINT) AS pad_micro
    FROM ({pack}) pk
    GROUP BY shard"""


ORACLES["q_pack_waste"] = _pack_waste_oracle()


# ----------- r12: quality-banded curriculum order (extension, training)

def q_curriculum_order(spark, sf_dir):
    """Quality-banded curriculum training order (r12): highest-quality
    band first, affine-hash shuffle within each band -- one integer
    order key ((2-band)*P + hash) through the range-sharded dense rank,
    no global sort.  The band uses the SAME integer quality score as the
    ingest admission gate."""
    from .functions.sampling import curriculum_order

    return curriculum_order(_docs(spark, sf_dir))


def _curriculum_order_oracle() -> str:
    from .functions.sampling import (
        CURRICULUM_HI_MILLI,
        CURRICULUM_LO_MILLI,
    )
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    return f"""
    WITH {_qc_score_ctes('documents', 'text')},
    banded AS (
        SELECT doc_id,
               CAST(CASE WHEN score_milli >= {CURRICULUM_HI_MILLI} THEN 2
                         WHEN score_milli >= {CURRICULUM_LO_MILLI} THEN 1
                         ELSE 0 END AS INT) AS band,
               ({HASH_A} * doc_id + {HASH_B}) % {HASH_P} AS h
        FROM scored
    ),
    ordered AS (
        SELECT doc_id, band,
               CAST(row_number() OVER (
                   ORDER BY (2 - band) * CAST({HASH_P} AS BIGINT) + h) - 1
                   AS BIGINT) AS curriculum_pos
        FROM banded
    )
    SELECT doc_id, band, curriculum_pos,
           CAST(curriculum_pos % 32 AS INT) AS shard
    FROM ordered"""


ORACLES["q_curriculum_order"] = _curriculum_order_oracle()


# ---------- r12: curriculum-packed manifest (extension, training order)

def q_curriculum_packed(spark, sf_dir):
    """The curriculum order PACKED (r12): ``curriculum_order``'s
    quality-first stream tiled into PACK_SEQ_LEN sequences -- the second
    ordering the generalized pack composes with (the epoch shuffle being
    the first, ``q_ingest_packed``); one row per (shard, seq_id) with
    the span digest, so a single hash covers the banding, the in-band
    shuffle AND the token layout."""
    from .functions.sampling import curriculum_order
    from .functions.text import sequence_manifest

    docs = _docs(spark, sf_dir)
    order = curriculum_order(docs)
    spine = order.join(
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        ),
        "doc_id",
    )
    return sequence_manifest(
        spine,
        tokens_col="n_tokens",
        shard_col="shard",
        order_col="curriculum_pos",
    )


def _curriculum_packed_oracle() -> str:
    """The q_curriculum_order CTE chain + the e2e pack arithmetic keyed
    to curriculum_pos order over the round-robin shard."""
    from .functions.text import PACK_SEQ_LEN

    cur = ORACLES["q_curriculum_order"]
    L = PACK_SEQ_LEN
    return f"""
    WITH cur AS ({cur}),
    kbase AS (
        SELECT c.doc_id, c.shard, c.curriculum_pos,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM cur c JOIN documents d USING (doc_id)
    ),
    kpoff AS (
        SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                           ORDER BY curriculum_pos)
                  - n_tokens AS BIGINT) AS token_offset
        FROM kbase
    ),
    kpsq AS (
        SELECT shard, doc_id, n_tokens, token_offset,
               CAST(s.s AS BIGINT) AS seq_id
        FROM kpoff,
             LATERAL unnest(generate_series(token_offset // {L},
                 (token_offset + n_tokens - 1) // {L})) AS s(s)
    ),
    kpsp AS (
        SELECT shard, seq_id, doc_id,
               GREATEST(token_offset, seq_id * {L}) - seq_id * {L} AS begin,
               LEAST(token_offset + n_tokens, (seq_id + 1) * {L})
                   - GREATEST(token_offset, seq_id * {L}) AS n_fill
        FROM kpsq
    )
    SELECT shard, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_fill) AS BIGINT) AS filled,
           md5(string_agg(doc_id || ':' || begin || ':' || n_fill, ';'
               ORDER BY begin, doc_id, n_fill)) AS docs_digest
    FROM kpsp GROUP BY shard, seq_id"""


ORACLES["q_curriculum_packed"] = _curriculum_packed_oracle()


# ------------- r12: per-document dedup attribution (extension, governance)

def q_dedup_attribution(spark, sf_dir):
    """Per-document dedup attribution (r12): for every near-dup cluster
    non-keeper, the keeper it lost to and its strongest direct match
    (max jaccard, ties to the smaller partner) -- the removal-appeal
    evidence row behind q_dedup_stats' aggregate histogram."""
    from .functions.dedup import dedup_attribution

    return dedup_attribution(_docs(spark, sf_dir), 0.5)


def _dedup_attribution_oracle() -> str:
    """The q_dedup_clusters SQL (edges + recursive components) spliced
    with a best-match window election over the symmetrized edge set."""
    cluster_sql = ORACLES["q_dedup_clusters"]
    marker = "\n        SELECT CAST(node AS BIGINT) AS doc_id,"
    head, tail = cluster_sql.split(marker, 1)
    return (
        head
        + ",\n        clu AS ("
        + marker
        + tail
        + """
        ),
        symj AS (
            SELECT doc_a AS doc_id, doc_b AS partner, jaccard FROM edges
            UNION ALL SELECT doc_b, doc_a, jaccard FROM edges
        ),
        best AS (
            SELECT doc_id, partner AS best_match_id,
                   jaccard AS best_jaccard
            FROM (
                SELECT doc_id, partner, jaccard,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY jaccard DESC, partner)
                           AS rn
                FROM symj
            ) WHERE rn = 1
        )
        SELECT c.doc_id, c.cluster_id AS keeper_id, c.cluster_size,
               CAST(b.best_match_id AS BIGINT) AS best_match_id,
               b.best_jaccard
        FROM clu c JOIN best b USING (doc_id)
        WHERE c.doc_id != c.cluster_id"""
    )


ORACLES["q_dedup_attribution"] = _dedup_attribution_oracle()


# ------------------ r12: hash-sampled quantizer fit (extension, ANN scale)

SAMPLED_FIT_FRACTION = 0.25


def q_sampled_fit(spark, sf_dir):
    """ANN over a HASH-SAMPLED quantizer fit (r12): the sf10 probe
    measured the full-corpus k-means fit as the pipeline's first linear
    wall (10x embeddings -> 7.7x wall, PERF.md) and named the standard
    fix -- the fit is statistics, not inventory, so the Lloyd passes
    run over a deterministic ``hash_sample`` of the corpus while the
    assignment/probe tail still scores every vector.  Same probe/
    re-rank tail as ``q_ann_topk``; the oracle replays the exact
    affine-hash sample, so the sampled fit is hash-checkable end to
    end, and ``tests/test_sampled_fit.py`` pins both the
    fraction=1.0 == unsampled bit-equality and the recall floor vs
    the exact top-k."""
    from .cache import track
    from .functions.similarity import ann_topk, kmeans_fit

    emb = _emb(spark, sf_dir)
    cents = track(
        kmeans_fit(emb, k=8, iters=5, sample_fraction=SAMPLED_FIT_FRACTION)
    )
    return ann_topk(emb, centroids=cents)


def _sampled_fit_where() -> str:
    from .functions.sampling import _threshold

    return (
        f"({_SK_A} * vec_id + {_SK_B}) % {_SK_P}"
        f" < {_threshold(SAMPLED_FIT_FRACTION)}"
    )


ORACLES["q_sampled_fit"] = _ann_topk_oracle(
    fit_where=_sampled_fit_where()
)


# -------------- r12: DSIR importance resampling (extension, data selection)

def q_dsir_select(spark, sf_dir):
    """DSIR-style importance resampling (r12): the deterministic top-k
    variant of Xie et al. 2023 -- hashed unigram+bigram bag-of-features
    models for the target slice (lang='en') and the full pool, add-1
    smoothed, per-document importance = summed per-occurrence
    log-likelihood ratio in integer micro-bits (``log2_fp`` -- no libm,
    so the score hash-matches DuckDB exactly).  Fit is one
    map-side-combined groupBy to <= dim rows; scoring is ZERO-shuffle
    map-only (dense weight array broadcast as one row); selection is
    TakeOrderedAndProject.  See ``functions/dsir.py``."""
    from .functions.dsir import dsir_select

    return dsir_select(_docs(spark, sf_dir))


def _dsir_oracle() -> str:
    from .functions.dsir import DSIR_KEEP_N
    from .functions.intlog import log2_fp_sql
    from .functions.text import QC_DIM

    fold = _qc_fold_sql
    dim = QC_DIM
    w = (
        f"{log2_fp_sql('c_t + 1')} - {log2_fp_sql(f'n_t + {dim}')}"
        f" - {log2_fp_sql('c_q + 1')} + {log2_fp_sql(f'n_q + {dim}')}"
    )
    return f"""
    WITH t AS (SELECT doc_id, lang = 'en' AS is_target,
                      string_split(text, ' ') AS toks FROM documents),
    feats AS (
        SELECT doc_id, is_target,
               list_concat(
                   list_transform(toks, tok -> {fold('tok')} % {dim}),
                   CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                           i -> {fold("(toks[CAST(i AS INT)] || '_' || toks[CAST(i + 1 AS INT)])")} % {dim})
                   ELSE [] END
               ) AS fs
        FROM t
    ),
    fx AS (SELECT is_target, UNNEST(fs) AS bucket FROM feats),
    counts AS (
        SELECT bucket,
               SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t,
               COUNT(*) AS c_q
        FROM fx GROUP BY 1
    ),
    dense AS (
        SELECT s.bucket,
               CAST(COALESCE(c.c_t, 0) AS BIGINT) AS c_t,
               CAST(COALESCE(c.c_q, 0) AS BIGINT) AS c_q
        FROM (SELECT UNNEST(range({dim})) AS bucket) s
        LEFT JOIN counts c USING (bucket)
    ),
    tot AS (SELECT SUM(c_t) AS n_t, SUM(c_q) AS n_q FROM dense),
    wt AS (SELECT bucket, {w} AS w FROM dense, tot),
    warr AS (SELECT list(w ORDER BY bucket) AS arr FROM wt),
    scored AS (
        SELECT doc_id,
               CAST(len(fs) AS BIGINT) AS n_feats,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(fs,
                            b -> CAST(arr[CAST(b + 1 AS INT)] AS BIGINT))),
                    (a, x) -> a + x) AS BIGINT) AS score_micro
        FROM feats, warr
    )
    SELECT doc_id, n_feats, score_micro FROM scored
    ORDER BY score_micro DESC, doc_id LIMIT {DSIR_KEEP_N}"""


ORACLES["q_dsir_select"] = _dsir_oracle()


# ----------------- r12: C4-style rule filter (extension, quality heuristics)

def q_c4_rules(spark, sf_dir):
    """C4-style cleaning verdicts (r12): the line+page heuristics of
    Raffel et al. 2020 over the deterministically-injected c4_corpus
    (lorem-ipsum/brace/javascript/unpunctuated-chrome lines keyed on
    doc_id) -- per-doc rule booleans, the conjunctive keep, and the
    kept-page md5 so the hash covers the line filter itself.  Map-only;
    the governance complement of q_gopher_rules (C4 cleans
    line-granular where Gopher scores whole pages)."""
    from .functions.text import c4_corpus, c4_rules

    return c4_rules(c4_corpus(_docs(spark, sf_dir)))


def _c4_rules_oracle() -> str:
    from .functions.text import C4_MIN_LINE_WORDS, C4_MIN_SENTENCES

    return f"""
    WITH c4 AS (
        SELECT doc_id, concat_ws(chr(10),
            CASE WHEN doc_id % 7 = 0
                 THEN 'lorem ipsum dolor sit amet consectetur.' END,
            CASE WHEN doc_id % 11 = 0
                 THEN 'var config = {{ mode: fast }};' END,
            CASE WHEN doc_id % 13 = 0
                 THEN 'please enable javascript to continue now.' END,
            CASE WHEN doc_id % 2 = 0
                 THEN 'copyright acme corp all rights reserved' END,
            replace(text, ' table ', '. table ') || '.',
            CASE WHEN doc_id % 5 = 0 THEN 'Read more!' END,
            CASE WHEN doc_id % 3 = 0
                 THEN 'This is a perfectly good sentence to keep.' END
        ) AS text FROM documents
    ),
    l AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines,
               NOT contains(lower(text), 'lorem ipsum') AS r_lorem,
               NOT contains(text, '{{') AS r_brace
        FROM c4
    ),
    k AS (
        SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines, r_lorem, r_brace,
               array_to_string(list_filter(lines, ln ->
                   len(list_filter(string_split(ln, ' '),
                       w -> length(w) > 0)) >= {C4_MIN_LINE_WORDS}
                   AND (ends_with(ln, '.') OR ends_with(ln, '!')
                        OR ends_with(ln, '?') OR ends_with(ln, '"'))
                   AND NOT contains(lower(ln), 'javascript')
               ), chr(10)) AS clean
        FROM l
    ),
    s AS (
        SELECT doc_id, n_lines,
               CAST(CASE WHEN length(clean) = 0 THEN 0
                    ELSE len(string_split(clean, chr(10))) END AS BIGINT)
                   AS n_kept_lines,
               CAST(length(regexp_replace(clean, '[^.!?]', '', 'g'))
                   AS BIGINT) AS n_sentences,
               r_lorem, r_brace, md5(clean) AS clean_md5
        FROM k
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           n_sentences >= {C4_MIN_SENTENCES} AS r_sentences,
           r_lorem, r_brace,
           (n_sentences >= {C4_MIN_SENTENCES} AND r_lorem AND r_brace)
               AS keep,
           clean_md5
    FROM s"""


ORACLES["q_c4_rules"] = _c4_rules_oracle()


# ----------- r12: per-cluster embedding outliers (extension, curation)

def q_embed_outliers(spark, sf_dir):
    """Per-cluster embedding outliers (r12): the n least-prototypical
    vectors of each k-means cell (lowest assignment cosine) -- the
    prototypicality-filtering companion of SemDeDup / DataComp-style
    curation.  Fit = the shared deterministic kmeans; assignment =
    broadcast argmax fold (map-only); bottom-n election = the skew-safe
    two-level window (never k single-reducer partitions).  See
    ``functions/similarity.py::embed_outliers``."""
    from .functions.similarity import embed_outliers

    return embed_outliers(_emb(spark, sf_dir))


def _embed_outliers_oracle(
    n_cells: int = 8, iters: int = 5, n_outliers: int = 5
) -> str:
    """The shared unrolled Lloyd fit; outliers = the per-cell ascending
    rank over the final assignment cosines (a single window per cell is
    kept-set identical to the engine's two-level form)."""
    ctes = _kmeans_assign_ctes(n_cells, iters)
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT cell, vec_id, cosine, rank FROM (
            SELECT CAST(cell AS INT) AS cell, vec_id,
                   round(cscore, 6) AS cosine,
                   CAST(row_number() OVER (PARTITION BY cell
                            ORDER BY cscore ASC, vec_id) AS BIGINT) AS rank
            FROM cscored WHERE crn = 1
        ) WHERE rank <= {n_outliers}"""
    )


ORACLES["q_embed_outliers"] = _embed_outliers_oracle()


# ------------- r12: per-source quality governance rollup (extension)

def q_source_quality_report(spark, sf_dir):
    """Per-source quality governance rollup (r12): for every source,
    the keep counts of the three quality families (Gopher rules, C4
    rules over the injected corpus, hashed linear classifier) and the
    all-families survivor count -- ONE corpus scan (all three verdicts
    are per-row expressions in a single projection, scan_parallel-
    guarded: the classifier hash is per-character) + one map-side-
    combined groupBy to O(#sources) rows.  The oracle composes the
    three audited per-doc oracle SQLs by doc_id joins -- a deliberately
    DIFFERENT algorithm whose agreement also re-proves the engine's
    single-scan expressions equal the per-doc operators'.  The fixture's
    synthetic-boilerplate injection is passed HERE via ``c4_text`` (r12
    advice #1) -- the exported operator defaults to scoring the raw
    corpus; only this oracle-paired registry entry wants the injected
    form, because its oracle composes the injected q_c4_rules SQL."""
    from .functions.text import c4_text_expr, source_quality_report

    return source_quality_report(_docs(spark, sf_dir), c4_text=c4_text_expr)


def _source_quality_report_oracle() -> str:
    gop = ORACLES["q_gopher_rules"]
    c4v = ORACLES["q_c4_rules"]
    clf = ORACLES["q_quality_classifier"]
    return f"""
    WITH gop AS ({gop}),
    c4v AS ({c4v}),
    clf AS ({clf})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS gopher_keep,
           CAST(SUM(CASE WHEN c.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS c4_keep,
           CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS clf_keep,
           CAST(SUM(CASE WHEN g.keep AND c.keep AND q.keep
                    THEN 1 ELSE 0 END) AS BIGINT) AS all_keep
    FROM documents d
    JOIN gop g USING (doc_id)
    JOIN c4v c USING (doc_id)
    JOIN clf q USING (doc_id)
    GROUP BY d.source"""


ORACLES["q_source_quality_report"] = _source_quality_report_oracle()


# ------------- r11: cross-document line dedup (extension, CCNet family)

def q_line_dedup(spark, sf_dir):
    """Corpus-wide first-occurrence line dedup (r11): every distinct
    nonempty line survives only at its earliest (doc_id, position)
    occurrence -- the keep-one-copy complement of strip_boilerplate's
    frequency threshold.  Runs over the same injected multi-line corpus
    as q_boilerplate.  Keeper election never joins on the line content
    key (the keeper table IS the kept set), so a mega-line cannot
    serialize a reducer."""
    from .functions.text import boilerplate_corpus, line_dedup

    return line_dedup(boilerplate_corpus(_docs(spark, sf_dir)))


# the bp CTE mirrors functions/text.py::boilerplate_corpus verbatim
# (same injection text as the q_boilerplate oracle)
_LINE_DEDUP_BP = """
    WITH bp AS (
        SELECT doc_id,
          concat_ws(chr(10),
            CASE WHEN doc_id % 2 = 0
                 THEN 'copyright acme corp all rights reserved' END,
            CASE WHEN doc_id % 3 = 0
                 THEN 'subscribe to our newsletter for updates' END,
            text,
            CASE WHEN doc_id % 4 = 0
                 THEN 'privacy policy terms of service' END
          ) AS text
        FROM documents
    )
"""

ORACLES["q_line_dedup"] = _LINE_DEDUP_BP + """
    , occ AS (
        SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM bp)
    ),
    nz AS (SELECT * FROM occ WHERE length(line) > 0),
    -- independent algorithm: rank-to-1 per line (the engine elects the
    -- keeper via min(struct) aggregation instead)
    keeper AS (
        SELECT doc_id, pos, line FROM (
            SELECT doc_id, pos, line,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, pos) AS rn
            FROM nz
        ) WHERE rn = 1
    ),
    rebuilt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS clean
        FROM keeper GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(list_filter(string_split(b.text, chr(10)),
                                x -> length(x) > 0)) AS BIGINT) AS n_lines,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(length(COALESCE(r.clean, '')) AS BIGINT) AS clean_len,
           md5(COALESCE(r.clean, '')) AS clean_md5
    FROM bp b LEFT JOIN rebuilt r USING (doc_id)"""


# --------------- r11: mixture annealing schedule (extension, curriculum)

# anneal alpha 0.25 -> 0.5 -> 1.0 (flat early, proportional late); the
# phase budgets are the per-phase token allotments of a 10M-token run
MIX_SCHEDULE_PHASES = [
    (0, 2, 3_000_000),
    (1, 1, 4_000_000),
    (2, 0, 3_000_000),
]


def q_mixture_schedule(spark, sf_dir):
    """Multi-phase mixture annealing (r11): one temperature allocation
    per training phase over ONE corpus-count aggregate -- flat early
    (alpha 0.25 up-weights low-resource sources), proportional late.
    Every phase keeps the temperature operator's engine-exactness
    contract (2^-k alphas, residual-last micro weights, floored integer
    targets)."""
    from .functions.sampling import mixture_schedule

    return mixture_schedule(_docs(spark, sf_dir), MIX_SCHEDULE_PHASES)


def _mixture_schedule_oracle() -> str:
    """Per-phase re-instantiation of the q_temperature_mix SQL -- the
    sqrt nesting, the phase's OWN sequential-fold denominator, and the
    phase budget substituted -- UNION ALL'd with the phase literal."""
    parts = []
    for phase_id, sqrt_steps, phase_tokens in MIX_SCHEDULE_PHASES:
        wexpr = "CAST(n_tokens AS DOUBLE)"
        for _ in range(int(sqrt_steps)):
            wexpr = f"sqrt({wexpr})"
        parts.append(f"""
    SELECT CAST({int(phase_id)} AS INT) AS phase, stratum, n_tokens,
           weight_micro,
           CAST(({int(phase_tokens)} * weight_micro) // 1000000
                AS BIGINT) AS target_tokens
    FROM (
        -- r12 degenerate-residual guard (see q_temperature_mix)
        SELECT stratum, n_tokens,
               CAST(CASE WHEN resid >= 0 THEN
                             (CASE WHEN rn = cnt THEN resid ELSE rm END)
                         WHEN rn = cnt THEN 0
                         WHEN rn = amax_rn THEN rm + resid
                         ELSE rm END AS BIGINT) AS weight_micro
        FROM (
            SELECT *,
                   MIN(CASE WHEN rn < cnt AND rm = max_others THEN rn END)
                       OVER () AS amax_rn
            FROM (
                SELECT *,
                       1000000 - (rsum - MAX(CASE WHEN rn = cnt THEN rm
                                             END) OVER ()) AS resid,
                       MAX(CASE WHEN rn < cnt THEN rm END) OVER ()
                           AS max_others
                FROM (
                    SELECT stratum, n_tokens,
                           CAST(round(w / d * 1000000) AS BIGINT) AS rm,
                           row_number() OVER (ORDER BY stratum) AS rn,
                           COUNT(*) OVER () AS cnt,
                           CAST(SUM(CAST(round(w / d * 1000000) AS BIGINT))
                                OVER () AS BIGINT) AS rsum
                    FROM (SELECT stratum, n_tokens, {wexpr} AS w
                          FROM counts),
                         (SELECT list_reduce(
                                     list_prepend(CAST(0.0 AS DOUBLE),
                                                  list(w ORDER BY stratum)),
                                     (a, b) -> a + b) AS d
                          FROM (SELECT stratum, {wexpr} AS w FROM counts))
                )
            )
        )
    )""")
    return (
        """
    WITH counts AS (
        SELECT source AS stratum,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    )"""
        + " UNION ALL ".join(parts)
    )


ORACLES["q_mixture_schedule"] = _mixture_schedule_oracle()


# ----------------- r11: corpus duplication profile (governance)

def q_dedup_stats(spark, sf_dir):
    """Cluster-size histogram of the near-dup graph (r11): one row per
    observed size with cluster and doc counts; singletons are the size-1
    row, so sum(n_docs) = corpus size and sum(n_clusters) = post-dedup
    size.  The governance number behind every dedup decision."""
    from .functions.dedup import dedup_stats

    return dedup_stats(_docs(spark, sf_dir))


def _dedup_stats_oracle() -> str:
    cluster_sql = ORACLES["q_dedup_clusters"]
    marker = "SELECT CAST(node AS BIGINT) AS doc_id,"
    head, tail = cluster_sql.split(marker, 1)
    return (
        head.rstrip().rstrip(",")
        + ",\n        clusters AS (\n            "
        + marker
        + tail
        + """
        ),
        hist AS (
            SELECT cluster_size,
                   CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM clusters GROUP BY cluster_size
        ),
        tot AS (SELECT COUNT(*) AS n_clustered FROM clusters),
        corpusn AS (SELECT 2 * COUNT(*) AS n_corpus FROM documents)
        SELECT * FROM hist
        UNION ALL
        SELECT CAST(1 AS BIGINT) AS cluster_size,
               CAST(n_corpus - n_clustered AS BIGINT) AS n_clusters,
               CAST(n_corpus - n_clustered AS BIGINT) AS n_docs
        FROM corpusn, tot WHERE n_corpus - n_clustered > 0"""
    )


ORACLES["q_dedup_stats"] = _dedup_stats_oracle()


# --------------------- r11: training-shard balance audit (loader QA)

def q_shard_balance(spark, sf_dir):
    """Per-shard doc/token counts of the corpus_shuffle training order
    (r11): the loader-side QA that catches a token-skewed shard before
    a 1000-worker job stalls on it.  Round-robin makes doc counts
    near-equal by construction; tokens are the number that matters."""
    from .functions.sampling import shard_balance

    return shard_balance(_docs(spark, sf_dir))


def _shard_balance_oracle() -> str:
    from .functions.sketch import HASH_A, HASH_B, HASH_P

    return f"""
        WITH h AS (
            SELECT doc_id,
                   ({HASH_A} * doc_id + {HASH_B}) % {HASH_P} AS hv,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> len(w) > 0)) AS BIGINT) AS nt
            FROM documents
        ),
        o AS (
            SELECT nt,
                   CAST((row_number() OVER (ORDER BY hv) - 1) % 32 AS INT)
                       AS shard
            FROM h
        )
        SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM o GROUP BY shard"""


ORACLES["q_shard_balance"] = _shard_balance_oracle()


# --------------- r11: sequence-length / truncation-loss audit (QA)

def q_seq_audit(spark, sf_dir):
    """Truncation-loss audit (r11): per candidate max_seq_len, how many
    docs truncate and how many tokens the corpus loses vs keeps -- the
    QA table behind the PACK_SEQ_LEN decision.  Pure integers, one
    corpus scan for all candidates."""
    from .functions.sampling import seq_length_audit

    return seq_length_audit(_docs(spark, sf_dir))


def _seq_audit_oracle() -> str:
    from .functions.sampling import SEQ_AUDIT_LENGTHS

    vals = ", ".join(f"({int(x)})" for x in SEQ_AUDIT_LENGTHS)
    return f"""
        WITH n AS (
            SELECT CAST(len(list_filter(string_split(text, ' '),
                                        w -> len(w) > 0)) AS BIGINT) AS nt
            FROM documents
        ),
        L(seq_len) AS (VALUES {vals})
        SELECT CAST(seq_len AS BIGINT) AS seq_len,
               CAST(SUM(CASE WHEN nt > seq_len THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_truncated,
               CAST(SUM(GREATEST(nt - seq_len, 0)) AS BIGINT)
                   AS tokens_lost,
               CAST(SUM(LEAST(nt, seq_len)) AS BIGINT) AS tokens_kept
        FROM n, L GROUP BY seq_len"""


ORACLES["q_seq_audit"] = _seq_audit_oracle()


# ------------------------------------------------------- driver surface
# The 50 queries the driver contract (``__spark_entry__``) exposes, in the
# order it evaluates them; the driver runs at most 50.  Every other
# oracle-paired query is on LOCAL_ORACLE, hash-checked by the test suite.
DRIVER_SURFACE: tuple[str, ...] = (
    "q_lsh_advisor",
    "q_job_advisor",
    "q_media_meta",
    "q_minhash_lsh",
    "q_ngram_jaccard",
    "q_purge_set",
    "q_quality_score",
    "q_results_topk",
    "q_simhash",
    "q_simhash_pairs",
    "q_sla_resolve",
    "q_sliding_agg",
    "q_source_recos",
    "q_stage_metrics",
    "q_state_buckets",
    "q_token_count",
    "q_top_customers",
    "q_ts_parse",
    "q_ann_topk",
    "q_assign_row_ids",
    "q_audio_frames",
    "q_bigram_surprisal",
    "q_bm25_eval",
    "q_boilerplate",
    "q_bpe_segment",
    "q_chunk_dedup",
    "q_cms_probe",
    "q_cms_windowed",
    "q_corpus_diff",
    "q_corpus_pipeline",
    "q_corpus_shuffle",
    "q_count_min",
    "q_decode_audio",
    "q_decontaminate",
    "q_dedup_clusters",
    "q_domain_stats",
    "q_duration_anomalies",
    "q_epoch_shuffle",
    "q_funnel",
    "q_gopher_rules",
    "q_hash_sample",
    "q_ingest_full",
    "q_ivf_topk",
    "q_line_dedup",
    "q_mixture_sample",
    "q_mixture_schedule",
    "q_negative_samples",
    "q_normalize_text",
    "q_pack_sequences",
    "q_pii_redact",
)


def _check_driver_surface() -> None:
    # RuntimeError, not assert: asserts vanish under python -O, and a
    # 51st query would silently get no driver row.
    seen: set[str] = set()
    for name in DRIVER_SURFACE:
        if name in seen:
            raise RuntimeError(f"DRIVER_SURFACE lists {name} twice")
        seen.add(name)
        if name not in ORACLES:
            raise RuntimeError(f"DRIVER_SURFACE query {name} has no oracle SQL")
        if not callable(globals().get(name)):
            raise RuntimeError(f"DRIVER_SURFACE query {name} has no function")
    if len(DRIVER_SURFACE) != 50:
        raise RuntimeError(
            f"DRIVER_SURFACE must list exactly 50 queries, got {len(DRIVER_SURFACE)}"
        )


_check_driver_surface()

ORACLE: dict[str, str] = {name: ORACLES[name] for name in DRIVER_SURFACE}
LOCAL_ORACLE: dict[str, str] = {
    name: sql for name, sql in ORACLES.items() if name not in ORACLE
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    g = globals()
    return {name: g[name] for name in DRIVER_SURFACE}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
