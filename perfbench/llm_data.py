"""``llm_data``: the ingest and ANN flagships over seeded ``documents``
and ``embeddings``.

One operation = ``q_ingest_full`` (raw docs -> training order) followed by
``q_ann_topk`` (k-means IVF fit + exact re-rank), each materialized to the
noop sink, with the library's tracked caches released after each call.
"""

from __future__ import annotations

from statistics import median

from .common import noop
from .inputs import (
    DOCS_ROWS,
    EMB_ROWS,
    content_digest,
    seeded_documents,
    seeded_embeddings,
    write_table,
)

SIZES = {"full": (DOCS_ROWS, EMB_ROWS), "smoke": (300, 200)}


def _inputs(ctx) -> dict:
    n_docs, n_emb = SIZES[ctx.size]
    docs = seeded_documents(ctx.seed, n_docs)
    emb = seeded_embeddings(ctx.seed, n_emb)
    d = str(ctx.work / "inputs" / "llm")
    return {
        "dir": d,
        "ingest": {
            "tables": {"documents": write_table(docs, d, "documents")},
            "digest": content_digest(docs, "doc_id"),
        },
        "ann": {
            "tables": {"embeddings": write_table(emb, d, "embeddings")},
            "digest": content_digest(emb, "vec_id"),
        },
    }


def _release() -> tuple[int, int]:
    """(tracked persists right after the call, how many were released)."""
    from streaminglens_spark import cache

    tracked = len(cache._PERSISTED)
    return tracked, cache.release_caches()


def ingest(ctx, sf_dir: str) -> tuple[float, dict, tuple[int, int]]:
    from streaminglens_spark import registry

    from .expected import spark_digest

    spans = ctx.spans
    with spans.span("functions.corpus.ingest") as call:
        with spans.span("functions.corpus.ingest.build"):
            df = registry.q_ingest_full(ctx.spark, sf_dir)
        with spans.span("functions.corpus.ingest.action"):
            noop(df)
    digest = spark_digest(df)
    return call["ms"], digest, _release()


def ann(ctx, sf_dir: str) -> tuple[float, dict, tuple[int, int]]:
    from streaminglens_spark import registry

    from .expected import spark_digest

    with ctx.spans.span("functions.similarity.ann") as call:
        df = registry.q_ann_topk(ctx.spark, sf_dir)
        noop(df)
    digest = spark_digest(df)
    return call["ms"], digest, _release()


def ann_split(ctx, sf_dir: str) -> tuple[float, dict, tuple[int, int]]:
    """``q_ann_topk`` as its two public calls: the k-means fit, then
    ``ann_topk(centroids=...)`` (the same defaults as the registry query)."""
    from streaminglens_spark.functions.similarity import ann_topk, kmeans_fit
    from streaminglens_spark.sources.loaders import load_table

    from .expected import spark_digest

    spans = ctx.spans
    emb = load_table(ctx.spark, sf_dir, "embeddings")
    with spans.span("functions.similarity.ann") as call:
        with spans.span("functions.similarity.kmeans_fit"):
            cents = kmeans_fit(emb).persist()
            noop(cents)
        with spans.span("functions.similarity.ann_probe"):
            df = ann_topk(emb, centroids=cents)
            noop(df)
    digest = spark_digest(df)
    cents.unpersist()
    return call["ms"], digest, _release()


def run(ctx) -> dict:
    inp = _inputs(ctx)
    # warm-up: one untimed ingest call over the same input (a smaller input
    # is not cheaper -- the cold cost is per plan and per job, not per
    # row).  The ANN call is left cold: its first-call cost is ~2 s of a
    # ~20 s operation, and warming it would add ~9 s to every run.
    with ctx.warmup():
        ingest(ctx, inp["dir"])

    ingest_ms, op_ms, ingest_digests, ann_digests = [], [], [], []
    if ctx.trace:
        # overhead: the same ingest call before and after the listener
        untraced_ms, d1, _ = ingest(ctx, inp["dir"])
        ingest_digests.append(d1)
        ctx.attach_capture()
        traced_ms, d1, (tracked_i, released_i) = ingest(ctx, inp["dir"])
        _, d2, (tracked_a, released_a) = ann_split(ctx, inp["dir"])
        ingest_digests.append(d1)
        ann_digests.append(d2)
        ctx.layer["trace.overhead_ms"] = traced_ms - untraced_ms
        ctx.layer["trace.overhead_ratio"] = (traced_ms - untraced_ms) / untraced_ms
        ctx.layer["cache.tracked_after_call"] = tracked_i + tracked_a
        ctx.layer["cache.released"] = released_i + released_a
    else:
        ctx.start_timed()
        while not ingest_ms or not ctx.time_up():
            i_ms, d1, _ = ingest(ctx, inp["dir"])
            a_ms, d2, _ = ann(ctx, inp["dir"])
            ingest_ms.append(i_ms)
            op_ms.append(i_ms + a_ms)
            ingest_digests.append(d1)
            ann_digests.append(d2)

    failed = ctx.check("q_ingest_full", inp["ingest"], ingest_digests)
    failed += ctx.check("q_ann_topk", inp["ann"], ann_digests)
    attempted = len(ingest_digests) + len(ann_digests)
    if ctx.trace:
        ctx.finish_trace({}, corpus_calls=ctx.spans.named("functions.corpus.ingest"))
        spans, attr = ctx.spans, ctx.attribution
        fit = spans.named("functions.similarity.kmeans_fit")[0]
        probe = spans.named("functions.similarity.ann_probe")[0]
        ctx.layer["functions.similarity.kmeans_fit_ms"] = fit["ms"]
        ctx.layer["functions.similarity.kmeans_fit_jobs"] = attr.stats(fit)["jobs"]
        ctx.layer["functions.similarity.ann_probe_ms"] = probe["ms"]
        ctx.layer["functions.similarity.ann_jobs"] = attr.stats(probe)["jobs"]
        return {"attempted": attempted, "failed": failed}
    ctx.e2e.update(
        {
            "call_ms_p50": median(ingest_ms),
            "op_ms_p50": median(op_ms),
        }
    )
    return {"attempted": attempted, "failed": failed}
