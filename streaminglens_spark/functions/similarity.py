"""Similarity search over ``embeddings`` (north-star extension).

Brute-force cosine top-k as the exact baseline; an LSH (random-hyperplane)
bucketed variant as the scale path.  Dot products are sequential left folds
over the array (``F.aggregate``) so the float result is bit-identical to the
DuckDB oracle's ``list_reduce``.

Scale design: the query side is broadcast (few query vectors), so the
brute-force scan is a map-only pass over the corpus -- no shuffle; top-k is
a per-query window over a tiny candidate set.  The LSH variant buckets the
corpus once and joins query buckets, cutting the scan to matching buckets.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8


def _as_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


_INTEGRAL_CELL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _cells_array(centroids: DataFrame) -> DataFrame:
    """One-row DataFrame holding the cell-ascending broadcast array of
    (cell, cv, cnrm) structs that every argmax fold iterates.

    The cell id is validated and cast to int HERE, once, instead of inside
    the fold step (ADVICE r6): the fold's inner ``cast('int')`` silently
    produced NULL cells -- and an empty result -- for an external centroid
    table with non-integral cell ids (e.g. string labels), where the old
    window path accepted any orderable cell type.  Non-integral cell
    columns now raise immediately at plan-build time."""
    cell_type = dict(centroids.dtypes).get("cell")
    if cell_type not in _INTEGRAL_CELL_TYPES:
        raise TypeError(
            "centroids.cell must be an integral column (tinyint/smallint/"
            f"int/bigint); got {cell_type!r} -- relabel cells to integers "
            "before passing them to an argmax-fold consumer"
        )
    return centroids.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cell").cast("int").alias("cell"), "cv", "cnrm")
            )
        ).alias("cells")
    )


def _fold_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """THE argmax fold, defined once (r7 review: the identical closure
    lived in four call sites, each of which had to be edited in lock-step
    when the fold semantics changed): ``emb`` must carry ``v`` and
    ``nrm``; every emb column is preserved and (cell, cscore) appended --
    the strictly-greater fold over the cell-ascending broadcast centroid
    array, tie to the FIRST (lowest) cell, bit-identical to the
    (cscore DESC, cell ASC) window rank (pinned by
    ``tests/test_streaming_stateless_ops.py``).  A pure projection after
    the one-row broadcast join: map-only, streaming-legal."""
    cents_arr = _cells_array(centroids)
    init = F.struct(
        F.lit(-1).cast("int").alias("bc"),
        F.lit(float("-inf")).alias("bs"),
    )

    def step(acc: F.Column, c: F.Column) -> F.Column:
        # c["cell"] is already int (validated/cast once in _cells_array)
        s = _dot(F.col("v"), c["cv"]) / (F.col("nrm") * c["cnrm"])
        better = s > acc["bs"]
        return F.struct(
            F.when(better, c["cell"]).otherwise(acc["bc"]).alias("bc"),
            F.when(better, s).otherwise(acc["bs"]).alias("bs"),
        )

    best = F.aggregate(F.col("cells"), init, step)
    cols = list(emb.columns)
    return emb.join(F.broadcast(cents_arr)).select(
        *cols, best["bc"].alias("cell"), best["bs"].alias("cscore")
    )


def cosine_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k: query vectors = vec_id < n_queries.
    Returns (query_vec_id, neighbor_id, cosine)."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_vec_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_vec_id"))
        .withColumn("cos_exact", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")))
    )
    w = Window.partitionBy("query_vec_id").orderBy(F.col("cos_exact").desc(), F.col("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_vec_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_exact", 6).alias("cosine"),
        )
    )


def embed_dedup_pairs(
    embeddings: DataFrame, threshold: float = 0.4, max_block: int = 1000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by ``label`` (the
    candidate-generation strategy when natural blocking keys exist: only
    same-block pairs are compared, turning O(n^2) into O(sum of block^2)).

    Skew guard: a label holding a disproportionate share of the corpus makes
    its block^2 the job -- so labels with more than ``max_block`` vectors
    are SUB-BLOCKED by their random-hyperplane LSH bucket (``lsh_bucket``);
    only same-(label, bucket) pairs are compared.  Near-duplicates project
    to the same side of the hyperplanes with high probability, so recall
    within an oversized label degrades to the LSH guarantee instead of the
    exact one; normal-sized labels keep exact within-label semantics (at the
    fixture scales every label is under the default cap, so the driver
    oracle is unchanged).  Label counts are a broadcast (O(#labels)).
    Returns (vec_a, vec_b, cosine) with cosine >= threshold."""
    emb = embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("_n"))
    emb = emb.join(F.broadcast(counts), "label").withColumn(
        "block",
        F.when(F.col("_n") > max_block, lsh_bucket(F.col("v"))).otherwise(F.lit(0)).cast("long"),
    )
    a = emb.select(
        "label", "block", F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = emb.select(
        "label", "block", F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, ["label", "block"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_exact", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.round("cos_exact", 6) >= threshold)
        .select("vec_a", "vec_b", F.round("cos_exact", 6).alias("cosine"))
    )


def _hyperplane_sign(dim_idx: F.Column, plane: int) -> F.Column:
    """Deterministic pseudo-random hyperplane component in {-1, +1}:
    sign = +1 iff ((dim * 2654435761 + plane * 40503) mod 97) < 48."""
    return F.when(
        (dim_idx * F.lit(2654435761) + F.lit(plane * 40503)) % 97 < 48, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def lsh_bucket(v: F.Column, table: int = 0) -> F.Column:
    """Random-hyperplane LSH bucket id (N_PLANES-bit signature).  ``table``
    selects an independent hyperplane family (planes ``table*N_PLANES ..``)
    for multi-table probing; table 0 is the original family, so existing
    single-table callers (and the driver oracle) are unchanged."""
    bucket = F.lit(0)
    for p in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(
                    F.sequence(F.lit(1), F.size(v)),
                    lambda i: _hyperplane_sign(i, table * N_PLANES + p),
                ),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("long")


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """Coarse-quantizer centroids, one per ``label`` (the fixture's natural
    clusters; a production IVF fits them with k-means -- the list-building
    and probing below are identical either way).  Per-dimension means are
    computed over integer-quantized values (``round(x*1e6)`` summed as
    BIGINT) so the centroid is EXACT and order-independent -- the same trick
    as ``q_label_centroids`` -- making the whole IVF pipeline
    oracle-hash-checkable.  Returns (cell, cv array<double>, cnrm)."""
    dims = embeddings.select(
        "label", F.posexplode(_as_double("embedding")).alias("dim", "x")
    ).withColumn("q", F.round(F.col("x") * 1_000_000).cast("long"))
    cent = dims.groupBy("label", "dim").agg(
        (F.sum("q") / F.lit(1_000_000.0) / F.count(F.lit(1))).alias("c")
    )
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("p"))
        .select(
            F.col("label").alias("cell"),
            F.transform("p", lambda s: s["c"]).alias("cv"),
        )
        .withColumn("cnrm", _norm(F.col("cv")))
    )


def _lloyd_kernel(k: int, iters: int):
    """``applyInPandas`` kernel: the whole fit set (vec_id, v, nrm, q) ->
    the (cell, cv, cnrm) centroid table after init plus ``iters`` Lloyd
    iterations, with the Spark fold semantics of ``_fold_assign`` and
    the quantized re-estimation:

    - dot products are left folds over the dims (vectorized across
      rows x cells), scores ``dot / (nrm * cnrm)``; a zero denominator
      raises like Spark's ANSI division;
    - the argmax is a strictly-greater fold over ascending cells with
      Spark's ordering (NaN above every other value), so ties go to the
      lower cell;
    - each centroid is ``float(sum q) / 1e6 / count`` over its members'
      BIGINT-quantized values (``q`` is computed by Spark: its
      ``round`` is HALF_UP, numpy's is half-to-even); empty cells drop
      out and the rest keep their ids.

    Everything the kernel calls is local to it, so Spark ships it by
    value: the Python workers need not import this package."""

    def fold_norm(m: np.ndarray) -> np.ndarray:
        # `_norm` per row: a left fold of x*x from 0.0, then sqrt (never a
        # pairwise or BLAS sum, whose order changes the bits)
        acc = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            acc = acc + m[:, d] * m[:, d]
        return np.sqrt(acc)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="stable")
        v = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        kc = min(k, len(pdf))
        cells = np.arange(kc)
        cv, cnrm = v[:kc], nrm[:kc]
        if iters:
            q = np.stack(pdf["q"].to_numpy())
        for _ in range(iters):
            den = nrm[:, None] * cnrm[None, :]
            if (den == 0).any():
                raise ZeroDivisionError(
                    "[DIVIDE_BY_ZERO] kmeans_fit: cosine score with a "
                    "zero-norm vector or centroid"
                )
            dot = np.zeros(den.shape)
            for d in range(v.shape[1]):
                dot = dot + v[:, d, None] * cv[None, :, d]
            s = dot / den
            best = np.full(len(v), -1)
            bs = np.full(len(v), -np.inf)
            for j in range(len(cells)):
                better = np.where(np.isnan(s[:, j]), ~np.isnan(bs), s[:, j] > bs)
                best = np.where(better, j, best)
                bs = np.where(better, s[:, j], bs)
            used, pos, counts = np.unique(
                best, return_inverse=True, return_counts=True
            )
            sums = np.zeros((len(used), q.shape[1]), dtype=np.int64)
            np.add.at(sums, pos, q)
            if np.abs(q.astype(np.float64)).max() * len(q) >= 2.0**63:
                # int64 adds wrap modulo 2**64, so `sums` is exact iff the
                # true sum fits BIGINT -- where Spark's ANSI sum raises
                exact = np.zeros(sums.shape, dtype=object)
                np.add.at(exact, pos, q.astype(object))
                if ((exact < -(2**63)) | (exact >= 2**63)).any():
                    raise ArithmeticError(
                        "[ARITHMETIC_OVERFLOW] kmeans_fit: quantized "
                        "centroid sum overflows BIGINT"
                    )
            cells = cells[used]
            cv = sums.astype(np.float64) / 1_000_000.0 / counts[:, None]
            cnrm = fold_norm(cv)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "cv": list(cv), "cnrm": cnrm}
        )

    return fit


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF coarse quantizer -- the
    iterative-algorithm path when no natural cells (labels) exist.

    Init: the k lowest vec_ids (deterministic; k-means++ would sample),
    or every row when there are fewer than k.  Assignment metric:
    cosine, matching ``ivf_topk``'s probe ranking; ties break toward the
    lower cell id.  Re-estimation averages integer-QUANTIZED values
    (``round(x*1e6)`` summed as BIGINT, the ``ivf_centroids`` trick), so
    every centroid is exact and order-independent and the fit is
    bit-reproducible across partitionings and re-runs.  Empty cells drop
    out.  Returns (cell, cv, cnrm) -- drop-in for
    ``ivf_topk(centroids=...)``.

    Spark shape: Spark computes the per-row inputs (double vector, norm,
    quantized vector) and sends the whole fit set to ONE Python worker
    (a ``groupBy(lit(0)).applyInPandas`` kernel, ``_lloyd_kernel``),
    which runs the init and all iterations in numpy with the same
    sequential folds as ``_fold_assign`` -- two or three jobs per fit,
    whatever ``iters`` is.  The build stays lazy: nothing runs before the
    first action.

    ``sample_fraction`` is the lever at scale, where the fit set must
    fit one worker's memory: init and every iteration then read only the
    rows whose affine vec_id hash falls under the fraction
    (``hash_sample`` -- map-only, engine-independent, so the oracle
    replays the exact sample).  ``sample_fraction=1.0`` keeps every row
    and is bit-identical to the unsampled fit.  The returned centroids
    remain a drop-in for ``ivf_topk(centroids=...)`` consumers, which
    always score the FULL corpus.  A fraction whose sample holds fewer
    than ``k`` rows fails at first action (a lazy ``raise_error`` guard,
    the ``mixture_sample`` idiom) instead of silently fitting fewer
    cells; out-of-range fractions and ``k < 1`` raise ``ValueError`` at
    build time."""
    from .sampling import hash_sample

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if sample_fraction is not None and not 0.0 < sample_fraction <= 1.0:
        raise ValueError(
            f"sample_fraction must be in (0, 1], got {sample_fraction}"
        )
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    if sample_fraction is None:
        fit = emb
    else:
        fit = hash_sample(emb, "vec_id", sample_fraction)
        # lazy floor guard: COUNT over limit(k) always yields exactly one
        # row (even on an empty sample), so the raise fires for both the
        # undersized and the empty case; broadcast single-row attach
        guard = fit.limit(k).select(
            F.when(
                F.count(F.lit(1)) < k,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "kmeans_fit: hash-sampled fitset has only "
                        ),
                        F.count(F.lit(1)).cast("string"),
                        F.lit(
                            f" rows < k={k}; raise sample_fraction="
                            f"{sample_fraction} or lower k"
                        ),
                    )
                ),
            )
            .otherwise(F.lit(1))
            .alias("_fit_ok")
        )
        # the filter CONSUMES _fit_ok so column pruning cannot drop the
        # raise_error projection from the broadcast subtree (a bare
        # .drop() lets Catalyst prune the guard away entirely)
        fit = (
            fit.crossJoin(F.broadcast(guard))
            .filter(F.col("_fit_ok") == 1)
            .drop("_fit_ok")
        )
    if iters > 0:
        # Spark's HALF_UP round and ANSI cast (a NaN element raises here)
        fit = fit.withColumn(
            "q",
            F.transform("v", lambda x: F.round(x * 1_000_000).cast("long")),
        )
    # one group holds the whole fit set; the alias keeps Spark from reading
    # a bare integer literal as a GROUP BY ordinal
    return fit.groupBy(F.lit(0).alias("_fit")).applyInPandas(
        _lloyd_kernel(k, iters), "cell int, cv array<double>, cnrm double"
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k -- the second scale path next
    to ``ann_lsh_topk``: corpus vectors are assigned to their nearest coarse
    centroid (one inverted list per cell); each query probes its ``nprobe``
    nearest cells and searches only those lists.

    Scale shape: centroids are tiny and broadcast, so assignment is a
    map-only pass over the corpus (no shuffle); the candidate join shuffles
    by cell -- the corpus scan shrinks by ~n_cells/nprobe.  Returns
    (query_vec_id, neighbor_id, cosine), a subset of the exact result."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    caller_owned = centroids is not None
    cents = centroids if centroids is not None else ivf_centroids(embeddings)
    # cents feeds TWO consumers (corpus fold + query probes): persist the
    # k-row table so an expensive upstream fit (kmeans_fit) runs once.
    # Materialization OWNERSHIP (r11 verdict ask #6): caller-supplied
    # centroids are the caller's to materialize -- building this plan
    # runs ZERO jobs (q_shared_fit's laziness pin); the persisted table
    # still computes exactly once at first action (cache substitution at
    # planning time + block-level get-or-compute locks serialize the
    # concurrent broadcast threads of the r7 review's race).  The
    # INTERNAL-fit path keeps the eager fill: count() on a materialized
    # cache is a ~ms cached-scan job and the fit never leaks out of this
    # builder anyway.
    from ..cache import track

    cents = track(cents)
    if not caller_owned:
        cents.count()
    # r6 plan fix: the corpus side needs only the ARGMAX cell, so it uses
    # the fold over the cell-ascending broadcast centroid array (a pure
    # projection -- the old row_number window shuffled all n x k scored
    # rows and forced a persisted materialization to dodge the fan-out
    # recompute race).  Only the n_queries query vectors still rank their
    # top-nprobe cells, a window over n_queries x k rows.  Scores and
    # tie-breaks are bit-identical (fold/window equality pinned in
    # tests/test_streaming_stateless_ops.py); oracles untouched.
    # r7: the corpus-side fold is CPU-dense (k x dim MACs per row) --
    # guard it against single-split scan parallelism (the sf1 bench
    # regression: 5.9 s serial -> 1.9 s parallel).  The query side keeps
    # the ORIGINAL emb so its vec_id filter still pushes to the scan.
    from ..plans.shape import scan_parallel

    corpus = scan_parallel(emb)
    assign = _fold_assign(corpus, cents).select("cell", "vec_id", "v", "nrm")
    qscored = F.broadcast(cents).crossJoin(
        emb.filter(F.col("vec_id") < n_queries)
    ).withColumn(
        "cscore", _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), F.col("cell"))
    probes = (
        qscored.withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= nprobe)
        .select(
            "cell",
            F.col("vec_id").alias("query_vec_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_vec_id"))
        .withColumn("cos_exact", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")))
    )
    wk = Window.partitionBy("query_vec_id").orderBy(F.col("cos_exact").desc(), F.col("vec_id"))
    return (
        cand.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .select(
            "query_vec_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_exact", 6).alias("cosine"),
        )
    )


def ann_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 8,
    iters: int = 5,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """THE default ANN surface (r5, r4 verdict #3): IVF-backed re-rank with
    a ``kmeans_fit``-trained coarse quantizer -- probe the query's
    ``nprobe`` nearest learned cells, exact-cosine re-rank the lists.

    Why this and not hyperplane LSH as the default: on the fixture's
    random near-orthogonal vectors (LSH's hard case) the measured
    recall@10 ceiling of SRP-LSH is ~0.68 even at 8 tables with
    Hamming-2 multiprobe (296 bucket probes -- virtually a full scan),
    while the learned quantizer adapts its cells to the actual cosine
    geometry: recall@10 = 0.90 / 0.94 / 0.96 at nprobe 2 / 3 / 4 with
    8 cells, scanning ~nprobe/n_cells of the corpus.  The driver default
    (nprobe=3) carries a pinned >= 0.8 recall@10 contract
    (``tests/test_similarity_quality.py``); label-centroid IVF
    (``q_ivf_topk``) measures 0.38-0.52 here because the fixture's labels
    do not follow cosine geometry -- it stays the natural-cells variant
    for corpora where they do.

    Fully deterministic and oracle-checkable: the kmeans fit is
    bit-reproducible (integer-quantized centroid updates, lowest-vec_id
    init, ties to the lower cell), so the DuckDB oracle unrolls the same
    ``iters`` Lloyd iterations as CTEs and hash-matches exactly.

    Shared-fit path (r5 verdict ask #7): pass ``centroids`` (a fitted
    ``kmeans_fit`` table, persisted by the caller) to skip the internal
    fit -- a real pipeline fits the quantizer ONCE and feeds it to every
    consumer (``ann_topk``, ``semantic_dedup_pairs``, ``ann_increment``);
    see ``registry.q_shared_fit`` for the fit-once composition."""
    if centroids is None:
        # internal fit: THIS builder owns materialization (ivf_topk sees
        # a caller-supplied table and defers per the ownership contract)
        from ..cache import track

        cents = track(kmeans_fit(embeddings, k=n_cells, iters=iters))
        cents.count()
    else:
        cents = centroids
    return ivf_topk(
        embeddings, n_queries=n_queries, k=k, nprobe=nprobe, centroids=cents
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.4,
    iters: int = 5,
    centroids: DataFrame | None = None,
    max_block: int = 1000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with the SAME deterministic
    ``kmeans_fit`` quantizer the ANN surface uses, then exact-cosine
    compare only WITHIN each learned cell -- the label-free counterpart
    of ``embed_dedup_pairs`` (which needs natural blocking keys).  A
    semantic duplicate and its twin land in the same cell with high
    probability (they are near-identical vectors), so recall degrades
    only for pairs straddling a cell boundary -- SemDeDup's documented
    trade.  Honest numbers (``tests/test_semantic_dedup.py``): planted
    true twins (identical / near-identical vectors) are found at recall 1.0
    -- identical vectors score identically and tie-break into the SAME
    cell deterministically -- while the fixture's near-orthogonal random
    scatter at cosine >= 0.3 (pairs with no semantic relation, the
    blocking-hostile hard case, same as LSH's) measures ~0.33; the
    operator is a DEDUP primitive, not a general similarity join --
    ``cosine_topk``/``ann_topk`` are the search surfaces.

    Scale shape: centroids broadcast (k x dim), assignment map-only,
    candidate generation an equi-join on cell => O(sum cell^2) not
    O(n^2); choose ``n_cells ~ n / target_cell_size`` at scale.  Cells
    that still exceed ``max_block`` vectors are sub-blocked by their
    hyperplane-LSH bucket (the ``embed_dedup_pairs`` skew guard; at the
    fixture scale no cell reaches the cap, so the oracle is unchanged).
    The pairs feed ``dedup_clusters`` / ``dedup_clusters_contract`` for
    the keep-one-per-group step, exactly like the MinHash path.
    Returns (vec_a, vec_b, cosine) with round(cosine, 6) >= threshold."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    caller_owned = centroids is not None
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(embeddings, k=n_cells, iters=iters)
    )
    # r6 plan fix (the ivf_topk/kmeans_fit lesson): argmax-only assignment
    # as the fold over the cell-ascending broadcast centroid array -- no
    # n x k window shuffle; bit-identical cells.  r7: fold at full
    # parallelism, not single-split scan parallelism.
    from ..plans.shape import scan_parallel

    emb = scan_parallel(emb)
    assign = _fold_assign(emb, cents).select("cell", "vec_id", "v", "nrm")
    # persist before the self-join fan-out: both sides would otherwise
    # recompute the assignment fold (the ivf_topk / minhash lesson).
    # Eager only on the internal-fit path -- a caller-owned fit defers to
    # first action (the ivf_topk ownership contract, r11 verdict ask #6);
    # the persisted fold still computes once (block-level locks).
    from ..cache import track

    assign = track(assign)
    if not caller_owned:
        assign.count()
    counts = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    assign = assign.join(F.broadcast(counts), "cell").withColumn(
        "block",
        F.when(F.col("_n") > max_block, lsh_bucket(F.col("v")))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    a = assign.select(
        "cell", "block", F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = assign.select(
        "cell", "block", F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, ["cell", "block"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_exact", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.round("cos_exact", 6) >= threshold)
        .select("vec_a", "vec_b", F.round("cos_exact", 6).alias("cosine"))
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Mean per-query fraction of the exact top-k an approximate result
    recovered -- the quality number that makes an ANN path's speed/recall
    tradeoff explicit (both inputs: ``query_vec_id, neighbor_id, ...``).
    Driver-side only in the final per-query averages (O(#queries))."""
    a = approx.select("query_vec_id", "neighbor_id")
    e = exact.select("query_vec_id", "neighbor_id")
    hit = e.join(a, ["query_vec_id", "neighbor_id"]).groupBy("query_vec_id").count()
    tot = e.groupBy("query_vec_id").agg(F.count(F.lit(1)).alias("t"))
    rows = (
        tot.join(hit, "query_vec_id", "left")
        .select((F.coalesce(F.col("count"), F.lit(0)) / F.col("t")).alias("r"))
        .collect()
    )
    return float(sum(r["r"] for r in rows) / len(rows)) if rows else 0.0


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_tables: int = 1,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Returns (query_vec_id, neighbor_id, cosine) -- a subset of the exact
    result, recall depending on bucket granularity.

    ``n_tables > 1`` enables standard multi-table LSH: each table hashes
    with an independent hyperplane family and candidates are the UNION of
    per-table bucket matches (deduped before the exact re-rank), trading a
    linear scan-cost factor for recall.  ``multiprobe=1`` additionally
    probes, per table, every bucket within Hamming distance 1 of the
    query's signature (multi-probe LSH, Lv et al. VLDB'07): a near
    neighbor that lands one plane away is recovered without paying for
    another full table.  Probing is QUERY-side only -- the corpus keeps
    one row per (vector, table); each query explodes to the
    ``1 + N_PLANES`` probe buckets per table, which then drive the same
    equi-join, so the corpus-side index cost is unchanged and the scan
    fraction is ~``n_tables * (1 + N_PLANES) / 2^N_PLANES`` of the corpus.

    Measured on the sf0.01 fixture (recall vs the exact top-k; the
    fixture's random near-orthogonal vectors are LSH's hard case):
    recall@5 = 0.16 / 0.28 / 0.44 at 1 / 4 / 8 tables exact-bucket, and
    the driver default (see ``registry.q_ann_lsh``) carries a pinned
    >= 0.8 recall@10 contract in ``tests/test_similarity_quality.py``
    (the ``kmeans_fit``-trained IVF reaches 0.92 at nprobe=2 on the same
    data and stays the highest-recall-per-candidate path)."""
    buckets = F.array(*[lsh_bucket(F.col("v"), t) for t in range(n_tables)])
    emb = (
        embeddings.select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
        .withColumn("bs", buckets)
        .select(
            "vec_id", "v", "nrm", F.posexplode(F.col("bs")).alias("table", "bucket")
        )
    )
    # hamming-<=multiprobe probe masks (0 = the home bucket); query-side
    # explode only.  mp=1 adds the N_PLANES single-bit flips; mp=2 adds the
    # C(N_PLANES,2) double flips (37 probes/table at 8 planes)
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << p for p in range(N_PLANES)]
    if multiprobe >= 2:
        masks += [
            (1 << p) | (1 << r)
            for p in range(N_PLANES)
            for r in range(p + 1, N_PLANES)
        ]
    q = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "table",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    )
    scored = (
        F.broadcast(q)
        .join(emb, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_vec_id"))
        .select("query_vec_id", "qv", "qn", "vec_id", "v", "nrm")
        .distinct()  # a pair matching in several tables re-ranks once
        .withColumn("cos_exact", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")))
    )
    w = Window.partitionBy("query_vec_id").orderBy(F.col("cos_exact").desc(), F.col("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_vec_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_exact", 6).alias("cosine"),
        )
    )


Q8_SCALE = 256  # power of two: x * 256 is EXACT in double arithmetic
Q8_CLAMP = 127


# --- random projection (round-4 extension) ----------------------------------

RP_OUT_DIM = 8
RP_IN_DIM = 64


def _rp_sign(j: int, k: int) -> float:
    """Deterministic pseudo-random projection sign in {-1.0, +1.0} for
    input dim ``j``, output dim ``k``.  md5 gives well-mixed bits (an LCG's
    low-bit periodicity measurably hurt distance preservation here); the
    signs are PYTHON-side constants baked into both engines' plans, so
    hash quality is a statistics choice, not a portability constraint."""
    h = int(hashlib.md5(f"{j},{k}".encode()).hexdigest(), 16)
    return 1.0 if h & 1 == 0 else -1.0


def rp_signs(out_dim: int = RP_OUT_DIM, in_dim: int = RP_IN_DIM) -> list[list[float]]:
    """The +-1 projection matrix as Python literals -- embedded verbatim in
    both the Spark plan and the DuckDB oracle, so no cross-engine hash
    arithmetic is involved."""
    return [[_rp_sign(j, k) for j in range(in_dim)] for k in range(out_dim)]


def random_project(embeddings: DataFrame, out_dim: int = RP_OUT_DIM) -> DataFrame:
    """Signed random projection (Achlioptas/JL) of the embedding column to
    ``out_dim`` dims (round-4 extension): the cheap dimensionality
    reduction a 100 TB vector corpus runs before clustering / ANN -- an
    8x narrower vector cuts every downstream shuffle and scan 8x, and
    sign-random projections preserve inner products in expectation.

    Each output component is a sequential ``F.aggregate`` fold over
    ``zip_with(embedding, signs_k)`` -- multiplication by +-1.0 is exact,
    float->double promotion is exact, and the left-fold sum order matches
    the oracle's ``list_reduce``, so the result is bit-identical across
    engines (the repo's float-exactness rule).  Also emits ``srp_sig``,
    the packed sign bits of the projected vector -- the out_dim-bit SRP-LSH
    signature (hamming distance on it approximates angular distance).

    Spark shape: a ZERO-shuffle map-only projection -- the plan must never
    move the corpus to narrow it.
    Returns (vec_id, label, p0..p{out_dim-1}, srp_sig)."""
    signs = rp_signs(out_dim)
    emb = _as_double("embedding")
    comps = []
    for k in range(out_dim):
        sk = F.array(*[F.lit(s) for s in signs[k]])
        comps.append(
            F.round(
                F.aggregate(
                    F.zip_with(emb, sk, lambda x, s: x * s),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            )
        )
    sig = F.lit(0)
    for k in range(out_dim):
        sig = sig + F.when(comps[k] > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return embeddings.select(
        "vec_id",
        "label",
        *[c.alias(f"p{k}") for k, c in enumerate(comps)],
        sig.cast("long").alias("srp_sig"),
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Int8 scalar quantization of the embedding column (round-4
    extension): ``q_i = clamp(round(x_i * 256), -127, 127)`` -- the 4x
    memory / shuffle-bandwidth compression a 100 TB vector corpus wants
    before anything else (PQ/OPQ refine it; int8 is the workhorse).

    Determinism: the scale is a power of two, so ``x * 256`` is exact in
    double arithmetic and ``round`` sees the true value -- the quantized
    code is a pure function of the input bits, identical across engines
    and partitionings (the repo's integer-quantization oracle rule).
    Returns (vec_id, label, qv ARRAY<INT>)."""
    qv = F.transform(
        _as_double("embedding"),
        lambda x: F.greatest(
            F.lit(-Q8_CLAMP),
            F.least(F.lit(Q8_CLAMP), F.round(x * Q8_SCALE).cast("int")),
        ),
    )
    return embeddings.select("vec_id", "label", qv.alias("qv"))


def quantized_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """Brute-force top-k over the INT8-quantized corpus: scores are exact
    integer dot products (64 dims x 127^2 max per term -- fits a long with
    55 bits to spare), so ranking is bit-deterministic with zero float
    folds anywhere.  Same broadcast-query map-only scan shape as
    ``cosine_topk``; at 100 TB the quantized corpus moves 4x less data
    through the scan and the integer MAC pipeline is SIMD-friendly.
    Quality: int8 quantization preserves neighbor order almost everywhere
    (recall vs the exact float top-k is pinned >= 0.8 in
    tests/test_extensions_r4b.py); ties in the quantized score are real
    ties of the code, broken by vec_id.
    Returns (query_vec_id, neighbor_id, dot_q8)."""
    emb = quantize_embeddings(embeddings).select("vec_id", "qv")
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_vec_id"), F.col("qv").alias("qq")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("qv"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_vec_id"))
        .withColumn("dot_q8", dot)
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("dot_q8").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_vec_id", F.col("vec_id").alias("neighbor_id"), "dot_q8")
    )


# ----------------------------------------------------- incremental index

def ann_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-only cell assignment against an EXISTING coarse quantizer:
    broadcast the (tiny) centroid table, argmax cosine per vector, ties to
    the lower cell -- the same ranking as ``ivf_topk``'s assignment stage
    but with no fit and no corpus self-join.  Returns
    (vec_id, cell, cscore)."""
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    scored = F.broadcast(centroids).crossJoin(emb).withColumn(
        "cscore", _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), F.col("cell"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell", "cscore")
    )


def ann_index_stats(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cell baseline stats of an IVF index -- the O(k)-row artifact an
    incremental pipeline persists next to the centroids (the embedding-side
    analogue of ``minhash_index``): list size and mean assignment cosine.

    The mean is computed over integer-quantized scores
    (``round(cscore*1e6)`` summed as BIGINT) so it is exact and
    order-independent -- same trick as ``ivf_centroids``.  Returns
    (cell, n_vecs, mean_score)."""
    a = ann_assign(embeddings, centroids).withColumn(
        "q", F.round(F.col("cscore") * 1_000_000).cast("long")
    )
    return a.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (F.sum("q") / F.lit(1_000_000.0) / F.count(F.lit(1))).alias("mean_score"),
    )


def ann_increment(
    new_batch: DataFrame,
    centroids: DataFrame,
    baseline: DataFrame,
    drift_margin: float = 0.05,
    growth_ratio: int = 3,
) -> DataFrame:
    """Incremental embedding-index maintenance (r5 verdict ask #5) -- the
    ``dedup_against_index`` pattern applied to the IVF quantizer: a NEW
    batch of vectors is folded into an existing index WITHOUT rescanning
    the corpus.

    Touches only: the new batch (one map-only assignment pass over a
    broadcast centroid table), and the persisted O(k)-row per-cell
    ``baseline`` from ``ann_index_stats``.  At 100 TB the corpus is never
    re-read; the refit decision is made from sketch-sized state.

    Two refit triggers, because argmax assignment hides score drift (a
    mismatched vector still picks SOME best cell, so its best-of-k cosine
    stays near the matched baseline on weakly-clustered data):

    - ``drift_flagged``: the new batch's mean assignment cosine in a cell
      falls more than ``drift_margin`` below that cell's corpus baseline
      -- the centroid no longer represents what lands in it;
    - ``growth_flagged``: the cell's share of new mass exceeds
      ``growth_ratio`` x its baseline share (integer cross-multiplied,
      no float shares) -- a distribution shift concentrating vectors
      into few cells, the signature of out-of-distribution data under
      argmax assignment.

    Cells receiving no new vectors keep n_new = 0, NULL new_mean, and
    are never flagged.  The join with the baseline is FULL OUTER
    (ADVICE r6): a cell that held ZERO corpus vectors but receives new
    mass appears with n_corpus = 0, NULL base_mean, and growth_flagged
    TRUE -- an empty cell receiving mass is the strongest refit signal,
    and the old left join silently dropped it from both the output and
    tot_new.  Returns (cell, n_corpus, n_new, base_mean, new_mean,
    drift_flagged, growth_flagged), one row per cell present in either
    side; means exact via integer quantization, rounded to 6 for the
    oracle hash."""
    inc = (
        ann_assign(new_batch, centroids)
        .withColumn("q", F.round(F.col("cscore") * 1_000_000).cast("long"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            (F.sum("q") / F.lit(1_000_000.0) / F.count(F.lit(1))).alias(
                "new_mean_raw"
            ),
        )
    )
    joined = (
        baseline.join(inc, "cell", "full")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0).cast("long")))
        .withColumn(
            "n_vecs", F.coalesce(F.col("n_vecs"), F.lit(0).cast("long"))
        )
    )
    # totals over the O(k) per-cell table: a global window over k rows,
    # never over data rows
    wall = Window.partitionBy()
    joined = joined.withColumn("tot_corpus", F.sum("n_vecs").over(wall)).withColumn(
        "tot_new", F.sum("n_new").over(wall)
    )
    return joined.select(
        "cell",
        F.col("n_vecs").alias("n_corpus"),
        "n_new",
        F.round(F.col("mean_score"), 6).alias("base_mean"),
        F.round(F.col("new_mean_raw"), 6).alias("new_mean"),
        F.coalesce(
            F.col("new_mean_raw") < F.col("mean_score") - F.lit(drift_margin),
            F.lit(False),
        ).alias("drift_flagged"),
        # share_new > ratio * share_base, cross-multiplied in BIGINT:
        # n_new * tot_corpus > ratio * n_vecs * tot_new
        (
            (F.col("n_new") * F.col("tot_corpus"))
            > (F.lit(growth_ratio) * F.col("n_vecs") * F.col("tot_new"))
        ).alias("growth_flagged"),
    )


def ann_assign_fold(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Streaming-legal ``ann_assign``: the argmax over cells as a
    sequential FOLD over the (cell-sorted, broadcast) centroid array
    instead of a row_number window -- a pure projection, so it runs
    UNCHANGED on a streaming DataFrame (the ``pq_encode`` recipe: fit
    offline, assign on arrival).  Strictly-greater comparison over the
    cell-ascending array keeps the FIRST best cell, i.e. identical
    tie-to-lower-cell semantics -- and identical float comparisons -- to
    ``ann_assign``'s (cscore DESC, cell ASC) rank; pinned bit-equal by
    ``tests/test_streaming_stateless_ops.py``.  Returns
    (vec_id, cell, cscore)."""
    from ..plans.shape import scan_parallel

    emb = scan_parallel(
        embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
            "nrm", _norm(F.col("v"))
        )
    )
    return _fold_assign(emb, centroids).select("vec_id", "cell", "cscore")


def ann_stats_shard(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-shard ADDITIVE form of ``ann_index_stats``: (cell, n_vecs,
    qsum) with qsum = SUM(round(cscore*1e6)) as BIGINT -- counts and
    integer score sums are additive across arbitrary corpus splits, so a
    continuously-ingesting pipeline appends one shard per batch (the
    ``kll_sketch_shards`` / ``boilerplate_index`` pattern) and finalizes
    with ``merge_ann_stats`` whenever it needs the baseline.  Uses the
    streaming-legal fold assignment, so the shard builder runs unchanged
    in foreachBatch."""
    a = ann_assign_fold(embeddings, centroids).withColumn(
        "q", F.round(F.col("cscore") * 1_000_000).cast("long")
    )
    return a.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("qsum"),
    )


def ann_vector_shard(new_batch: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-cell ADDITIVE vector-mass shard of a new batch: (cell, n_new,
    vsum ARRAY<BIGINT>) with vsum[d] = SUM(round(x_d * 1e6)) over the
    vectors fold-assigned to the cell -- exactly the sufficient statistic
    a weighted centroid update (mini-batch k-means) needs.  Integer
    per-dimension sums are additive across arbitrary batch splits and
    order-independent, so shards from many micro-batches merge by plain
    SUM (``merge_vector_shards``) and the merged update is bit-identical
    to a one-shot update over the union.

    One GENUINELY map-only pass over the new batch: the fold preserves
    ``v``, so the cell rides the same row as the vector -- no join back
    on vec_id (r7 review: the earlier self-join scanned and normalized
    the batch twice and shuffled it once); the corpus is never read."""
    from ..plans.shape import scan_parallel

    emb = scan_parallel(
        new_batch.select("vec_id", _as_double("embedding").alias("v")).withColumn(
            "nrm", _norm(F.col("v"))
        )
    )
    a = _fold_assign(emb, centroids).select("cell", "v")
    dims = a.select("cell", F.posexplode("v").alias("dim", "x")).withColumn(
        "q", F.round(F.col("x") * 1_000_000).cast("long")
    )
    per_dim = dims.groupBy("cell", "dim").agg(
        F.sum("q").cast("long").alias("qs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        per_dim.groupBy("cell")
        .agg(
            F.max("n").cast("long").alias("n_new"),
            F.array_sort(F.collect_list(F.struct("dim", "qs"))).alias("p"),
        )
        .select(
            "cell",
            "n_new",
            F.transform("p", lambda s: s["qs"]).alias("vsum"),
        )
    )


def merge_vector_shards(shards: DataFrame) -> DataFrame:
    """Fold any number of ``ann_vector_shard`` outputs into one:
    element-wise BIGINT sums (``zip_with``) + count sums, so the merge is
    exact and associative."""
    sums = (
        shards.select("cell", F.posexplode("vsum").alias("dim", "qs"))
        .groupBy("cell", "dim")
        .agg(F.sum("qs").cast("long").alias("qs"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "qs"))).alias("p"))
        .select("cell", F.transform("p", lambda s: s["qs"]).alias("vsum"))
    )
    counts = shards.groupBy("cell").agg(
        F.sum("n_new").cast("long").alias("n_new")
    )
    return counts.join(sums, "cell").select("cell", "n_new", "vsum")


def kmeans_update(
    centroids: DataFrame,
    baseline: DataFrame,
    vector_shard: DataFrame,
    micro: bool = False,
) -> DataFrame:
    """Incremental centroid refit (r6 verdict ask #3): fold new-batch mass
    into the fitted centroids WITHOUT rescanning the corpus -- the
    mini-batch k-means weighted-mean update over O(k) rows:

        cv'[d] = (n_base * cv[d] + vsum[d] / 1e6) / (n_base + n_new)

    ``centroids`` is the fitted (cell, cv, cnrm) table, ``baseline`` the
    persisted per-cell counts (``ann_index_stats`` / ``merge_ann_stats``
    shape -- only n_vecs is used), ``vector_shard`` the new batch's
    additive vector-mass shard.  After the LAST Lloyd assignment the
    centroid IS the mean of its corpus vectors, so n_base * cv recovers
    their per-dimension sum exactly (up to the engine's own 1e-6
    quantization) and the update equals a mean over corpus + new vectors
    at the old assignment -- the standard mini-batch approximation; the
    drift/growth triggers (``ann_increment``) decide when it has decayed
    enough to warrant a full refit.

    Cells with no new mass keep their centroid bit-identical (no float
    round-trip); cells with no baseline mass (empty-cell growth) become
    the new mass's mean.  All arithmetic integer until the final
    division, so the update is deterministic and shard-merge-invariant.
    Returns (cell, cv, cnrm), same shape as ``kmeans_fit`` -- drop-in for
    every centroid consumer.  Everything here is O(k x dim); the corpus
    is never touched.

    ``micro=True`` returns (cell, cv_micro ARRAY<BIGINT>) instead: the
    updated centroid in 1e-6 units via PURE-INTEGER half-away-from-zero
    division ((2|N| + D) div 2D, sign restored) -- no double rounding
    anywhere, so the value is engine-bit-exact and serves as the oracle/
    serialization form (``q_ann_refit``); round(x, 6) on the double form
    can disagree across engines at representation boundaries."""
    base_n = baseline.select("cell", F.col("n_vecs").cast("long").alias("n_base"))
    upd = (
        centroids.select("cell", "cv")
        .join(base_n, "cell", "left")
        .join(vector_shard, "cell", "left")
        .withColumn("n_base", F.coalesce(F.col("n_base"), F.lit(0).cast("long")))
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0).cast("long")))
    )
    zeros = F.transform(F.col("cv"), lambda _: F.lit(0).cast("long"))
    if micro:
        # N = n_base * round(cv*1e6) + vsum (BIGINT); D = n_base + n_new;
        # micro = sign(N) * ((2|N| + D) div (2D)) -- half away from zero,
        # pure LONG arithmetic end to end (a long `div`, never a double
        # division of big longs, so no precision cliff at large n_base)
        rows = (
            upd.withColumn("vs", F.coalesce(F.col("vsum"), zeros))
            .select(
                "cell",
                "n_base",
                "n_new",
                F.posexplode(F.arrays_zip("cv", "vs")).alias("dim", "z"),
            )
            .withColumn(
                "N",
                F.col("n_base")
                * F.round(F.col("z.cv") * 1_000_000).cast("long")
                + F.col("z.vs"),
            )
            .withColumn("D", (F.col("n_base") + F.col("n_new")).cast("long"))
        )
        half_up = F.expr(
            "CASE WHEN N < 0 THEN -((2 * -N + D) div (2 * D)) "
            "ELSE (2 * N + D) div (2 * D) END"
        ).cast("long")
        rows = rows.withColumn(
            "m",
            F.when(F.col("n_new") > 0, half_up).otherwise(
                F.round(F.col("z.cv") * 1_000_000).cast("long")
            ),
        )
        return (
            rows.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p"))
            .select(
                "cell", F.transform("p", lambda s: s["m"]).alias("cv_micro")
            )
        )
    # integer numerator: n_base * round(cv*1e6) + vsum ; denominator in
    # micro-units: 1e6 * (n_base + n_new)
    merged = F.zip_with(
        F.col("cv"),
        F.coalesce(F.col("vsum"), zeros),
        lambda c, s: (
            F.col("n_base") * F.round(c * 1_000_000).cast("long") + s
        )
        / (F.lit(1_000_000.0) * (F.col("n_base") + F.col("n_new"))),
    )
    out = upd.select(
        "cell",
        F.when(F.col("n_new") > 0, merged).otherwise(F.col("cv")).alias("cv"),
    )
    return out.withColumn("cnrm", _norm(F.col("cv")))


def merge_ann_stats(shards: DataFrame) -> DataFrame:
    """Fold any number of ``ann_stats_shard`` outputs into the
    ``ann_index_stats`` baseline shape (cell, n_vecs, mean_score).
    Integer sums make the merge EXACT: the merged baseline is
    bit-identical to a one-shot ``ann_index_stats`` over the union
    (pinned by ``tests/test_ann_increment.py``)."""
    m = shards.groupBy("cell").agg(
        F.sum("n_vecs").cast("long").alias("n_vecs"),
        F.sum("qsum").cast("long").alias("qsum"),
    )
    return m.select(
        "cell",
        "n_vecs",
        (F.col("qsum") / F.lit(1_000_000.0) / F.col("n_vecs")).alias("mean_score"),
    )


def semantic_decontaminate(
    embeddings: DataFrame,
    eval_embeddings: DataFrame,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-space eval decontamination (r7): flag training vectors
    whose cosine to ANY eval-set vector reaches ``threshold`` -- the
    semantic complement of the n-gram ``decontaminate`` pass (paraphrased
    leakage has no shared 8-gram but lights up in embedding space).

    Spark shape: the eval set is small by definition, so it becomes the
    broadcast "centroid" table of the shared argmax fold -- ONE map-only
    pass over the corpus computes each vector's nearest eval item and max
    cosine; no shuffle, no candidate join, streaming-legal (score new
    batches on arrival).  Ties go to the lowest eval id (the fold
    contract).  Cosines are rounded to 6 BEFORE the threshold test so the
    flag is oracle-bit-exact.  Eval ids must fit in int (the fold cell
    contract) -- VALIDATED at plan-build time (r7 ADVICE: the cast is
    non-ANSI, so an id >= 2^31 would otherwise wrap silently into a wrong
    nearest_eval_id); re-key a wider id space first.

    Returns (vec_id, nearest_eval_id, max_eval_cosine, contaminated) for
    every corpus vector -- keep ``~contaminated`` for the training set,
    or audit the flagged rows against the eval items they matched."""
    from ..plans.shape import scan_parallel

    # the eval set is O(eval) rows (it broadcasts as the fold table), so
    # the range check is one tiny plan-build-time job, the _cells_array
    # raise-early convention
    bounds = eval_embeddings.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()[0]
    if bounds["lo"] is not None and (
        int(bounds["lo"]) < -(2**31) or int(bounds["hi"]) >= 2**31
    ):
        raise ValueError(
            "semantic_decontaminate: eval vec_id range "
            f"[{bounds['lo']}, {bounds['hi']}] exceeds int32 (the fold "
            "cell contract); re-key the eval set to a narrower id space "
            "first"
        )
    ev = (
        eval_embeddings.select(
            F.col("vec_id").cast("int").alias("cell"),
            _as_double("embedding").alias("cv"),
        )
        .withColumn("cnrm", _norm(F.col("cv")))
    )
    emb = scan_parallel(
        embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
            "nrm", _norm(F.col("v"))
        )
    )
    a = _fold_assign(emb, ev)
    cos6 = F.round(F.col("cscore"), 6)
    return a.select(
        "vec_id",
        F.col("cell").cast("long").alias("nearest_eval_id"),
        cos6.alias("max_eval_cosine"),
        (cos6 >= F.lit(threshold)).alias("contaminated"),
    )


def embed_outliers(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
    n_outliers: int = 5,
    centroids: DataFrame | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Per-cluster embedding OUTLIERS (r12 extension): the
    least-prototypical vectors of each k-means cell -- the
    prototypicality-filtering companion of SemDeDup (Abbas et al. 2023
    rank within-cluster items by similarity to the centroid; DataComp's
    CLIP-score family drops the low end).  Flags the ``n_outliers``
    lowest assignment cosines per cell: the candidates a curation pass
    reviews as noise/off-distribution before training.

    Spark shape: the fit is the shared deterministic ``kmeans_fit``
    (caller-suppliable, so a fitted quantizer is reused -- the
    ``q_shared_fit`` ownership contract); assignment is the map-only
    broadcast argmax fold; the bottom-n election is the repo's
    SKEW-SAFE two-level window -- rank within (cell, vec_id % n_buckets)
    first (k x n_buckets reducers, never k single-reducer partitions for
    a 100 TB corpus), keep rank <= n, then the true per-cell rank over
    the <= k * n_buckets * n survivors.  Kept-set identical to a single
    per-cell window because each bucket's bottom-n is a superset
    contribution of the cell's bottom-n.

    Returns (cell, vec_id, cosine, rank) for flagged rows only --
    rank 1 = farthest from its centroid, ties to the lower vec_id."""
    from ..cache import track
    from ..plans.shape import scan_parallel

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    cents = centroids if centroids is not None else kmeans_fit(
        embeddings, k=k, iters=iters
    )
    cents = track(cents)
    assign = _fold_assign(scan_parallel(emb), cents).select(
        "cell", "vec_id", "cscore"
    )
    w1 = Window.partitionBy(
        "cell", (F.col("vec_id") % n_buckets).alias("bucket")
    ).orderBy(F.col("cscore").asc(), F.col("vec_id"))
    lvl1 = assign.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= n_outliers
    )
    w2 = Window.partitionBy("cell").orderBy(
        F.col("cscore").asc(), F.col("vec_id")
    )
    return (
        lvl1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= n_outliers)
        .select(
            F.col("cell").cast("int"),
            "vec_id",
            F.round(F.col("cscore"), 6).alias("cosine"),
            F.col("rank").cast("long"),
        )
    )
