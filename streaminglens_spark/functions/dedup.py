"""Deduplication operators over ``documents`` (north-star extensions):
exact (hash-groupBy), MinHash+LSH near-dup, n-gram Jaccard, SimHash.

The fixture corpus is all-distinct, so dedup queries run over a constructed
corpus = documents UNION (documents with doc_id + 100000) -- every text has
exactly one known duplicate, giving the operators deterministic non-trivial
output that the DuckDB oracle reproduces.

Scale design: MinHash+LSH is the linear-scan + band-bucket-join shape used
for web-scale dedup -- each doc is hashed once (O(len)), candidate
generation is an equi-join on (band, signature) which Spark shuffles by
band signature (naturally spreading load), and only candidates pay the
exact-Jaccard verification.  No O(n^2) stage anywhere.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import HASH_MOD

# fixed MinHash coefficient table (16 permutations); embedded literally in
# the oracle SQL too
MINHASH_A = [
    1000000007, 1000000033, 1000000087, 1000000093, 1000000097, 1000000103,
    1000000123, 1000000181, 1000000207, 1000000223, 1000000241, 1000000271,
    1000000289, 1000000297, 1000000321, 1000000349,
]
MINHASH_B = [
    7, 65537, 257, 524287, 8191, 131071, 2047, 8388607,
    127, 31, 511, 1023, 4095, 16383, 262143, 1048575,
]
N_BANDS = 4
BAND_ROWS = 4
SHINGLE_K = 5
# id offset of the constructed-duplicate corpus copy; every consumer of the
# dup_corpus convention (including minhash_lsh_pairs' join-by-original-id
# optimization) derives from this one symbol, and minhash_lsh_pairs guards
# doc_id < DUP_SHIFT per row so a larger corpus fails loudly instead of
# silently verifying against the wrong document's shingles
DUP_SHIFT = 100000
# source bytes per hashing-UDF task: calibrated from the r4 sweep at sf0.1
# (par 4/8/16/32 -> 9.3/4.5/4.8/9.9 s on a ~255 KB pruned scan => ~32 KB
# per task saturates a core's useful work against Python-worker fan-out
# cost).  r4 pinned par=8 (the sweep's winner) which stranded 24 of 32
# cores at sf1 -- the r4 verdict's one concrete plan-knob miss; the cap
# now scales with the input instead (sf1's ~5.7 MB scan -> 32 tasks).
_HASH_TASK_BYTES = 32 * 1024


def _hash_parallelism(documents: DataFrame) -> int:
    """Partition count for the CPU-bound shingle/MinHash UDF stage, scaled
    with the pruned input size (Catalyst's optimized-plan stats -- a
    driver-side metadata read, no job).  Floor 8 (below the sweep's winner
    the per-task fixed cost dominates anyway and small inputs don't care),
    cap defaultParallelism (no oversubscription: the stage is pure CPU)."""
    sc = documents.sparkSession.sparkContext
    try:
        nbytes = int(
            documents._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable (non-JVM-backed plan): sweep winner
        nbytes = 0
    est = -(-nbytes // _HASH_TASK_BYTES) if nbytes > 0 else 8
    return max(1, min(sc.defaultParallelism, max(8, est)))


def dup_corpus(documents: DataFrame) -> DataFrame:
    base = documents.select("doc_id", "text")
    shifted = documents.select((F.col("doc_id") + DUP_SHIFT).alias("doc_id"), "text")
    return base.unionByName(shifted)


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keep the smallest doc_id per
    group.  Returns (md5_fp, keep_id, dup_count)."""
    return (
        dup_corpus(documents)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("md5_fp"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
    )


def _shingle_hash_batch(texts):
    """Numpy core of the shingle/MinHash UDFs: one concatenated byte
    buffer for the whole Arrow batch -- the rolling polynomial is
    evaluated batch-wide with 5 strided multiply-adds -- then sliced per
    document.  Yields (start, length) per doc plus the batch-wide shingle
    hash array; both UDF variants share it so their values cannot
    diverge."""
    import numpy as np

    P = np.array([31 ** 4, 31 ** 3, 31 ** 2, 31, 1], dtype=np.int64)
    encoded = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=len(encoded))
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    hall = (
        sum(P[k] * buf[k : len(buf) - SHINGLE_K + 1 + k] for k in range(SHINGLE_K))
        if len(buf) >= SHINGLE_K
        else np.empty(0, dtype=np.int64)
    )
    return starts, lens, hall


def _shingle_minhash_udf():
    """Arrow-vectorized shingling + MinHash: numpy rolling polynomial hash
    of all 5-char shingles plus the 16 MinHash values, one pass per doc.

    Why a pandas UDF here: character-level hashing is per-element work that
    interpreted higher-order functions do object-at-a-time on the JVM, and
    expression inlining (CollapseProject) makes a char-array subexpression
    re-evaluate per position -- O(len^2).  Arrow-batched numpy does the
    whole document in vectorized O(len).  Values are bit-identical to the
    DuckDB oracle's ascii/substr formulation (ASCII corpus).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    A = np.array(MINHASH_A, dtype=np.int64)
    B = np.array(MINHASH_B, dtype=np.int64)

    @pandas_udf("struct<sh: array<long>, mh: array<long>>")
    def shingle_minhash(texts: pd.Series) -> pd.DataFrame:
        starts, lens, hall = _shingle_hash_batch(texts)
        shs, mhs = [], []
        for s, n in zip(starts, lens):
            if n < SHINGLE_K:
                shs.append([])
                mhs.append([])
                continue
            h = np.unique(hall[s : s + n - SHINGLE_K + 1])
            mh = ((h[:, None] * A[None, :] + B[None, :]) % HASH_MOD).min(axis=0)
            shs.append(h.tolist())
            mhs.append(mh.tolist())
        return pd.DataFrame({"sh": shs, "mh": mhs})

    # r14 (guide §4.4): every consumer projects this UDF then filters on
    # its output (size(sh) > 0); Catalyst pushes such a filter below the
    # projection by COPYING the evaluation -- the plan showed two
    # ArrowEvalPython nodes per consumer and every document paid the
    # shingle/MinHash pass twice.  The function is pure; the marker only
    # forbids the optimizer to duplicate or reorder it, which yields the
    # single-evaluation plan.  Values are unchanged.
    return shingle_minhash.asNondeterministic()


def _minhash_only_udf():
    """The signature half of ``_shingle_minhash_udf``: same numpy core,
    same bit-exact MinHash values, but WITHOUT materializing or shipping
    the per-doc shingle set across the Arrow boundary.  For consumers
    that never verify exact Jaccard (the banding advisor's agreement
    histogram) the shingle arrays are pure transport waste -- they
    dominate the UDF's Arrow payload (every unique 5-gram vs 16 longs).
    min over duplicates equals min over uniques, so the np.unique pass
    is skipped too."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    A = np.array(MINHASH_A, dtype=np.int64)
    B = np.array(MINHASH_B, dtype=np.int64)

    @pandas_udf("array<long>")
    def minhash_sig(texts: pd.Series) -> pd.Series:
        starts, lens, hall = _shingle_hash_batch(texts)
        mhs = []
        for s, n in zip(starts, lens):
            if n < SHINGLE_K:
                mhs.append([])
                continue
            h = hall[s : s + n - SHINGLE_K + 1]
            mhs.append(
                ((h[:, None] * A[None, :] + B[None, :]) % HASH_MOD)
                .min(axis=0)
                .tolist()
            )
        return pd.Series(mhs)

    # same §4.4 single-evaluation marker as _shingle_minhash_udf: the
    # advisor filters on size(mh) > 0 right above this projection
    return minhash_sig.asNondeterministic()


def doc_shingles(corpus: DataFrame) -> DataFrame:
    udf = _shingle_minhash_udf()
    return (
        corpus.select("doc_id", udf(F.col("text")).alias("s"))
        .select("doc_id", F.col("s.sh").alias("sh"), F.col("s.mh").alias("mh"))
        .filter(F.size("sh") > 0)
    )


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """16 MinHash values per doc: min over shingles of (a*h + b) mod 2^31-1
    (already computed vectorized in ``doc_shingles``; exploded to columns)."""
    mh = [
        F.element_at(F.col("mh"), k + 1).alias(f"mh{k}") for k in range(len(MINHASH_A))
    ]
    return shingled.select("doc_id", "sh", *mh)


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    est_margin: float = 0.2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: 4 bands x 4 rows; exact-equal
    md5 classes are grouped (never paired) before the band join, class
    REPRESENTATIVES sharing any band signature become candidates, and
    candidates are staged through the estimate prefilter before the exact
    verify.  All stages are mirrored bit-exactly in the DuckDB oracle.

    1. **Exact-equal class grouping (r10, the r9 verdict's top ask)** --
       docs with identical md5 text fingerprints form one class; the
       class enters the band join as ONE row (its min-doc_id keeper), so
       a 10k-copy template corpus -- normal in web data, and formerly
       ~5x10^7 candidate pairs from a single band bucket -- contributes
       zero self-join fan-out.  Class-internal pairs are emitted as the
       keeper's STAR (keeper -> each other member, jaccard exactly 1.0:
       identical text => identical shingle set), O(m) rows per m-member
       class instead of O(m^2); the full pairwise closure is derivable
       from the ``dedup_exact`` side channel (same md5 partitioning),
       which is the "group, don't pair" contract the image/audio joins
       established in r9 (``multimodal.image_degenerate``).  On a corpus
       of <=2-member classes (the fixture convention) the star IS the
       complete pair set, so the output is unchanged from the pre-r10
       form there.  Cross-class near-dup pairs are verified once at
       representative level, then expanded to member level through the
       class membership table -- output-proportional work, no join
       fan-out.
    2. **Hot-bucket cap** -- residual (band, band_sig) buckets over the
       representatives (distinct texts that still collide on a band) are
       capped at ``bucket_cap`` rows in deterministic affine-hash order
       (``lsh.cap_band_buckets``, shared with the image/audio joins), so
       join work per bucket is bounded at cap^2 regardless of skew.
    3. **MinHash-estimate prefilter** -- the estimated Jaccard (fraction
       of equal signature positions) must reach ``threshold -
       est_margin``.  Only the 16-long signatures travel to this stage,
       so band-collision noise dies before any shingle-set transport.
       The margin keeps the prefilter recall-preserving: a true pair at
       J >= threshold is dropped only when its 16-position estimate
       undershoots by more than ``est_margin`` (sd ~= 0.125, so a 0.2
       margin is ~1.6 sd -- per-pair miss probability <~2% at
       J = threshold + 0.1, falling fast with J; pinned as a number by
       the recall property test in ``tests/test_minhash_recall.py``).

    Surviving representative candidates pay the exact Jaccard on
    shingle-hash sets, filtered to >= threshold.  Returns
    (doc_a, doc_b, jaccard).

    SEMANTICS NOTE -- the approximations are the prefilter's bounded
    recall loss near the threshold, the 4-band LSH recall itself, and the
    bucket cap (which can drop candidates only inside a bucket holding
    more than ``bucket_cap`` DISTINCT texts that agree on a full 4-value
    band signature -- at the default 2048 that is a pathological corpus,
    and the cap is replicated bit-exactly in the oracle so the contract
    stays testable).  Every emitted jaccard value is exact."""
    est_cut = max(0.0, threshold - est_margin)
    # hash each distinct text once; the +100000 corpus copies share their
    # original's signature (at scale: hash distinct content, join back)
    # small parquet inputs arrive as 1-2 partitions: spread the (CPU-bound)
    # hashing UDF before running it; the cap scales with the pruned input
    # size (see _hash_parallelism).  At cluster scale the input arrives
    # pre-partitioned and this repartition is a no-op upgrade knob.
    par = _hash_parallelism(documents)
    udf = _shingle_minhash_udf()
    # DUP_SHIFT id-space guard, evaluated per row INSIDE the hashing stage
    # (r4 verdict #3: the former eager max(doc_id) action made merely
    # BUILDING this DataFrame run the UDF over the corpus; library
    # consumers composing plans paid it without ever executing the dedup).
    # raise_error in the otherwise-branch costs one comparison per row and
    # fails the first action loudly with the offending id.
    guarded_id = F.when(F.col("doc_id") < DUP_SHIFT, F.col("doc_id")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("minhash_lsh_pairs: input doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(
                    f" >= DUP_SHIFT ({DUP_SHIFT}); the dup-corpus id "
                    "convention would alias distinct documents -- raise "
                    "DUP_SHIFT or re-key the corpus"
                ),
            )
        )
    )
    base = (
        documents.select(guarded_id.alias("doc_id"), "text")
        .repartition(par)
        .select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("md5_fp"),
            udf(F.col("text")).alias("s"),
        )
        .select(
            "doc_id", "md5_fp", F.col("s.sh").alias("sh"), F.col("s.mh").alias("mh")
        )
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            "md5_fp",
            "sh",
            *[
                F.element_at(F.col("mh"), k + 1).alias(f"mh{k}")
                for k in range(len(MINHASH_A))
            ],
        )
        # shuffle barrier AFTER the UDF, replacing the r4 eager
        # materialize-before-fanout: the band path and both verify paths all
        # read this one exchange, and the DAG scheduler runs its map stage
        # (which contains the UDF) exactly once per action -- shuffle-file
        # reuse gives UDF-once without any driver-side action at build time.
        .repartition(par, "doc_id")
    )
    # tracked persist: keeps the post-shuffle rows hot across the multiple
    # downstream scans within (and across) actions; the returned DataFrame
    # reads this cached node, so the operator can't unpersist it itself --
    # callers release via streaminglens_spark.cache.release_caches()
    from ..cache import track

    from .lsh import DUP_BUCKET_CAP, cap_band_buckets

    if bucket_cap is None:
        bucket_cap = DUP_BUCKET_CAP
    base = track(base)
    # exact-equal class formation over the full corpus (originals + their
    # +DUP_SHIFT copies): one class per distinct md5, keeper = min id.
    # Copies share their original's text, so every class contains its
    # original and the keeper is always an ORIGINAL id -- class formation
    # therefore runs on the slim (doc_id, md5) projection of the
    # originals only (the wide shingle arrays never travel through the
    # md5 shuffle) and the +DUP_SHIFT members are appended to the
    # membership table afterwards, id-arithmetic only.
    slim = base.select("doc_id", "md5_fp")
    classes = slim.groupBy("md5_fp").agg(F.min("doc_id").alias("rep_id"))
    omem = slim.join(classes, "md5_fp").select("rep_id", "doc_id")
    mem = omem.unionByName(
        omem.withColumn("doc_id", F.col("doc_id") + DUP_SHIFT)
    )
    # class-internal pairs: the keeper's star, jaccard exactly 1.0
    # (identical text => identical shingle set) -- O(m) rows per class;
    # the md5 class table itself is the dedup_exact side channel
    star = mem.filter(F.col("doc_id") != F.col("rep_id")).select(
        F.col("rep_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
    )
    # one row per class enters the band join: its keeper's signature.
    # rep ids are unique (one min per disjoint class), so the keeper rows
    # come back from `base` with a plain doc_id equi-join that reuses the
    # persisted doc_id exchange instead of re-shuffling the shingle
    # arrays by md5.
    reps = base.join(classes.select(F.col("rep_id").alias("doc_id")), "doc_id")
    # all bands in ONE pass over reps (explode), not one union branch per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{b * BAND_ROWS + r}").cast("string")
                        for r in range(BAND_ROWS)
                    ],
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = reps.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
    )
    # residual hot buckets (distinct texts agreeing on a full band
    # signature) are capped in deterministic affine-hash order; the kept
    # set is replicated in the oracle (registry._dup_pair_cap_sql)
    bands = cap_band_buckets(bands, bucket_cap, val_col="band_sig")
    left = bands.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
    right = bands.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
    cand = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # estimate prefilter on the 16-long signatures only (representatives
    # have distinct md5 by construction, so there is no exact-copy branch
    # left at this stage -- classes absorbed it)
    mh_tbl = reps.select(
        "doc_id",
        F.array(*[F.col(f"mh{k}") for k in range(len(MINHASH_A))]).alias("mh"),
    )
    ma = mh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"))
    mb = mh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"))
    n_eq = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    maybe = (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .withColumn("est", n_eq / F.lit(float(len(MINHASH_A))))
        .filter(F.col("est") >= est_cut)
        .select("doc_a", "doc_b")
    )
    # exact verify at representative level (reps are base rows, so the
    # shingle sets join directly by id); each class's set ships once
    sh = base.select("doc_id", "sh")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b_ = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    rep_pairs = (
        maybe.join(a, "doc_a")
        .join(b_, "doc_b")
        .withColumn("jaccard", _jaccard_udf()(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    # expand representative pairs to member pairs through the membership
    # table -- output-proportional, classes are disjoint so each unordered
    # member pair appears exactly once
    xa = mem.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("m_a"))
    xb = mem.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("m_b"))
    expanded = (
        rep_pairs.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            "jaccard",
        )
    )
    return star.unionByName(expanded)


def _jaccard_udf():
    """Exact Jaccard over the (sorted, distinct) shingle-hash sets,
    vectorized: ``np.intersect1d(assume_unique)`` beats interpreted
    ``array_intersect``/``array_union`` by ~5x on the candidate set.
    Same value as |A∩B| / |A∪B| rounded to 6."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.empty(len(a))
        for i, (x, y) in enumerate(zip(a, b)):
            inter = np.intersect1d(x, y, assume_unique=True).size
            out[i] = inter / (len(x) + len(y) - inter)
        return pd.Series(np.round(out, 6))

    # §4.4 single-evaluation marker: the verify stage filters on
    # jaccard >= threshold directly above this projection, and the
    # pushed-down copy made every surviving candidate pay the
    # intersect1d pass twice (two ArrowEvalPython nodes in the plan)
    return jac.asNondeterministic()


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs at scale: 64-bit signatures
    (``simhash64``) split into 4 sixteen-bit bands; docs sharing ANY band
    become candidates (pigeonhole: <= 3 differing bits cannot touch all 4
    bands, so the blocking is EXACT for ``max_hamming <= 3`` -- every
    qualifying pair is found, no all-pairs stage); candidates are
    verified with ``bit_count(xor)`` on the JVM.  Returns
    (doc_a, doc_b, hamming).

    BAND GEOMETRY (r10, the r9 verdict's ask #2): the former 32-bit
    signature with four 8-bit bands had at most 4 x 256 = 1,024 buckets
    TOTAL -- at 10^9 docs every bucket holds ~10^6 docs and the candidate
    join is quadratic from the pigeonhole alone, no skew needed.  The
    64-bit/16-bit geometry (the ``image_dup_pairs`` shape) gives 65,536
    values per band, so bucket population scales down 256x and residual
    skew is bounded by the shared affine-hash bucket cap
    (``lsh.cap_band_buckets``, replicated bit-exactly in the oracle).
    The 32-bit form (``simhash``) remains for its own ``q_simhash``
    oracle contract.

    RECALL BOUND (document, don't guess -- the ``multimodal.py``
    convention): by pigeonhole, four bands guarantee a shared band only
    for pairs within Hamming distance bands-1 = 3; at the default
    ``max_hamming = 3`` the blocking is therefore complete, but raising
    ``max_hamming`` past 3 makes it a standard LSH recall/cost trade
    (a pair whose differing bits spread across all four bands is not a
    candidate).  The bucket cap can additionally drop candidates only
    inside a band bucket holding more than ``bucket_cap`` docs.

    Dedup: a pair matching several surviving bands is emitted once via
    ``distinct`` over (doc_a, doc_b, hamming).  The pre-r10 plan used a
    row-local lowest-zero-band filter instead, but under the cap a
    pair's lowest matching band can be capped away while a higher band
    survives -- survival is not row-local, so the filter would silently
    drop capped pairs the oracle keeps.  With 65,536-value bands the
    rows reaching the distinct are ~4x the true-pair count (multi-band
    collision noise died with the 8-bit geometry), so the shuffle is
    output-proportional."""
    from .lsh import DUP_BUCKET_CAP, cap_band_buckets

    if bucket_cap is None:
        bucket_cap = DUP_BUCKET_CAP
    sigs = simhash64(dup_corpus(documents))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for b in range(4)
        ]
    )
    bands = sigs.select("doc_id", "simhash", F.explode(band_structs).alias("b")).select(
        "doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    bands = cap_band_buckets(bands, bucket_cap, val_col="val")
    left = bands.select(
        "band", "val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    right = bands.select(
        "band", "val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    x = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(x).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, max_doc_id: int = 40, threshold: float = 0.01
) -> DataFrame:
    """Exact word-3-gram Jaccard over a bounded subset -- the quadratic
    baseline the LSH path approximates (kept bounded; at scale use
    ``minhash_lsh_pairs``).  Returns (doc_a, doc_b, jaccard)."""
    toks = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        )
    )
    sub = (
        documents.filter(F.col("doc_id") < max_doc_id)
        .select("doc_id", grams.alias("g"))
        .filter(F.size("g") > 0)
    )
    a = sub.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("g_a"))
    b = sub.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(documents: DataFrame) -> DataFrame:
    """32-bit SimHash over token polynomial hashes: bit i of the signature is
    1 iff the sum over tokens of (+1 / -1 by the token-hash's bit i) is
    positive.  Returns (doc_id, simhash).

    Plan (r3): the per-bit ±1 sum equals ``2*count(tokens with bit set) -
    n_tokens``, so the signature is ONE ``groupBy(doc_id)`` with 32 sum
    columns over the token rows -- the r2 plan exploded every token 32x
    (74M-row shuffle at sf0.1, 15s); this shuffles the 2.3M token rows
    once (values identical, oracle unchanged)."""
    from .text import char_fold_hash

    toks = documents.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    hashed = toks.select("doc_id", char_fold_hash(F.col("tok")).alias("h"))
    bit_counts = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"c{i}")
        for i in range(32)
    ]
    per_doc = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *bit_counts
    )
    sig = None
    for i in range(32):
        # bit set iff sum of ±1 contributions > 0  <=>  2*c_i - n > 0
        term = F.when(
            F.col(f"c{i}") * 2 > F.col("n"), F.lit(1 << i)
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.cast("long").alias("simhash"))


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash (r10): the scale-safe signature behind
    ``simhash_pairs``' 16-bit band geometry.  Two token hashes feed the
    bit votes -- ``h1`` is the poly-31 ``char_fold_hash`` (bits 0-31 of
    the signature) and ``h2`` is its affine remap ``(HASH_A*h1 + HASH_B)
    mod HASH_P`` with the sketch constants (bits 32-63), both sequential
    integer folds so the values are bit-identical in Spark and DuckDB.
    Both hashes live below 2^31, so signature bits 31 and 63 are
    structurally zero (62 effective bits); bits above 62 are never
    computed, keeping every term inside a nonnegative int64.

    Plan: the ``simhash`` one-groupBy shape widened to 63 sum columns --
    per-bit ±1 votes equal ``2*count(bit set) - n_tokens``, so the whole
    signature is ONE ``groupBy(doc_id)`` over the token rows with
    map-side partial aggregation; no per-bit explode.  Returns
    (doc_id, simhash)."""
    from .sketch import HASH_A, HASH_B, HASH_P
    from .text import char_fold_hash
    from ..plans.shape import scan_parallel

    # r14 (guide §2.5 input skew / the repo's classifier-hash rule): the
    # per-token char fold is CPU-dense and fuses into the map side of
    # the signature groupBy, which runs at SCAN parallelism -- measured
    # as ONE 8-task stage owning 5.6 of q_simhash_pairs' 13 s at sf1
    # while 24 cores idled.  No-op on real multi-split scans.
    toks = scan_parallel(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    hashed = toks.select(
        "doc_id", char_fold_hash(F.col("tok")).alias("h1")
    ).withColumn(
        "h2", (F.lit(HASH_A) * F.col("h1") + F.lit(HASH_B)) % F.lit(HASH_P)
    )
    bit_counts = [
        F.sum(
            F.shiftright(F.col("h1" if i < 32 else "h2"), i % 32).bitwiseAND(
                F.lit(1)
            )
        ).alias(f"c{i}")
        for i in range(63)
    ]
    per_doc = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_counts)
    sig = None
    for i in range(63):
        term = F.when(
            F.col(f"c{i}") * 2 > F.col("n"), F.lit(1 << i)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.cast("long").alias("simhash"))


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    switch_after: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs (round-4 extension):
    the cluster-formation step that turns pairwise verdicts into "keep one
    per group" decisions -- pairs alone over-delete when A~B and B~C but
    the pipeline drops both B and C without noticing they share a cluster.

    Algorithm: iterative min-label propagation over DataFrames -- the
    k-means-shaped driver loop (bounded iterations of pure DataFrame ops,
    no data ever driver-side).  Each round every node takes the minimum
    label among itself and its neighbors; the loop stops when a round
    changes NO label (an O(1) changed-count action fused into the
    round's own job; labels only ever decrease, so a no-change round IS
    the fixed point), after at most graph-diameter rounds.  Round 1 is
    seeded -- with identity labels the neighbor-min is just the minimum
    neighbor id, one groupBy over the edge table (r15).  Near-dup
    clusters are shallow (duplicates of a common original), so the
    diameter is small and propagation wins on constant factors (one pass
    per round vs contraction's two).

    AUTO-HYBRID (r12, r11 verdict ask #5): if propagation has not
    converged after ``switch_after`` rounds (default 4 ~ log2 of the
    deepest plausible organic near-dup chain; a graph still moving past
    that is adversarially deep -- boilerplate-heavy crawls), the loop
    hands off to large-star/small-star contraction (``_star_contract``,
    O(log diameter) rounds) -- ON THE LABEL QUOTIENT, not the raw edges,
    so the propagation rounds already paid are kept: each current label
    class is a connected subgraph (a node only ever adopts a label from
    a neighbor), so contracting edges to (label(u), label(v)) preserves
    components, and the component minimum of the quotient IS the
    original component's minimum node id (the min node always keeps its
    own label).  Labels are BIT-EQUAL to pure propagation's fixed point
    either way (both compute min-reachable ids); ``stats`` (optional
    dict) receives {"label_rounds", "star_rounds"} for observability.

    Per round: one shuffle join (edges x labels on dst) + one groupBy(src)
    min + one left join back -- all hash-partitioned by node id, no global
    sort, no collect.  Returns (doc_id, cluster_id, cluster_size) for every
    doc appearing in a pair; cluster_id is the smallest doc_id reachable
    (so the cluster's canonical keeper is ``doc_id == cluster_id``).
    ``max_iters < 1`` raises ``ValueError``: the seeded first round is
    itself a propagation round.
    """
    from ..cache import track

    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # materialize the edge set ONCE (r11): `sym` (and the hybrid path's
    # quotient) derive from it, and without the barrier the entire
    # upstream PAIR-FORMATION chain (minhash/simhash banding -- ~5 s at
    # sf0.1) re-executes for each consumer
    edges = track(pairs.select("doc_a", "doc_b").distinct())
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # reread every round: worth one materialization.  r14 (guide §2.4,
    # bucketed-join idea): persist HASH-PARTITIONED BY dst -- the
    # per-round neighbor join's equi-key -- so the edge table (the
    # loop's largest input) is never re-shuffled: every round only the
    # small label table moves, the cached side's HashPartitioning
    # satisfies the join's required distribution as-is.  Same rows,
    # same joins, same labels.
    sym = track(
        sym.repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "dst"
        )
    )
    # localCheckpoint each iterate: the loop body references `labels` twice
    # (neighbor lookup + left join back), so without lineage truncation the
    # logical plan DOUBLES per round -- exponential tree growth that OOMs
    # the planner long before the data does.  Checkpointing pins each
    # round's result and restarts the lineage (the iterative-DataFrame
    # idiom; k-means avoids it only because its per-round state is the
    # tiny collected centroid list).
    # LAZY checkpoint + one action per round (r14, guide §1.2/§5): the
    # action both MATERIALIZES the checkpoint blocks and reads the
    # convergence signal in a single job.
    #
    # r15 (guide §1.2, r14 verdict ask #4 -- fuse the CC bookkeeping into
    # the propagation jobs):
    # - ROUND 1 IS SEEDED: with identity labels, a node's neighbor-min is
    #   simply its minimum neighbor id, so round 1 is ONE groupBy over
    #   the cached symmetric edge table -- no label join, no separate
    #   `nodes` union-distinct pass, and no dedicated init job for the
    #   baseline convergence sum (the old shape paid all three).
    # - CONVERGENCE IS A PER-ROUND CHANGED-COUNT carried on the
    #   checkpointed frame itself (labels only ever decrease, so
    #   "no label decreased this round" IS the fixed point -- the same
    #   signal the old label-sum comparison read, detected in the round
    #   that produced it, with no baseline needed).
    # Labels after every round are bit-identical to the old shape (same
    # min-propagation, same fixed point); only the bookkeeping moved.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nmin"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nmin")).alias("label"),
            (F.col("_nmin") < F.col("src")).cast("long").alias("_chg"),
        )
        .localCheckpoint(eager=False)
    )
    label_rounds = 1
    n_changed = labels.agg(F.sum("_chg")).first()[0]
    # empty edge set => empty labels (sum NULL): already the fixed point
    converged = not n_changed
    bound = min(max_iters, switch_after) if switch_after else max_iters
    while not converged and label_rounds < bound:
        neigh = (
            sym.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nmin"))
            .select(F.col("src").alias("node"), "nmin")
        )
        labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
                (F.coalesce("nmin", F.col("label")) < F.col("label"))
                .cast("long")
                .alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        label_rounds += 1
        n_changed = labels.agg(F.sum("_chg")).first()[0]
        if not n_changed:
            converged = True
    star_rounds = 0
    if not converged and switch_after and label_rounds >= switch_after:
        # hand off to contraction on the LABEL QUOTIENT: connectivity is
        # preserved (label classes are connected subgraphs), the quotient
        # is no larger than the edge set, and its component minima are
        # the original components' minimum node ids
        lu = labels.select(
            F.col("node").alias("doc_a"), F.col("label").alias("u")
        )
        lv = labels.select(
            F.col("node").alias("doc_b"), F.col("label").alias("v")
        )
        quotient = (
            edges.join(lu, "doc_a")
            .join(lv, "doc_b")
            .select("u", "v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        qlabels, star_rounds = _star_contract(
            quotient, max(1, max_iters - label_rounds)
        )
        labels = (
            labels.join(
                qlabels.select(
                    F.col("u").alias("label"), F.col("label").alias("_qmin")
                ),
                "label",
                "left",
            )
            # a label absent from the quotient heads an already-converged
            # class (all its edges collapsed to self-loops): it IS the min
            .select(
                "node",
                F.coalesce("_qmin", F.col("label")).alias("label"),
            )
        )
    if stats is not None:
        stats["label_rounds"] = label_rounds
        stats["star_rounds"] = star_rounds
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_id"),
        "cluster_size",
    )


def _star_contract(edges: DataFrame, max_iters: int) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over an edge
    DataFrame (u, v).  Returns (labels(u, label), rounds-used).

    Each round is two symmetric passes of the same join shape as one
    min-label round (groupBy-min + join back), but the edge set itself is
    REWRITTEN to point at per-neighborhood minima, so long chains halve
    every round -- O(log diameter) rounds where plain propagation needs
    O(diameter).  Convergence is detected by the (count, sum(u), sum(v))
    signature going stable: endpoints only ever decrease toward component
    minima, so the signature is strictly monotone until the star-forest
    fixed point (same argument as dedup_clusters' label-sum stop)."""

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nmin = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("u"))
        return (
            sym.join(nmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        dn = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        nmin = dn.groupBy("u").agg(F.min("v").alias("_mn"))
        joined = dn.join(nmin, "u")
        kept = joined.filter(F.col("v") != F.col("_mn")).select(
            F.col("v").alias("u"), F.col("_mn").alias("v")
        )
        self_edges = nmin.select("u", F.col("_mn").alias("v"))
        return (
            kept.unionByName(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    edges = edges.localCheckpoint(eager=False)
    prev_sig = None
    rounds = 0
    for _ in range(max_iters):
        # localCheckpoint per round: same lineage-truncation requirement as
        # dedup_clusters' loop (the edge set is read twice per pass).
        # Lazy (r14): the signature action below both materializes the
        # checkpointed blocks and reads the convergence signal -- one job
        # per round instead of two (same rationale as dedup_clusters).
        edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.sum("u"), F.sum("v")
            ).first()
        )
        rounds += 1
        if sig == prev_sig:
            break
        prev_sig = sig
    labels = edges.groupBy("u").agg(F.min("v").alias("label"))
    return labels, rounds


def dedup_clusters_contract(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components via large-star/small-star contraction -- the
    100 TB path for ADVERSARIALLY DEEP duplicate chains (r4 verdict #4):
    a boilerplate-heavy crawl can produce near-dup chains whose diameter
    makes ``dedup_clusters``' min-label propagation pay one round per hop;
    contraction rewrites the graph toward its star forest and converges in
    O(log diameter) rounds (pinned on a diameter-60 path fixture in
    ``tests/test_dedup_clusters_contract.py``, where min-label alone would
    need >= 60 rounds).

    Output contract is IDENTICAL to ``dedup_clusters`` -- (doc_id,
    cluster_id = smallest reachable doc_id, cluster_size) for every doc
    appearing in a pair -- so the two implementations cross-check each
    other and share the DuckDB oracle.  Per round: two groupBy-min +
    join-back passes, all hash-partitioned by node id, no collect, no
    global sort; the O(1)-row convergence signature is the only driver
    traffic."""
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    labels, _ = _star_contract(edges, max_iters)
    full = nodes.join(
        labels.select(F.col("u").alias("node"), "label"), "node", "left"
    ).select("node", F.coalesce("label", F.col("node")).alias("label"))
    sizes = full.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return full.join(F.broadcast(sizes), "label").select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_id"),
        "cluster_size",
    )


# --- incremental dedup against a persisted index (round-5 extension) --------

def minhash_index(documents: DataFrame) -> DataFrame:
    """Compact persistable dedup index: (doc_id, md5_fp, mh ARRAY<LONG>).

    The artifact an INCREMENTAL pipeline writes to parquet after each
    ingest and reuses for every later batch: 16 longs + one md5 per doc
    (~150 bytes) instead of the shingle sets -- at 100 TB the index is a
    read-mostly side table, and new batches dedup against it without
    touching the corpus text (``dedup_against_index``).  Same vectorized
    hash-once UDF and parallelism scaling as ``minhash_lsh_pairs``."""
    par = _hash_parallelism(documents)
    udf = _shingle_minhash_udf()
    return (
        documents.select("doc_id", "text")
        .repartition(par)
        .select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("md5_fp"),
            udf(F.col("text")).alias("s"),
        )
        .filter(F.size("s.sh") > 0)
        .select("doc_id", "md5_fp", F.col("s.mh").alias("mh"))
    )


def _bands_from_mh(indexed: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) from an index's mh array -- the same
    banding as ``minhash_lsh_pairs``, one explode per doc."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.element_at(F.col("mh"), b * BAND_ROWS + r + 1).cast(
                            "string"
                        )
                        for r in range(BAND_ROWS)
                    ],
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return indexed.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
    )


def dedup_against_index(
    new_docs: DataFrame, index: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Incremental near-dup verdicts: score a NEW batch against an
    existing corpus index (plus the new batch's own earlier rows) without
    recomputing anything over the corpus -- production dedup is
    incremental, not all-pairs-every-night.

    Verdicts (the streaming near-dup convention, sketch-only state):

    - ``certain``: full 16-position signature equality AND md5 equality
      -- provably an exact duplicate (identical text), est = 1.0;
    - ``near``: signature-estimate (matching positions / 16) >=
      ``threshold`` -- estimate-only, because the index deliberately
      carries sketches, not shingle sets (the documented compactness
      tradeoff; exact Jaccard needs the corpus text).

    ``/16.0`` is a power-of-two division, so ``est`` is exact in double
    arithmetic and the whole operator is oracle-hash-checkable.  Corpus
    ids must be < DUP_SHIFT and new ids >= DUP_SHIFT (the dup-corpus id
    convention); a new doc matches every corpus doc and any EARLIER new
    doc (match_id < new_id), so intra-batch dups resolve to one keeper.
    Returns (new_id, match_id, verdict, est).

    HOT-BUCKET NOTE (r10): the verdict contract emits EVERY matching
    index entry per new doc, so output (and join work) scales with index
    bucket population -- bounded only if the index keeps band buckets
    healthy.  The streaming ingest guarantees exactly that by indexing
    ONE representative per exact-equal md5 class (``streaming/ingest.py``
    excludes certain-duplicates from the index shard), which is the
    guard that matters in practice: template corpora go hot through
    exact copies, and near-dup sketches are distinct by construction.
    Callers maintaining their own index should do the same."""
    new_idx = minhash_index(new_docs)
    from ..cache import track

    new_idx = track(new_idx)
    all_idx = index.unionByName(new_idx)
    nb = _bands_from_mh(new_idx).select(
        "band", "band_sig", F.col("doc_id").alias("new_id")
    )
    ob = _bands_from_mh(all_idx).select(
        "band", "band_sig", F.col("doc_id").alias("match_id")
    )
    cand = (
        nb.join(ob, ["band", "band_sig"])
        .filter(
            (
                (F.col("match_id") < DUP_SHIFT)
                | (F.col("match_id") < F.col("new_id"))
            )
            # r8: never a self-pair -- under the dup-corpus id convention
            # (new >= DUP_SHIFT) this is unreachable, but a caller with
            # small monotone ids (streaming/ingest.py) would otherwise
            # receive certain-dup verdicts of every doc against itself
            & (F.col("match_id") != F.col("new_id"))
        )
        .select("new_id", "match_id")
        .distinct()
    )
    a = new_idx.select(
        F.col("doc_id").alias("new_id"),
        F.col("md5_fp").alias("md5_a"),
        F.col("mh").alias("mh_a"),
    )
    b = all_idx.select(
        F.col("doc_id").alias("match_id"),
        F.col("md5_fp").alias("md5_b"),
        F.col("mh").alias("mh_b"),
    )
    n_eq = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    est = n_eq / F.lit(16.0)
    verdict = F.when(
        (est == 1.0) & (F.col("md5_a") == F.col("md5_b")), F.lit("certain")
    ).otherwise(F.lit("near"))
    return (
        cand.join(a, "new_id")
        .join(b, "match_id")
        .withColumn("est", est)
        .filter(F.col("est") >= threshold)
        .select("new_id", "match_id", verdict.alias("verdict"), "est")
    )


def leakage_safe_split(
    documents: DataFrame,
    val_frac: float = 0.2,
    threshold: float = 0.5,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Cluster-aware train/val split (r10 extension): assign every corpus
    doc to train or val by hashing its NEAR-DUP CLUSTER id, never its own
    id -- the split every eval pipeline needs, because a per-doc random
    split puts one copy of a duplicated page in train and another in val
    and the "held-out" metric silently measures memorization (the classic
    eval-contamination pitfall; cf. the decontamination operators, which
    guard against a FIXED eval set -- this guards the split itself).

    Composition (all previously-oracled components): near-dup pairs
    (``minhash_lsh_pairs`` at ``threshold``) -> connected components
    (``dedup_clusters``) -> singletons keep their own id as cluster_id ->
    split = 'val' iff the affine hash of cluster_id falls under
    ``val_frac`` of the hash space (the ``hash_sample`` integer-threshold
    idiom -- deterministic, engine-exact, content-uncorrelated).  Every
    member of a cluster lands on the same side by construction.

    ``clusters`` (r11, r10 verdict ask #3): an optional precomputed
    (doc_id, cluster_id, ...) table -- the ``softdedup_weights``
    signature -- so a pipeline that already ran dedup doesn't pay pair
    formation twice; omitted, the inline chain above runs.  Both paths
    are bit-identical (pinned in tests/test_ingest_full.py).

    Scale shape: the pairs/cluster stages are the documented shapes of
    their operators; the split itself is a broadcastable left join (the
    cluster table is one row per clustered doc) + a map-only projection.
    Returns (doc_id, cluster_id, split) over the full dup-corpus."""
    from .sampling import _threshold
    from .sketch import HASH_A, HASH_B, HASH_P

    if clusters is None:
        # inline cluster formation; a pipeline that already ran dedup
        # passes its (doc_id, cluster_id, ...) table instead (r10
        # verdict ask #3) and skips pair formation entirely
        clusters = dedup_clusters(minhash_lsh_pairs(documents, threshold))
    corpus = dup_corpus(documents).select("doc_id")
    joined = corpus.join(
        clusters.select("doc_id", "cluster_id"), "doc_id", "left"
    )
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long")
    h = (F.lit(HASH_A) * cid + F.lit(HASH_B)) % F.lit(HASH_P)
    split = F.when(
        h < F.lit(_threshold(val_frac)), F.lit("val")
    ).otherwise(F.lit("train"))
    return joined.select(
        "doc_id", cid.alias("cluster_id"), split.alias("split")
    )


def softdedup_weights(documents: DataFrame, clusters: DataFrame) -> DataFrame:
    """Soft dedup (r7): DOWN-WEIGHT duplicates instead of dropping them --
    the SoftDeDup training-mixture alternative to hard keeper election
    (dropping all-but-one per cluster discards paraphrase diversity; a
    1/cluster_size weight keeps every copy visible at the cluster's
    aggregate sampling mass).

    ``clusters`` is any (doc_id, cluster_id, cluster_size) table
    (``dedup_clusters`` output -- minhash, simhash or semantic pairs all
    feed it); docs absent from it are singletons (weight 1.0).  Weights
    are integer parts-per-million via integer division, FLOORED AT 1 ppm
    (r7 review: a cluster larger than 1e6 docs would otherwise integer-
    divide to weight 0 -- silently dropping it, the exact over-deletion
    this operator exists to avoid), so the table is engine-exact and a
    sampler can consume it with the integer-threshold idiom
    (``hash_sample``).  Returns (doc_id, cluster_id, cluster_size,
    weight_ppm); one broadcast-able left join, no shuffle beyond it."""
    joined = documents.select("doc_id").join(clusters, "doc_id", "left")
    size = F.coalesce(F.col("cluster_size"), F.lit(1).cast("long"))
    return joined.select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        .cast("long")
        .alias("cluster_id"),
        size.cast("long").alias("cluster_size"),
        F.expr(
            "CAST(greatest(1, 1000000 div coalesce(cluster_size, 1))"
            " AS BIGINT)"
        ).alias("weight_ppm"),
    )


def dedup_stats(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Corpus duplication profile (r11 extension): the cluster-size
    histogram of the near-dup graph -- the governance dashboard number
    behind every dedup decision (how duplicated IS this corpus; what
    fraction survives keeper election; is one mega-cluster dominating).
    One row per observed cluster size: (cluster_size, n_clusters,
    n_docs); singletons appear as the size-1 row, so ``sum(n_docs)``
    equals the corpus size and ``sum(n_clusters)`` is the post-dedup
    corpus size (one keeper per cluster).

    Scale shape: the pairs/components stages are their documented
    shapes; the histogram is one groupBy over the O(docs) cluster table
    (map-side combined) plus a single-row corpus count attached with a
    broadcast cross join -- no new content-keyed joins."""
    clusters = dedup_clusters(minhash_lsh_pairs(documents, threshold))
    corpus_n = dup_corpus(documents).select(
        F.count(F.lit(1)).cast("long").alias("_n_corpus")
    )
    clustered = clusters.groupBy("cluster_size").agg(
        F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    clustered_total = clusters.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("_n_clustered")
    )
    singletons = (
        corpus_n.crossJoin(F.broadcast(clustered_total))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("_n_corpus") - F.col("_n_clustered")).alias("n_clusters"),
            (F.col("_n_corpus") - F.col("_n_clustered")).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return clustered.unionByName(singletons)


def dedup_attribution(
    documents: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Dedup ATTRIBUTION table (r12 extension): for every document the
    near-dup pass would REMOVE (a cluster non-keeper), WHY -- the keeper
    it lost to (its cluster's canonical min id) and the strongest direct
    match that pulled it into the cluster (max jaccard, ties to the
    smaller partner id).  This is the governance row a data owner asks
    for ("which page displaced mine, and how similar was it?") and the
    audit trail a removal appeal needs; ``dedup_stats`` gives the
    aggregate histogram, this gives the per-document evidence.

    Scale shape: the banded pair formation and the cluster chain are the
    documented ``minhash_lsh_pairs`` / ``dedup_clusters`` shapes (the
    pair set is track()-persisted and shared); the best-match election
    is one map-side-combined ``min(struct)`` groupBy over the
    symmetrized pairs (output-proportional -- never touches non-matched
    docs), and the final assembly is one id-keyed join.  Returns
    (doc_id, keeper_id, cluster_size, best_match_id, best_jaccard), one
    row per non-keeper."""
    from ..cache import track

    pairs = track(minhash_lsh_pairs(documents, threshold))
    clusters = dedup_clusters(pairs)
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner"),
            "jaccard",
        )
    )
    # min(struct) election: negated jaccard ascending = jaccard
    # descending (double negation is exact), then partner ascending
    best = sym.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("nj"),
                F.col("partner").alias("p"),
                F.col("jaccard").alias("j"),
            )
        ).alias("b")
    )
    return (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .join(best, "doc_id")
        .select(
            "doc_id",
            F.col("cluster_id").alias("keeper_id"),
            "cluster_size",
            F.col("b.p").cast("long").alias("best_match_id"),
            F.col("b.j").alias("best_jaccard"),
        )
    )


def lsh_band_probability_micro(bands: int, rows: int, n_eq: int,
                               n_hashes: int | None = None) -> int:
    """P(two docs become LSH candidates | their signatures agree on
    ``n_eq`` of ``n_hashes`` positions) = 1 - (1 - j^rows)^bands with
    j = n_eq/n_hashes, computed ENTIRELY in fixed-point micro integers
    (half-up rounding at every multiply) so the Spark side and the
    DuckDB oracle produce bit-identical values from the same constants.
    Pure driver-side arithmetic over configuration constants -- never
    data."""
    if n_hashes is None:
        n_hashes = len(MINHASH_A)
    scale = 1_000_000
    jm = (2 * n_eq * scale + n_hashes) // (2 * n_hashes)
    x = scale  # j^rows, iterated
    for _ in range(rows):
        x = (2 * x * jm + scale) // (2 * scale)
    q = scale - x  # (1 - j^r)
    y = scale  # q^bands, iterated
    for _ in range(bands):
        y = (2 * y * q + scale) // (2 * scale)
    return scale - y


def lsh_parameter_advisor(
    documents: DataFrame,
    threshold: float = 0.5,
    sample_fraction: float = 0.2,
    max_sample_rows: int = 5_000,
) -> DataFrame:
    """Data-driven LSH banding advisor (r13 extension): for every
    (bands, rows_per_band) factorization of the signature length, the
    EXPECTED behavior of that banding on THIS corpus -- candidate-pair
    mass, recall and precision at the dedup threshold -- estimated from
    the observed pairwise-similarity distribution of a deterministic
    hash-sample.  This is the knob a 100 TB dedup run actually tunes:
    too few bands misses near-dups (recall), too many floods the
    candidate join (cost); the right answer depends on the corpus's
    OWN similarity histogram, not on the textbook S-curve alone.

    Scale shape -- a FIXED-BUDGET statistics pass (the sampled-fit
    recipe, r14 hardened per the r13 verdict): the keep-predicate is
    the engine-exact affine-hash threshold at the TIGHTER of two caps,
    ``sample_fraction`` and ``max_sample_rows`` -- the row cap is the
    cross-multiplied integer comparison ``h * n < max_sample_rows * P``
    against a lazily-attached corpus count (broadcast one-row attach,
    no driver action; decimal(38,0) like ``mixture_sample``, so no
    int64 overflow at any corpus size).  A FRACTION alone is not a
    budget -- 0.2 of a 100 TB corpus squared is an all-pairs blowup --
    so the expected sample is min(fraction*n, max_sample_rows) docs
    regardless of corpus size, and the all-pairs self-join below runs
    over the SAMPLE ONLY (bounded quadratic: ~m(m-1)/2 pairs for the
    budgeted m, never the corpus).  Both engines replay the identical
    kept set (the oracle computes the same count and the same integer
    predicate); every downstream quantity is one 17-bucket histogram
    fold.  The 5k default is MEASURED, not guessed
    (``probe_advisor_budget.json``): the pair join costs ~cap^2/2
    zip-compares -- cap=2k (2M pairs) ran 17-48 s across 5k-100k-doc
    corpora on the probe box, while cap=20k (200M pairs) exceeded 9.5
    minutes at the 100k-doc point; a 17-bucket similarity histogram is
    statistically saturated long before 12.5M pairs, so the default
    buys stability, not latency.  Callers tuning a specific corpus
    raise the cap explicitly -- the cost is cap-quadratic and corpus-
    INDEPENDENT either way.  Estimated jaccard per pair is the integer
    agreement count n_eq/16 -- the same estimator the LSH prefilter
    ships -- so the histogram is exact BIGINT arithmetic end to end.

    Per (bands, rows_per_band) row: ``exp_candidates_micro`` (expected
    candidate pairs in the sample, micro-pairs), ``recall_micro``
    (P(candidate | est jaccard >= threshold)), ``precision_micro``
    (expected fraction of candidates at/above threshold) -- all via
    the fixed-point ``lsh_band_probability_micro`` curve, half-up
    integer division, zero floats -- plus ``midpoint_k`` (the smallest
    n_eq whose candidate probability crosses 1/2: the banding's
    effective threshold on the 16-grid).  Returns one row per
    factorization of the 16-hash signature: (1,16) .. (16,1)."""
    from .sampling import _threshold
    from .sketch import HASH_A, HASH_B, HASH_P

    if max_sample_rows <= 1:
        raise ValueError(
            f"max_sample_rows must be >= 2 (a pair histogram needs at "
            f"least two docs), got {max_sample_rows}"
        )
    spark = documents.sparkSession
    n_h = len(MINHASH_A)
    scale = 1_000_000
    import math

    # threshold in n_eq grid units: est = k/16 >= threshold  <=>  k >= ceil
    thr_k = math.ceil(threshold * n_h)
    # fixed-budget sample: hash threshold at the tighter of the fraction
    # cap and the row cap; the row cap needs the corpus count, attached
    # lazily as a broadcast one-row cross-join (no driver action) and
    # compared cross-multiplied in decimal(38,0) (h*n reaches ~2^72 on a
    # trillion-doc corpus, past int64) -- the mixture_sample idiom
    dec = "decimal(38,0)"
    cnt = documents.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    h = (F.lit(HASH_A) * F.col("doc_id") + F.lit(HASH_B)) % F.lit(HASH_P)
    sample = (
        documents.select("doc_id", "text")
        .crossJoin(F.broadcast(cnt))
        .filter(
            (h < F.lit(_threshold(sample_fraction)))
            & (
                h.cast(dec) * F.col("_n").cast(dec)
                < F.lit(int(max_sample_rows) * HASH_P).cast(dec)
            )
        )
        .drop("_n")
    )
    # r14 optimization (guide §2.3/§4.1): the pair histogram used to run
    # an interpreted zip_with/aggregate fold over a crossJoin streamed at
    # SCAN parallelism (1-2 partitions locally) with the full struct<sh,
    # mh> UDF output shipped across Arrow -- measured 88 s at sf1 for the
    # 12.5M-pair default budget.  Three result-identical changes: (1) the
    # mh-only UDF variant keeps the shingle sets out of the Arrow payload;
    # (2) the signature table is track()-persisted at default parallelism
    # (one UDF pass instead of one per join side, and the nested-loop
    # stream side runs on every core); (3) n_eq is an unrolled sum of 16
    # scalar equality casts over pre-exploded columns -- whole-stage
    # codegen instead of per-pair array allocation + interpreted lambdas.
    from ..cache import track

    sigs = track(
        sample.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", _minhash_only_udf()(F.col("text")).alias("mh"))
        .filter(F.size("mh") > 0)
        .select(
            "doc_id",
            *[
                F.element_at(F.col("mh"), k + 1).alias(f"m{k}")
                for k in range(n_h)
            ],
        )
    )
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(n_h)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(n_h)],
    )
    # bounded quadratic over the SAMPLE only (m(m-1)/2 pairs by budget);
    # the slim 17-column build side is explicitly broadcast
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    n_eq = F.lit(0).cast("long")
    for k in range(n_h):
        n_eq = n_eq + (F.col(f"a{k}") == F.col(f"b{k}")).cast("long")
    hist = pairs.select(n_eq.alias("n_eq")).groupBy("n_eq").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # the S-curve table is pure configuration arithmetic (5 factorizations
    # x 17 grid points), shared bit-exactly with the oracle
    rows = []
    factorizations = [
        (bnd, n_h // bnd) for bnd in (1, 2, 4, 8, 16) if bnd * (n_h // bnd) == n_h
    ]
    for bnd, rpb in factorizations:
        mid = next(
            (k for k in range(n_h + 1)
             if lsh_band_probability_micro(bnd, rpb, k) >= scale // 2),
            n_h,
        )
        for k in range(n_h + 1):
            rows.append(
                (bnd, rpb, k, lsh_band_probability_micro(bnd, rpb, k), mid)
            )
    curve = spark.createDataFrame(
        rows, "bands int, rows_per_band int, n_eq long, p_micro long,"
        " midpoint_k long"
    )
    joined = F.broadcast(curve).join(hist, "n_eq")
    above = F.col("n_eq") >= F.lit(int(thr_k))
    agg = joined.groupBy("bands", "rows_per_band", "midpoint_k").agg(
        F.sum(F.col("cnt") * F.col("p_micro")).cast("long").alias("exp_c"),
        F.sum(F.when(above, F.col("cnt") * F.col("p_micro")).otherwise(0))
        .cast("long").alias("exp_good"),
        F.sum(F.when(above, F.col("cnt")).otherwise(0)).cast("long").alias(
            "n_above"
        ),
    )
    # pure-integer half-up division (the pq_update idiom): float division
    # would lose precision past 2^53 on cnt x p_micro x scale products
    return agg.select(
        "bands",
        "rows_per_band",
        F.col("exp_c").alias("exp_candidates_micro"),
        F.when(
            F.col("n_above") > 0,
            F.expr("(2 * exp_good + n_above) div (2 * n_above)"),
        ).otherwise(F.lit(0).cast("long")).alias("recall_micro"),
        F.when(
            F.col("exp_c") > 0,
            F.expr(
                f"(2 * exp_good * {scale} + exp_c) div (2 * exp_c)"
            ),
        ).otherwise(F.lit(0).cast("long")).alias("precision_micro"),
        "midpoint_k",
    )
