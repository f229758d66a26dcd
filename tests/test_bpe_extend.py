"""Incremental BPE training (r7): ``bpe_extend`` continues a shipped
merge table on a corpus snapshot.  Pins the continuation-determinism
invariant (train k then extend n == train k+n on the same corpus), step
numbering, vocabulary-compatible extension on a GROWN corpus, and the
no-trainable-pairs early stop."""

from __future__ import annotations

from streaminglens_spark.functions.bpe import bpe_extend, bpe_segment, bpe_train

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in df.orderBy("step").collect()
    ]


def test_continuation_equals_from_scratch(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = _rows(bpe_train(docs, n_merges=8))
    head = full[:5]
    prefix = [(left, right) for _, left, right, _, _ in head]
    ext = _rows(bpe_extend(docs, prefix, n_more=3))
    assert ext == full[5:], (ext, full[5:])
    assert [s for s, *_ in ext] == [5, 6, 7]


def test_extend_on_grown_corpus_appends_compatible_merges(spark):
    """Train on half the corpus, extend on the whole: the old merges
    replay (vocabulary stays compatible -- encoding with old+new merges
    never splits a previously merged symbol) and new merges append with
    continued step numbers."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half = docs.filter(F.col("doc_id") < 250)
    base = _rows(bpe_train(half, n_merges=4))
    prefix = [(left, right) for _, left, right, _, _ in base]
    ext = _rows(bpe_extend(docs, prefix, n_more=4))
    assert len(ext) == 4
    assert [s for s, *_ in ext] == [4, 5, 6, 7]
    # the combined table encodes: token counts must be monotone <= the
    # base-merges-only encoding (more merges never split further)
    combined = prefix + [(left, right) for _, left, right, _, _ in ext]
    n_base = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_segment(docs.limit(50), prefix).collect()
    }
    n_comb = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_segment(docs.limit(50), combined).collect()
    }
    assert all(n_comb[d] <= n_base[d] for d in n_base)


def test_extend_early_stops_when_nothing_trainable(spark):
    docs = spark.createDataFrame(
        [(1, "ab"), (2, "cd")], "doc_id long, text string"
    )
    first = _rows(bpe_train(docs, n_merges=4))  # 'a b' and 'c d' singletons
    prefix = [(left, right) for _, left, right, _, _ in first]
    ext = bpe_extend(docs, prefix, n_more=4)
    assert ext.count() == 0  # nothing left with pair_count >= 2


def test_zero_rounds_leave_no_cache_pins(spark):
    """n_more=0 discovers nothing, so it must not leave the replayed
    word-table generations tracked until release_caches()."""
    from streaminglens_spark import cache

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_before = len(cache._PERSISTED)
    ext = bpe_extend(docs, [("t", "h"), ("th", "e"), ("i", "n")], n_more=0)
    assert _rows(ext) == []
    assert len(cache._PERSISTED) == n_before
