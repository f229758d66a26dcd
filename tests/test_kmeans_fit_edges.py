"""Edge cases of ``kmeans_fit`` and its cost pin.

The Lloyd fit's contract on degenerate inputs: ``iters=0`` returns the
init centroids, fewer rows than ``k`` fit ``n`` cells, an empty input
gives an empty table, a zero vector or a NaN element fails loudly
(ANSI division / cast), an exact score tie goes to the lower cell, and
``k < 1`` is rejected at build time.  A second-SF bit-equality check against the sequential-fold reference
and a job-count pin (zero jobs to build, at most three per action)
complete the file."""

from __future__ import annotations

import math

import pytest

from streaminglens_spark import cache
from streaminglens_spark.functions.similarity import kmeans_fit

from .test_similarity_quality import _py_kmeans

SF_DIR_001 = "/root/testdata/sf0.01"


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _fold_norm(cv):
    acc = 0.0
    for x in cv:
        acc = acc + x * x
    return math.sqrt(acc)


def _fit(df, **kw):
    return {
        int(r["cell"]): ([float(x) for x in r["cv"]], float(r["cnrm"]))
        for r in kmeans_fit(df, **kw).collect()
    }


def _expected(vecs, k, iters):
    cents = _py_kmeans(vecs, k=min(k, len(vecs)), iters=iters)
    return {c: (cv, _fold_norm(cv)) for c, cv in cents.items()}


# vec_ids deliberately out of order: the init must sort them
_ROWS = [
    (7, [0.5, 0.25, -1.0]),
    (2, [1.0, 0.0, 0.0]),
    (9, [0.0, 1.0, 0.5]),
    (4, [-0.75, 0.5, 0.125]),
    (1, [0.25, 0.25, 0.25]),
    (12, [2.0, -1.0, 0.5]),
]


def _vecs(rows):
    return {vid: [float(x) for x in v] for vid, v in rows}


def test_zero_iters_returns_init_centroids(spark):
    got = _fit(_emb(spark, _ROWS), k=3, iters=0)
    ids = sorted(vid for vid, _ in _ROWS)[:3]
    vecs = _vecs(_ROWS)
    assert got == {c: (vecs[v], _fold_norm(vecs[v])) for c, v in enumerate(ids)}


@pytest.mark.parametrize("iters", [0, 2])
def test_fewer_rows_than_k(spark, iters):
    rows = _ROWS[:3]
    got = _fit(_emb(spark, rows), k=8, iters=iters)
    assert len(got) <= 3
    assert got == _expected(_vecs(rows), k=8, iters=iters)


def test_empty_input_gives_empty_centroids(spark):
    cents = kmeans_fit(_emb(spark, []), k=4, iters=3)
    assert cents.collect() == []
    assert [f.name for f in cents.schema.fields] == ["cell", "cv", "cnrm"]


def test_zero_vector_raises(spark):
    rows = _ROWS + [(20, [0.0, 0.0, 0.0])]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        kmeans_fit(_emb(spark, rows), k=3, iters=1).collect()


def test_nan_element_raises(spark):
    rows = _ROWS + [(20, [0.5, float("nan"), 0.5])]
    with pytest.raises(Exception, match="CAST_OVERFLOW|NaN"):
        kmeans_fit(_emb(spark, rows), k=3, iters=1).collect()


def test_equal_scores_tie_to_lower_cell(spark):
    # (1, 1) scores 1/sqrt(2) against both (1, 0) and (0, 1) exactly
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    got = _fit(_emb(spark, rows), k=2, iters=1)
    assert got == {0: ([1.0, 0.5], _fold_norm([1.0, 0.5])), 1: ([0.0, 1.0], 1.0)}


def test_bit_exact_vs_reference_second_sf(spark):
    emb = spark.read.parquet(f"{SF_DIR_001}/embeddings.parquet")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    got = _fit(emb, k=8, iters=5)
    assert got == _expected(vecs, k=8, iters=5)


def test_fit_builds_with_no_jobs_and_acts_in_three(spark):
    sc = spark.sparkContext
    emb = spark.read.parquet(f"{SF_DIR_001}/embeddings.parquet")
    emb.schema  # noqa: B018 -- resolve the relation outside the probe
    cache.release_caches()  # no earlier fit's blocks may serve this one
    try:
        sc.setJobGroup("kmeans-fit-build", "build")
        cents = kmeans_fit(emb, k=8, iters=5)
        n_build = len(sc.statusTracker().getJobIdsForGroup("kmeans-fit-build"))
        sc.setJobGroup("kmeans-fit-act", "action")
        cents.collect()
        n_act = len(sc.statusTracker().getJobIdsForGroup("kmeans-fit-act"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_build == 0, n_build
    assert n_act <= 3, n_act


def test_k_below_one_raises(spark):
    emb = _emb(spark, _ROWS)
    for bad in (0, -2):
        with pytest.raises(ValueError, match="k must be"):
            kmeans_fit(emb, k=bad, iters=1)
