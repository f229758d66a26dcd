"""IVF ANN local oracle: the full pipeline (quantized-exact centroids ->
map-only assignment -> nprobe probing -> exact re-rank) hash-checked against
DuckDB at two scale factors.  In the driver's 50-query surface as of round 3
(``q_ivf_topk``); the SQL lives in the registry and this test runs the SAME
comparator the driver uses at a second scale factor."""

from __future__ import annotations

import pytest

from streaminglens_spark.functions.similarity import ivf_topk
from streaminglens_spark.oracle.compare import compare, duckdb_connect
from streaminglens_spark.registry import ORACLES

IVF_SQL = ORACLES["q_ivf_topk"]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_topk_oracle(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    con = duckdb_connect(sf_dir)
    try:
        r = compare(ivf_topk(emb), con, IVF_SQL)
        assert r["ok"], r
        assert r["spark_rows"] > 0
    finally:
        con.close()


def test_ivf_probing_subsets_exact(spark):
    """Every IVF hit is a true cosine value (re-rank is exact), and with
    nprobe = all cells IVF equals the exact scan restricted to k."""
    from streaminglens_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_cells = emb.select("label").distinct().count()
    full_probe = {
        (r["query_vec_id"], r["neighbor_id"], r["cosine"])
        for r in ivf_topk(emb, k=5, nprobe=n_cells).collect()
    }
    exact = {
        (r["query_vec_id"], r["neighbor_id"], r["cosine"])
        for r in cosine_topk(emb, k=5).collect()
    }
    assert full_probe == exact
