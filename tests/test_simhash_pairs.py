"""SimHash near-dup pairing local oracle: the byte-band blocking + hamming
verify, hash-checked against DuckDB.  In the driver's 50-query surface as of
round 3 (``q_simhash_pairs``); the SQL lives in the registry and this test
re-runs it at a second scale factor."""

from __future__ import annotations

import pytest

from streaminglens_spark.functions.dedup import simhash_pairs
from streaminglens_spark.oracle.compare import compare, duckdb_connect
from streaminglens_spark.registry import ORACLES

SIMHASH_PAIRS_SQL = ORACLES["q_simhash_pairs"]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_simhash_pairs_oracle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    con = duckdb_connect(sf_dir)
    try:
        r = compare(simhash_pairs(docs), con, SIMHASH_PAIRS_SQL)
        assert r["ok"], {k: v for k, v in r.items() if k != "spark_cols"}
        # every doc has an exact +100000 copy -> at least n hamming-0 pairs
        assert r["spark_rows"] >= docs.count()
    finally:
        con.close()


def test_simhash_band_blocking_is_exact_for_3_bits(spark):
    """Pigeonhole completeness: every pair within hamming 3 shares one of
    the four 16-bit bands, so blocking loses nothing vs brute force on a
    small slice (r10: brute force runs on the 64-bit ``simhash64``
    signature the pair join actually blocks on)."""
    from pyspark.sql import functions as F

    from streaminglens_spark.functions.dedup import dup_corpus, simhash64

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    sigs = simhash64(dup_corpus(docs))
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("h") <= 3)
        .collect()
    }
    blocked = {(r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()}
    # brute ran on the same corpus; band blocking covers it completely
    assert brute <= blocked

def test_simhash_binding_cap_matches_oracle(spark):
    """r10 hot-bucket guard on the simhash join: identical texts share a
    signature, so every band bucket goes hot; with a binding cap the
    engine and a cap-adjusted oracle keep the SAME deterministic slice
    (affine-hash order), and pair output is bounded at C(cap, 2) instead
    of C(2n, 2)."""
    import duckdb
    import pandas as pd

    n, cap = 60, 10
    rows = [(i, "the same template document body") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, bucket_cap=cap).collect()
    }
    assert len(got) == cap * (cap - 1) // 2  # bounded, not C(2n,2) = 7140

    con = duckdb.connect()
    con.register("docs_pd", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs_pd")
    sql = SIMHASH_PAIRS_SQL.replace("rnk <= 2048", f"rnk <= {cap}")
    assert f"rnk <= {cap}" in sql
    want = {
        (int(a), int(b), int(h)) for a, b, h in con.execute(sql).fetchall()
    }
    con.close()
    assert got == want
