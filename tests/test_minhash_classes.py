"""r10: exact-equal class grouping + hot-bucket cap in minhash_lsh_pairs
(the r9 verdict's top ask -- port of the image/audio "group, don't pair"
guard to the text LSH join).

Pins: (1) the fixture pair set is UNCHANGED from the pre-r10 formulation
(every fixture md5 class has exactly 2 members, so the keeper star is the
complete class pairing); (2) a template corpus (thousands of identical
docs) yields the bounded star, not a quadratic pair blowup; (3) a binding
bucket cap is replicated bit-exactly by the DuckDB oracle.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from streaminglens_spark.functions.dedup import minhash_lsh_pairs
from streaminglens_spark.registry import ORACLES, _SHINGLES

from .conftest import SF_DIR

MINHASH_SQL = ORACLES["q_minhash_lsh"]

# the pre-r10 oracle formulation (corpus-level band join, exact-copy
# shortcut AFTER the join): kept verbatim as the golden that proves the
# r10 class-grouped plan leaves the fixture pair set unchanged
_OLD_SQL = _SHINGLES + """
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
        ) WHERE est >= 0.3
    )
    SELECT doc_a, doc_b, CAST(1.0 AS DOUBLE) AS jaccard
    FROM scored WHERE est = 1.0 AND md5_a = md5_b
    UNION ALL
    SELECT s.doc_a, s.doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM scored s
    JOIN shingled a ON a.doc_id = s.doc_a
    JOIN shingled b ON b.doc_id = s.doc_b
    WHERE NOT (s.est = 1.0 AND s.md5_a = s.md5_b)
      AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5"""


def _pairs(df) -> set:
    return {
        (r["doc_a"], r["doc_b"], round(float(r["jaccard"]), 6))
        for r in df.collect()
    }


def test_fixture_pair_set_unchanged_from_pre_r10(spark):
    """On the fixture (every md5 class has exactly its one +100000 copy)
    the class-grouped plan emits the SAME pair set as the pre-r10
    corpus-level formulation -- the r9 verdict's done-criterion."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    old = {
        (int(a), int(b), round(float(j), 6))
        for a, b, j in con.execute(_OLD_SQL).fetchall()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert _pairs(minhash_lsh_pairs(docs)) == old
    con.close()


def test_template_corpus_emits_star_not_quadratic(spark):
    """A template corpus (m identical docs; the web-data pathology the r9
    verdict flagged) forms ONE md5 class of 2m members (with the +100000
    copies): output is the keeper's star -- 2m-1 rows, jaccard 1.0 --
    never the ~2m^2 pairwise closure, and the band join carries a single
    representative row so there is no candidate fan-out at all."""
    m = 5000
    docs = spark.createDataFrame(
        [(i, "the same template document body, repeated verbatim")
         for i in range(m)],
        "doc_id long, text string",
    )
    rows = minhash_lsh_pairs(docs).collect()
    assert len(rows) == 2 * m - 1
    assert {r["doc_a"] for r in rows} == {0}
    assert all(r["jaccard"] == 1.0 for r in rows)
    assert {r["doc_b"] for r in rows} == (
        set(range(1, m)) | {i + 100000 for i in range(m)}
    )


def _one_shingle_corpus(n: int) -> list[tuple[int, str]]:
    """n DISTINCT texts ("a"*5 .. "a"*(4+n)) that all share the single
    shingle "aaaaa": every class is its own md5, but every representative
    lands in the SAME (band, band_sig) bucket for all four bands -- the
    residual hot bucket the cap exists for."""
    return [(i, "a" * (5 + i)) for i in range(n)]


def test_binding_cap_matches_oracle(spark):
    """With a binding bucket cap, engine and oracle keep the SAME rows
    (deterministic affine-hash order): run both at cap=10 over the
    one-shingle hot-bucket corpus."""
    n, cap = 60, 10
    rows = _one_shingle_corpus(n)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _pairs(minhash_lsh_pairs(docs, bucket_cap=cap))

    con = duckdb.connect()
    con.register("docs_pd", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs_pd")
    sql = MINHASH_SQL.replace("rnk <= 2048", f"rnk <= {cap}")
    assert f"rnk <= {cap}" in sql
    want = {
        (int(a), int(b), round(float(j), 6))
        for a, b, j in con.execute(sql).fetchall()
    }
    con.close()
    assert got == want
    # structure: n star pairs (one per class) + capped cross-class pairs
    # expanded x4 member combos; never the uncapped C(n,2)*4
    n_star = n
    n_cross = len(got) - n_star
    assert n_cross == cap * (cap - 1) // 2 * 4
    assert n_cross < n * (n - 1) // 2 * 4


def test_default_cap_is_noop_on_hot_but_small_bucket(spark):
    """Below the default cap the hot bucket pairs completely: the cap is
    a skew guard, not a silent output change."""
    n = 20
    docs = spark.createDataFrame(
        _one_shingle_corpus(n), "doc_id long, text string"
    )
    got = _pairs(minhash_lsh_pairs(docs))
    # n star pairs + all C(n,2) rep pairs expanded to 2x2 member combos
    assert len(got) == n + n * (n - 1) // 2 * 4
    assert all(j == 1.0 for _, _, j in got)


@pytest.mark.parametrize("cap", [1, 3])
def test_tiny_cap_keeps_star_intact(spark, cap):
    """The cap bounds the BAND JOIN only: class-internal star pairs are
    emitted from the membership table and survive any cap."""
    n = 12
    docs = spark.createDataFrame(
        _one_shingle_corpus(n), "doc_id long, text string"
    )
    got = _pairs(minhash_lsh_pairs(docs, bucket_cap=cap))
    stars = {(a, b, j) for a, b, j in got if b == a + 100000}
    assert len(stars) == n
    cross = got - stars
    assert len(cross) == cap * (cap - 1) // 2 * 4


def test_leakage_split_never_straddles_near_dup_pairs(spark, duck):
    """r10 leakage-safe split: every near-dup pair (and so every cluster)
    lands on ONE side; split fractions are sane; and the engine matches
    the composed DuckDB oracle at the driver SF."""
    from streaminglens_spark.functions.dedup import leakage_safe_split
    from streaminglens_spark.oracle.compare import compare
    from streaminglens_spark.registry import q_leakage_split

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = leakage_safe_split(docs).persist()
    try:
        rows = out.collect()
        side = {r["doc_id"]: r["split"] for r in rows}
        cid = {r["doc_id"]: r["cluster_id"] for r in rows}
        assert len(rows) == 2 * docs.count()  # full dup-corpus coverage
        # every member of a cluster shares its keeper's side
        for d, c in cid.items():
            assert side[d] == side[c], (d, c)
        # the constructed +100000 copy always pairs with its original
        for d in list(side)[:50]:
            assert side[d] == side[(d + 100000) % 200000 if d >= 100000 else d + 100000]
        n_val = sum(1 for s in side.values() if s == "val")
        assert 0 < n_val < len(side)
    finally:
        out.unpersist()
    r = compare(q_leakage_split(spark, SF_DIR), duck, ORACLES["q_leakage_split"])
    assert r["ok"], {k: v for k, v in r.items() if "cols" not in k}
