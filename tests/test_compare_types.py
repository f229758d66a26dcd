"""The local comparator must reproduce the driver's hash type-sensitivity.

CORRECTNESS_r05 red-flagged ``q_pack_sequences`` purely on type drift:
DuckDB's windowed ``SUM`` returns HUGEINT (Arrow ``decimal128(38,0)``)
while Spark emits ``int64``; values were equal, so Python-level row
comparison (``Decimal(123) == 123``) passed locally and the bug reached
the driver.  These tests pin that ``compare()`` now fails on exactly that
drift, and that the one affected oracle is typed-clean.
"""

from __future__ import annotations

from streaminglens_spark import registry
from streaminglens_spark.oracle.compare import _kind, compare, duckdb_connect
from tests.conftest import SF_DIR_001


def test_uncast_windowed_sum_fails_typed_compare(spark):
    """A deliberately uncast windowed SUM (HUGEINT) must fail compare()."""
    con = duckdb_connect(SF_DIR_001)
    try:
        df = spark.range(3).selectExpr(
            "id", "CAST(id * 2 AS BIGINT) AS running"
        )
        # DuckDB windowed SUM -> HUGEINT: equal values, drifted type.
        sql = """
            SELECT id,
                   SUM(id * 2) OVER (ORDER BY id ROWS BETWEEN CURRENT ROW
                       AND CURRENT ROW) AS running
            FROM range(3) t(id)
        """
        res = compare(df, con, sql)
        assert res["values_match"], res
        assert not res["types_match"], res
        assert not res["ok"], res
        assert res["type_diff"] == {"running": ("int64", "decimal")}
        # and the cast version passes
        res2 = compare(
            df,
            con,
            """
            SELECT id,
                   CAST(SUM(id * 2) OVER (ORDER BY id ROWS BETWEEN
                       CURRENT ROW AND CURRENT ROW) AS BIGINT) AS running
            FROM range(3) t(id)
            """,
        )
        assert res2["ok"], res2
    finally:
        con.close()


def test_pack_sequences_oracle_is_typed_clean(spark):
    """q_pack_sequences (the r5 red row) must now be typed-identical."""
    con = duckdb_connect(SF_DIR_001)
    try:
        df = registry.q_pack_sequences(spark, SF_DIR_001)
        sql = registry.ORACLES["q_pack_sequences"]
        res = compare(df, con, sql)
        assert res["ok"], {k: v for k, v in res.items() if k != "spark_cols"}
        assert res["types_match"], res.get("type_diff")
    finally:
        con.close()


def test_kind_canonicalization():
    assert _kind("BIGINT") == _kind("bigint") == "int64"
    assert _kind("HUGEINT") == _kind("DECIMAL(38,0)") == "decimal"
    assert _kind("BIGINT[]") == _kind("array<bigint>") == "list<int64>"
    assert _kind("VARCHAR") == _kind("string") == "string"
    assert _kind("TIMESTAMP WITH TIME ZONE") == "timestamp"
