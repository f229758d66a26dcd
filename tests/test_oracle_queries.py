"""Every registry query vs its DuckDB oracle, at sf0.001 AND at sf0.01
(the driver's correctness scale) -- the second scale point catches
size-dependent bugs (overflow, bucket boundaries, broadcast thresholds)
a single tiny fixture can mask."""

from __future__ import annotations

import pytest

from streaminglens_spark import registry
from streaminglens_spark.oracle.compare import compare, duckdb_connect
from tests.conftest import SF_DIR, SF_DIR_001

# every oracle-paired query: the driver surface and LOCAL_ORACLE
NAMES = sorted(registry.ORACLES)


@pytest.fixture(scope="module")
def duck001():
    con = duckdb_connect(SF_DIR_001)
    yield con
    con.close()


def _check(spark, con, name, sf_dir):
    fn = getattr(registry, name)
    df = fn(spark, sf_dir)
    res = compare(df, con, registry.ORACLES[name])
    assert res["ok"], {k: v for k, v in res.items() if k != "spark_cols"}


@pytest.mark.parametrize("name", NAMES)
def test_query_vs_oracle(spark, duck, name):
    _check(spark, duck, name, SF_DIR)


@pytest.mark.slow
@pytest.mark.parametrize("name", NAMES)
def test_query_vs_oracle_sf001(spark, duck001, name):
    """The sf0.01 sweep is the slow tier (r15): the sf0.001 sweep above
    runs every query against the oracle in every pytest invocation; this
    second scale point (which catches size-dependent bugs) runs in the
    builder's full gate (SPARK_GRAFT_FULL_TESTS=1) -- the driver-visible
    fast tier must finish inside the verify window (r14 verdict ask #2)."""
    _check(spark, duck001, name, SF_DIR_001)
