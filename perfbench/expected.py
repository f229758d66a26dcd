"""Expected results: the library's own DuckDB oracles, cached by input digest.

Each check compares one normalized row digest.  The oracle SQL is the
registry's (``registry.ORACLE`` / ``registry.LOCAL_ORACLE``), run over the
same parquet files the Spark side reads.  A result is computed once per
(query, input digest) and cached as JSON, so a rerun with the same seed
only looks it up.  Two cache directories are read: the checked-in
``perfbench/expected/`` (results whose oracle is too slow to run inside a
benchmark run, e.g. ``q_ingest_full`` at ~150 s) and the private work
directory (everything else, filled on demand).

Row normalization follows ``oracle/compare.py``: columns in name order,
rows sorted, floats compared by value, integral decimals as integers.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import Decimal

CHECKED_IN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else repr(float(v))
    if hasattr(v, "__fields__"):  # pyspark Row (struct value)
        return tuple(_norm(x) for _, x in sorted(zip(v.__fields__, v)))
    if isinstance(v, dict):
        return tuple(_norm(x) for _, x in sorted(v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_digest(columns: list[str], rows: list) -> dict:
    """Order-insensitive digest of a result: sorted column names plus the
    sorted normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def spark_digest(df) -> dict:
    return rows_digest(list(df.columns), [tuple(r) for r in df.collect()])


def oracle_sql(query: str) -> str:
    from streaminglens_spark import registry

    sql = registry.ORACLE.get(query) or registry.LOCAL_ORACLE.get(query)
    if not sql:
        raise KeyError(f"no DuckDB oracle for {query}")
    return sql


def _cache_path(directory: str, query: str, input_digest: str) -> str:
    return os.path.join(directory, f"{query}-{input_digest}.json")


def lookup(query: str, input_digest: str, work_dir: str) -> dict | None:
    for d in (CHECKED_IN, os.path.join(work_dir, "expected")):
        path = _cache_path(d, query, input_digest)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
    return None


def compute(query: str, tables: dict[str, str], work_dir: str) -> dict:
    """Run the query's DuckDB oracle over ``tables`` (view name -> parquet
    path) and return its row digest."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        # the ingest oracle's recursive CTEs need ~4 GB even on a few
        # hundred documents and cannot spill
        con.execute("SET memory_limit = '6GB'")
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb-tmp')}'")
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(oracle_sql(query))
        return rows_digest(list(rel.columns), rel.fetchall())
    finally:
        con.close()


def expected(
    query: str,
    input_digest: str,
    tables: dict[str, str],
    work_dir: str,
    store_dir: str | None = None,
) -> dict:
    """The cached oracle digest for (query, input digest), computing and
    caching it on a miss.  ``store_dir`` overrides where a miss is written
    (the checked-in directory, when refreshing slow oracles)."""
    hit = lookup(query, input_digest, work_dir)
    if hit is not None and store_dir is None:
        return hit
    result = compute(query, tables, work_dir)
    d = store_dir or os.path.join(work_dir, "expected")
    os.makedirs(d, exist_ok=True)
    with open(_cache_path(d, query, input_digest), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    return result
