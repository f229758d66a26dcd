"""Generate an sf1 scale point (~10x sf0.1) for the PERF.md scaling sweep
(VERDICT r2 ask #6).  /root/testdata is read-only and stops at sf0.1, so
this derives sf1 into .scratch/sf1 (gitignored) by tiling sf0.1 with
shifted keys:

- events: 10x, event_id + k*100000 (10k batches), ts + k hours, users shifted
- documents: 10x, doc_id + k*5000 (< 100000, clear of the dedup corpus's
  +100000 shift); k>0 texts are regenerated md5-word soup so near-dup pair
  volume stays linear (each doc's only certain duplicate is the corpus
  construction's own +100000 copy)
- embeddings: 10x, vec_id shifted, deterministic per-copy perturbation
- lineitem/orders/customer: 10x with consistently shifted join keys
- nation/region/supplier/part: copied (dimension tables)

Usage: python scripts/make_scale_data.py [out_dir] [K]

K (default 10) is the tiling factor; K=100 derives the sf10 probe point
(r11 verdict ask #7).  DOCUMENTS cap at 20 copies regardless of K: the
dedup family's DUP_SHIFT=100000 id convention (minhash raises on ids
past it, the dup corpora shift by it) ceilings doc ids at 99,999 --
documented in PERF.md's sf10 section; every other table tiles the full
K.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DOC_K_CAP = 20  # doc ids must stay below dedup's DUP_SHIFT (100000)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1"
    )
    K = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    doc_k = min(K, DOC_K_CAP)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ks AS SELECT UNNEST(range(0, {K})) AS k")
    con.execute(
        f"CREATE VIEW dks AS SELECT UNNEST(range(0, {doc_k})) AS k"
    )
    for t in ["events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation", "region", "supplier", "part"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")

    def write(name: str, sql: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{out}/{name}.parquet'").fetchone()[0]
        print(f"{name}: {n} rows")

    n_users = con.execute("SELECT max(user_id) + 1 FROM events").fetchone()[0]
    # ts as parquet TIMESTAMP(NANOS), like perfbench/inputs.py: the engine
    # reads it via nanosAsLong as BIGINT nanos, and the DuckDB oracle
    # prelude's epoch_ms(ts) binds it (a BIGINT column would not).  DuckDB
    # writes its TIMESTAMP_NS as micros, so pyarrow writes this table.
    reader = con.execute(f"""
        SELECT event_id + k * 100000 AS event_id,
               ts + to_hours(CAST(k AS BIGINT)) AS ts,
               user_id + k * {n_users} AS user_id,
               event_type, value, props
        FROM events CROSS JOIN ks""").fetch_record_batch()
    schema = reader.schema.set(
        reader.schema.get_field_index("ts"), pa.field("ts", pa.timestamp("ns"))
    )
    with pq.ParquetWriter(f"{out}/events.parquet", schema, version="2.6") as w:
        for batch in reader:
            w.write_table(pa.Table.from_batches([batch]).cast(schema))
    print(f"events: {pq.ParquetFile(f'{out}/events.parquet').metadata.num_rows} rows")

    write("documents", """
        SELECT doc_id + k * 5000 AS doc_id,
               CASE WHEN k = 0 THEN text ELSE
                   array_to_string(list_transform(range(0, 40),
                       j -> substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
                                       CAST(k AS VARCHAR) || '-' ||
                                       CAST(j AS VARCHAR)), 1, 6)), ' ')
               END AS text,
               lang, source,
               CAST(length(CASE WHEN k = 0 THEN text ELSE
                   array_to_string(list_transform(range(0, 40),
                       j -> substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
                                       CAST(k AS VARCHAR) || '-' ||
                                       CAST(j AS VARCHAR)), 1, 6)), ' ')
               END) AS BIGINT) AS n_chars
        FROM documents CROSS JOIN dks""")

    n_vec = con.execute("SELECT max(vec_id) + 1 FROM embeddings").fetchone()[0]
    write("embeddings", f"""
        SELECT vec_id + k * {n_vec} AS vec_id,
               CAST(list_transform(range(1, len(embedding) + 1),
                   i -> embedding[CAST(i AS INT)]
                        + ((vec_id * 31 + k * 17 + i) % 19 - 9) * 0.01)
                    AS FLOAT[]) AS embedding,
               label
        FROM embeddings CROSS JOIN ks""")

    n_ord = con.execute("SELECT max(o_orderkey) + 1 FROM orders").fetchone()[0]
    n_cust = con.execute("SELECT max(c_custkey) + 1 FROM customer").fetchone()[0]
    write("lineitem", f"""
        SELECT l_orderkey + k * {n_ord} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem CROSS JOIN ks""")
    write("orders", f"""
        SELECT o_orderkey + k * {n_ord} AS o_orderkey,
               o_custkey + k * {n_cust} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM orders CROSS JOIN ks""")
    write("customer", f"""
        SELECT c_custkey + k * {n_cust} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer CROSS JOIN ks""")
    for t in ["nation", "region", "supplier", "part"]:
        write(t, f"SELECT * FROM {t}")
    print(f"K={K} scale point written to {out}")


if __name__ == "__main__":
    main()
