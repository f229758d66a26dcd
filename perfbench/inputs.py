"""Seeded input generators, one per workload.

The benchmark checkout carries no fixture data, so every input is built
here from the ``--seed`` argument.  The base tables follow the schemas and
distributions of the repo's synthetic fixtures (``FIXTURES.md``): the same
column names and types, the same row counts at sf0.1, and the same id
conventions the library's operators key on.  ``events.ts`` is written as
parquet TIMESTAMP(NANOS), like the fixture, so the DuckDB oracle prelude's
``epoch_ms(ts)`` binds and the Spark side reads it through
``spark.sql.legacy.parquet.nanosAsLong``.

What the seed changes, per workload:

- ``live_monitor``: the rate source's start timestamp and the user body's
  key salt (see ``live_params``).  Its traced run also derives telemetry
  from ``events`` shifted by one seeded id offset (a multiple of 100, so
  micro-batch boundaries stay whole) and one seeded time shift.
- ``llm_data``: ``embeddings`` get a seeded ``vec_id`` permutation (the ids
  and row count are preserved, the id-to-vector map is not), and both
  tables get a seeded row order.  ``documents`` keep their ids: the ingest
  flagship's admission rules key on ``doc_id`` and its DuckDB oracle takes
  minutes, so its expected result is computed once for the base corpus and
  the seed only reorders rows, which must not change the output.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42  # the fixture's generator seed (TESTDATA.md)
EVENTS_ROWS = 100_000  # sf0.1
DOCS_ROWS = 5_000  # sf0.1
EMB_ROWS = 2_000  # sf0.1
EMB_DIM = 64

EVENT_TYPES = ["view", "click", "error", "signup", "purchase"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast row the agg key"
    " query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_NS = 86_400 * 10**9
EPOCH_2024_NS = 1_704_067_200 * 10**9


def _rng(seed: int, salt: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def base_events() -> pa.Table:
    """The sf0.1 ``events`` table: dense ids, timestamps sorted over 30 days."""
    rows = EVENTS_ROWS
    rng = _rng(BASE_SEED, "events")
    ts = EPOCH_2024_NS + np.sort(rng.integers(0, 30 * DAY_NS, rows))
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 1500, rows, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, rows)),
            "value": pa.array(np.round(rng.random(rows) * 200.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )


def seeded_events(seed: int) -> pa.Table:
    """The base events shifted by a seeded id offset (a multiple of 100)
    and a seeded time shift."""
    base = base_events()
    rng = _rng(seed, "events-shift")
    id_offset = 100 * int(rng.integers(0, 100_000))
    ts_shift = int(rng.integers(0, 365 * DAY_NS))
    ids = base.column("event_id").to_numpy() + id_offset
    ts = base.column("ts").cast(pa.int64()).to_numpy() + ts_shift
    return base.set_column(0, "event_id", pa.array(ids)).set_column(
        1, "ts", pa.array(ts, pa.timestamp("ns"))
    )


def base_documents(rows: int = DOCS_ROWS) -> pa.Table:
    """The sf0.1 ``documents`` table: random-vocabulary texts of 10-100
    words, ``source = src<doc_id % 20>``, ~5% near-duplicates (an earlier
    text plus a ``dup`` token) and a handful of exact duplicates."""
    rng = _rng(BASE_SEED, "documents")
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(rows)
    ]
    for i in rng.choice(np.arange(1, rows), rows // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, rows), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(rows, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, rows, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(rows)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def base_embeddings(rows: int = EMB_ROWS) -> pa.Table:
    """The sf0.1 ``embeddings`` table: unit-norm 64-d float vectors, label 0-9."""
    rng = _rng(BASE_SEED, "embeddings")
    x = rng.standard_normal((rows, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, rows, dtype=np.int32)),
        }
    )


def seeded_documents(seed: int, rows: int = DOCS_ROWS) -> pa.Table:
    docs = base_documents(rows)
    return docs.take(_rng(seed, "doc-order").permutation(docs.num_rows))


def seeded_embeddings(seed: int, rows: int = EMB_ROWS) -> pa.Table:
    emb = base_embeddings(rows)
    ids = _rng(seed, "vec-ids").permutation(emb.num_rows).astype(np.int64)
    emb = emb.set_column(0, "vec_id", pa.array(ids))
    return emb.take(_rng(seed, "vec-order").permutation(emb.num_rows))


def live_params(seed: int) -> dict:
    """Rate-source start timestamp (ms) and the user body's key salt."""
    rng = _rng(seed, "live")
    return {
        "start_ms": EPOCH_2024_NS // 10**6 + int(rng.integers(0, 365 * 86_400)) * 1000,
        "salt": int(rng.integers(0, 1_000_003)),
    }


def write_table(table: pa.Table, directory: str, name: str) -> str:
    """Write ``<directory>/<name>.parquet`` the way the fixtures are laid out
    (one file per table; nanosecond timestamps kept as TIMESTAMP(NANOS))."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path, version="2.6")
    return path


def content_digest(table: pa.Table, key: str) -> str:
    """Digest of a table's content independent of its row order."""
    canon = table.sort_by(key).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, canon.schema) as w:
        w.write_table(canon)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]
