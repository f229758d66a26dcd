"""Mixture-tracking streaming admission (r11, r10 verdict ask #5): the
budget monitor's static dict replaced by temperature targets recomputed
per batch from the cumulative per-stratum seen-token manifest.  Pins:
driver-side target math is bit-compatible with the Spark operator, a
low-resource source's share is up-weighted as richer sources flood in,
and the durable ledger keeps the exactly-once contract (restart restores
bit-identically, replay re-delivers byte-identically)."""

from __future__ import annotations

import json
import os

from streaminglens_spark.streaming.budget import (
    MIXTURE_GAUGE_SOURCE,
    mixture_admission_monitor,
    restore_mixture_state,
    temperature_targets,
)
from tests.conftest import hidden_tmp

SCHEMA = "doc_id long, text string, source string"


def _doc(i, src, toks=10):
    return {"doc_id": i, "text": " ".join(["w"] * toks), "source": src}


def _run(spark, src, files, total_tokens, shard_path=None, checkpoint=None,
         sink_log=None):
    os.makedirs(src, exist_ok=True)
    published = []
    state, body = mixture_admission_monitor(
        total_tokens,
        admitted_sink=(
            (lambda df, bid: sink_log.append(
                (bid, sorted(r["doc_id"] for r in df.collect()))))
            if sink_log is not None else None
        ),
        gauge_sinks=[lambda s, g: published.append((s, g))],
        shard_path=shard_path,
        spark=spark,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    writer = stream.writeStream.foreachBatch(body).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        for name, recs in files:
            path = os.path.join(src, name)
            with open(hidden_tmp(path), "w") as f:
                for r in recs:
                    f.write(json.dumps(r) + "\n")
            os.rename(hidden_tmp(path), path)
            q.processAllAvailable()
    finally:
        q.stop()
    return state, published


def test_targets_match_spark_operator_bit_exactly(spark):
    """temperature_targets (driver-side, Decimal HALF_UP + sequential
    float fold) must produce the identical (weight-derived) targets as
    temperature_mixture_plan (Spark-side) on the same counts -- the
    streaming admission and the batch planner can never disagree."""
    from streaminglens_spark.functions.sampling import temperature_mixture_plan

    # awkward counts: primes, a dominant stratum, a tiny one
    counts = {"a": 7, "b": 12345, "c": 999983, "d": 40}
    total = 1_234_567
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n), s)
         for i, (s, n) in enumerate(counts.items())],
        SCHEMA,
    )
    plan = {
        r["stratum"]: r["target_tokens"]
        for r in temperature_mixture_plan(docs, total).collect()
    }
    assert plan == temperature_targets(counts, total)


def test_low_resource_share_up_weights_as_stream_grows(spark, tmp_path):
    """The ask's acceptance scenario: source 'low' arrives once, then
    'big' floods batch after batch.  The recomputed targets must hold
    low's BUDGET share strictly above its shrinking token share, and
    low's share of the sqrt-temperature mixture must GROW relative to
    proportional allocation as the imbalance widens."""
    total = 400
    batches = [
        ("b1.json", [_doc(1, "low", toks=20), _doc(2, "big", toks=80)]),
        ("b2.json", [_doc(11, "big", toks=300)]),
        ("b3.json", [_doc(21, "big", toks=620)]),
    ]
    state, published = _run(
        spark, str(tmp_path / "src"), batches, total,
        shard_path=str(tmp_path / "ledger"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert state.seen == {"low": 20, "big": 1000}
    assert all(s == MIXTURE_GAUGE_SOURCE for s, _ in published)
    # targets after each batch (the live budgets the batch admitted under)
    shares = []
    for seen in ({"low": 20, "big": 80}, {"low": 20, "big": 380},
                 {"low": 20, "big": 1000}):
        t = temperature_targets(seen, total)
        token_share = seen["low"] / (seen["low"] + seen["big"])
        budget_share = t["low"] / (t["low"] + t["big"])
        assert budget_share > token_share  # up-weighted at every step
        shares.append((budget_share, token_share))
    # the up-weighting RATIO widens as the imbalance grows
    ratios = [b / t for b, t in shares]
    assert ratios[0] < ratios[1] < ratios[2]
    # and the final ledger's budgets are exactly the final targets
    assert state.budgets == temperature_targets(state.seen, total)


def test_mixture_ledger_restart_and_replay_exactly_once(spark, tmp_path):
    """Kill/restart rebuilds seen + spent bit-identically from the
    committed two-table shards; a replayed batch re-delivers the
    byte-identical admitted set under the SAME recomputed targets and
    double-counts neither manifest nor ledger."""
    total = 100
    b1 = [_doc(1, "a", toks=30), _doc(2, "b", toks=30)]
    b2 = [_doc(11, "a", toks=40), _doc(12, "b", toks=40)]
    shard_path = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    sink1 = []
    state1, _ = _run(spark, src, [("b1.json", b1)], total,
                     shard_path=shard_path, checkpoint=ckpt, sink_log=sink1)

    # restart: fresh monitor restores seen AND spent; b2 admits under the
    # targets recomputed from the grown manifest
    sink2 = []
    state2, _ = _run(spark, src, [("b2.json", b2)], total,
                     shard_path=shard_path, checkpoint=ckpt, sink_log=sink2)
    assert state2.seen == {"a": 70, "b": 70}
    restored = restore_mixture_state(spark, total, 1, shard_path)
    assert restored.seen == state2.seen
    assert restored.spent == state2.spent
    assert restored.folded_batches == {0, 1}

    # replay batch 0: byte-identical delivery, nothing double-counted
    replay_log = []
    _, body = mixture_admission_monitor(
        total,
        admitted_sink=lambda df, bid: replay_log.append(
            sorted(r["doc_id"] for r in df.collect())),
        shard_path=shard_path,
        spark=spark,
    )
    replay_df = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["source"]) for d in b1], SCHEMA
    )
    body(replay_df, 0)
    assert replay_log == [sink1[0][1]]
    again = restore_mixture_state(spark, total, 1, shard_path)
    assert again.seen == state2.seen and again.spent == state2.spent

def test_zero_target_stratum_in_introducing_batch(spark, tmp_path):
    """r11 ADVICE (high): a stratum whose temperature target floors to 0
    in the very batch that introduces it is never admitted, so the spent
    ledger has no key for it -- fold()'s exhausted gauge and remaining()
    must read the missing key as 0 instead of raising KeyError (which
    crashed the foreachBatch body and the streaming query)."""
    total = 100
    assert temperature_targets({"tiny": 1, "big": 10_000}, total) == {
        "tiny": 0,
        "big": 99,
    }
    batches = [
        ("b1.json", [_doc(1, "tiny", toks=1), _doc(2, "big", toks=10_000)]),
    ]
    shard_path = str(tmp_path / "ledger")
    state, published = _run(
        spark, str(tmp_path / "src"), batches, total,
        shard_path=shard_path, checkpoint=str(tmp_path / "ckpt"),
    )
    assert state.seen == {"tiny": 1, "big": 10_000}
    assert "tiny" in state.budgets and "tiny" not in state.spent
    # the gauges were published (the body did not crash) and the
    # zero-target stratum counts as exhausted
    gauges = published[-1][1]
    assert gauges["exhaustedStrata"] >= 1
    assert "tiny" not in state.remaining()
    # restore path hits the same missing-key reads
    restored = restore_mixture_state(spark, total, 1, shard_path)
    assert "tiny" not in restored.remaining()
    assert restored.seen == state.seen and restored.spent == state.spent


def test_degenerate_residual_clamps_not_negative(spark):
    """r11 ADVICE (low): when the last (stratum-sorted) stratum's true
    weight share is below the rounding overshoot, the raw residual is
    negative; the guard clamps that micro to 0 and takes the deficit off
    the largest other micro -- micros still sum exactly to 1e6, nothing
    negative, and all three mirrors (driver Python, Spark operator,
    DuckDB oracle SQL) agree bit-for-bit."""
    import duckdb

    from streaminglens_spark.functions.sampling import (
        _mixture_plan_from_counts,
    )
    from streaminglens_spark.registry import ORACLES, TEMP_MIX_TOTAL

    # six equal heavy strata each rounding UP past 1e6/6, one tiny
    # last-sorted stratum: raw residual = 1e6 - sum(others) < 0
    counts = {chr(ord("a") + i): 30_000_000_000 for i in range(6)}
    counts["z"] = 1
    import math
    ws = {s: math.sqrt(n) for s, n in counts.items()}
    den = 0.0
    for s in sorted(ws):
        den += ws[s]
    raw = {
        s: round(ws[s] / den * 1_000_000) for s in sorted(ws)
    }
    assert sum(v for s, v in raw.items() if s != "z") > 1_000_000  # precondition
    targets = temperature_targets(counts, TEMP_MIX_TOTAL)
    # Python mirror invariants
    micros_py = {}
    # recompute micros the way temperature_targets does, via its output:
    # target = total * micro // 1e6 is lossy, so check via the Spark side
    spark_counts = spark.createDataFrame(
        [(s, n) for s, n in counts.items()], "stratum string, n_tokens long"
    )
    plan = {
        r["stratum"]: (r["weight_micro"], r["target_tokens"])
        for r in _mixture_plan_from_counts(
            spark_counts, TEMP_MIX_TOTAL, 1
        ).collect()
    }
    micros = {s: m for s, (m, _) in plan.items()}
    assert sum(micros.values()) == 1_000_000
    assert all(m >= 0 for m in micros.values())
    assert micros["z"] == 0  # the clamped last stratum
    assert {s: t for s, (_, t) in plan.items()} == targets
    # DuckDB oracle SQL on the same counts (counts CTE swapped for VALUES)
    sql = ORACLES["q_temperature_mix"]
    tail = sql.split("wtd AS (", 1)[1]
    vals = ", ".join(
        f"('{s}', CAST({n} AS BIGINT))" for s, n in sorted(counts.items())
    )
    dsql = (
        f"WITH counts(stratum, n_tokens) AS (VALUES {vals}),\n    wtd AS ("
        + tail
    )
    duck = {
        s: (int(m), int(t))
        for s, _, m, t in duckdb.sql(dsql).fetchall()
    }
    assert duck == plan
