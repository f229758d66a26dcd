"""Driver-side live analysis (``operators/rows.py``) against the batch
``results_table`` chain.

The generated telemetry holds ~50 independent scenarios, one query id each,
in one set, so the whole comparison costs a single ``results_table``
action.  A seeded ``random.Random`` (not per-example hypothesis) keeps it to
that one action; the seed is fixed so a failure reproduces.
"""

from __future__ import annotations

import json
import random

import pytest

from streaminglens_spark.config import StreamingLensConfig
from streaminglens_spark.operators.rows import batch_running_ms, results_rows
from streaminglens_spark.streaming.live import PROGRESS_SCHEMA, LiveAnalyzer, ProgressCapture
from streaminglens_spark.streaming.scheduler import (
    EXECUTORS_SCHEMA,
    JOBS_SCHEMA,
    STAGES_SCHEMA,
    TASKS_SCHEMA,
    SchedulerCapture,
)
from tests.test_streaming import _Clock, _cfg, _fake_progress

BASE_TS = 1_700_000_000_000
DEFAULT_SLA = 120_000
KEYS = {
    "query_id", "batch_id", "analysis_ms", "sla_ms",
    "batch_running_ms", "critical_ms", "state_id", "state",
}
# ts + int(nir / rps * 1000) gives 999 here; the chain's cast of the
# double end gives 1000
FLOAT_CASE = (BASE_TS, 9_999_999, 1e7)


class _Telemetry:
    """Row tuples in the capture's column orders."""

    def __init__(self) -> None:
        self.progress: list[tuple] = []
        self.jobs: list[tuple] = []
        self.stages: list[tuple] = []
        self.tasks: list[tuple] = []
        self.sla: list[tuple] = []

    def batch(self, qid, bid, ts, nir=100, rps=50.0, name=None) -> None:
        self.progress.append((qid, name, "run-" + qid, bid, ts, nir, rps, ["src"], "sink"))

    def job(self, qid, bid, jid, start, end, exec_id=None) -> None:
        self.jobs.append((qid, bid, jid, exec_id, start, end, "d"))

    def stage(self, sid, jid, parents) -> None:
        self.stages.append((sid, jid, parents, 1, 0, 1))

    def task(self, sid, jid, dur) -> None:
        self.tasks.append((len(self.tasks), sid, jid, "driver", 0, 1, dur, False))


def _random_scenario(t: _Telemetry, rng: random.Random, i: int) -> None:
    """One query: 1-4 batches (some NONEWBATCHES), 0-4 jobs each with
    random spans, exec ids (NULL included), stage DAGs, task durations
    (NULL included), task-only jobs and missing parent stages.  Job ids
    come from the query's own block, shuffled across its batches half the
    time so A4's range sweep pulls in sibling batches' jobs."""
    qid = f"q{i:02d}"
    name = f"name{i}" if rng.random() < 0.3 else None
    if name and rng.random() < 0.5:
        t.sla.append((name, rng.choice([1_000, 4_000, 20_000])))
    specs = []
    for bid in range(rng.randint(1, 4)):
        ts = BASE_TS + i * 10_000_000 + bid * 60_000
        nir = 0 if rng.random() < 0.15 else rng.randint(1, 2_000_000)
        rps = 0.0 if rng.random() < 0.1 else rng.uniform(100.0, 1e6)
        t.batch(qid, bid, ts, nir, rps, name)
        for _ in range(rng.randint(0, 4)):
            start = ts + rng.randint(0, 3_000)
            if specs and rng.random() < 0.2:
                start = specs[-1][3]  # touching the previous span
            end = start + rng.randint(0, 2_000)
            exec_id = rng.choice([None, 1, 2]) if rng.random() < 0.8 else None
            specs.append([bid, exec_id, start, end])
    ids = list(range(i * 1_000, i * 1_000 + len(specs)))
    if rng.random() < 0.5:
        rng.shuffle(ids)
    for jid, (bid, exec_id, start, end) in zip(ids, specs):
        t.job(qid, bid, jid, start, end, None if exec_id is None else bid * 10 + exec_id)
        task_only = rng.random() < 0.1
        n_stages = rng.randint(0, 4)
        for k in range(n_stages):
            sid = jid * 10 + k
            parents = rng.sample(range(jid * 10, sid), rng.randint(0, k))
            if rng.random() < 0.1:
                parents.append(jid * 10 + 9)  # missing parent stage
            if not task_only:
                t.stage(sid, jid, parents)
            for _ in range(rng.randint(0, 3)):
                t.task(sid, jid, None if rng.random() < 0.1 else rng.randint(0, 500))


def _fixed_scenarios(t: _Telemetry) -> None:
    """The named cases, ids 5000+ (clear of the random blocks)."""
    # overlapping, touching and disjoint spans in one exec group, plus the
    # lag-not-cummax split: j3 ends before j4 starts although j2 covers j4
    ts = BASE_TS + 900_000_000
    t.batch("spans", 0, ts, 1_000, 100.0)
    for jid, (start, end) in enumerate(
        [(0, 500), (400, 900), (900, 1_200), (2_000, 5_000), (2_100, 2_200), (2_300, 2_400)],
        start=5_000,
    ):
        t.job("spans", 0, jid, ts + start, ts + end, exec_id=7)
        t.stage(jid * 10, jid, [])
        t.task(jid * 10, jid, 10 + jid % 5)
    # interleaved job ids across two queries: each batch's [min, max]
    # range sweeps the other query's jobs in
    ts = BASE_TS + 910_000_000
    t.batch("inter-a", 0, ts, 5_000, 1_000.0)
    t.batch("inter-b", 0, ts, 5_000, 1_000.0, name="inter-named")
    t.sla.append(("inter-named", 2_000))  # named query with an SLA override
    for jid in range(5_100, 5_108):
        qid = "inter-a" if jid % 2 == 0 else "inter-b"
        t.job(qid, 0, jid, ts + (jid - 5_100) * 300, ts + (jid - 5_100) * 300 + 450)
        t.stage(jid * 10, jid, [])
        t.stage(jid * 10 + 1, jid, [jid * 10])
        t.task(jid * 10, jid, 100 + jid % 7)
        t.task(jid * 10 + 1, jid, 50)
    # a captured job of a batch missing from progress, inside inter-a's range
    t.job("orphan", 3, 5_108, ts + 100, ts + 4_000)
    t.jobs.append(("inter-a", 0, 5_109, None, ts + 50, ts + 60, "d"))
    # the float case
    t.batch("float", 0, *FLOAT_CASE)
    # zero-row batches only, and a NULL rate (the chain drops the row)
    t.batch("nonew", 0, BASE_TS, 0, 10.0)
    t.batch("nonew", 1, BASE_TS, 10, 0.0)
    t.batch("null-rate", 0, BASE_TS, 10, None)
    # a query renamed between batches resolves two SLA keys: one row each
    t.batch("renamed", 0, BASE_TS, 500, 100.0, name="renamed-a")
    t.batch("renamed", 1, BASE_TS + 60_000, 500, 100.0)
    t.sla.append(("renamed-a", 3_000))
    # a job with only task rows (empty DAG) and one whose tasks have NULL
    # durations only
    ts = BASE_TS + 920_000_000
    t.batch("dag-edges", 0, ts, 3_000, 1_000.0)
    t.job("dag-edges", 0, 5_200, ts, ts + 1_000)
    t.task(52_000, 5_200, 700)
    t.job("dag-edges", 0, 5_201, ts + 2_000, ts + 2_500)
    t.stage(52_010, 5_201, [52_009])
    t.task(52_010, 5_201, None)


@pytest.fixture(scope="module")
def generated():
    t = _Telemetry()
    rng = random.Random(20_261_018)
    for i in range(48):
        _random_scenario(t, rng, i)
    _fixed_scenarios(t)
    return t


@pytest.fixture(scope="module")
def batch_rows(spark, generated):
    """The one ``results_table`` action over the whole generated set."""
    from streaminglens_spark.operators.pipeline import results_table
    from streaminglens_spark.telemetry import Telemetry

    t = generated
    tel = Telemetry(
        progress=spark.createDataFrame(t.progress, PROGRESS_SCHEMA),
        jobs=spark.createDataFrame(t.jobs, JOBS_SCHEMA),
        stages=spark.createDataFrame(t.stages, STAGES_SCHEMA),
        tasks=spark.createDataFrame(t.tasks, TASKS_SCHEMA),
        executors=spark.createDataFrame([], EXECUTORS_SCHEMA),
        sla_config=spark.createDataFrame(t.sla, "query_key string, sla_ms bigint"),
    )
    return [r.asDict() for r in results_table(tel, default_sla_ms=DEFAULT_SLA).collect()]


def _canon(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def test_driver_rows_equal_results_table(generated, batch_rows):
    t = generated
    driver = results_rows(t.progress, t.jobs, t.stages, t.tasks, t.sla, DEFAULT_SLA)
    assert _canon(driver) == _canon(batch_rows)
    assert len({r["query_id"] for r in driver}) >= 50
    for r in driver:
        assert set(r) == KEYS
        assert r["analysis_ms"] == 0  # batch mode pins it; so does a tick
        assert all(type(v) in (int, str) for v in r.values()), r
    states = {r["state"] for r in driver}
    assert {"NONEWBATCHES", "OVERPROVISIONED", "UNHEALTHY"} <= states
    by_key = {(r["query_id"], r["batch_id"]): r for r in driver}
    assert by_key[("float", 0)]["batch_running_ms"] == 1_000
    assert ("null-rate", 0) not in by_key
    assert by_key[("inter-b", 0)]["sla_ms"] == 2_000
    assert sorted(r["sla_ms"] for r in driver if r["query_id"] == "renamed") == [
        3_000, 3_000, DEFAULT_SLA, DEFAULT_SLA,
    ]


def test_driver_rows_per_query_slice_equal_results_table(generated, batch_rows):
    """A tick analyzes one gated slice of progress against ALL captured
    jobs: each query's slice alone yields that query's batch rows."""
    t = generated
    for qid in {r[0] for r in t.progress}:
        mine = [r for r in t.progress if r[0] == qid]
        got = results_rows(mine, t.jobs, t.stages, t.tasks, t.sla, DEFAULT_SLA)
        assert _canon(got) == _canon([r for r in batch_rows if r["query_id"] == qid]), qid


def test_error_path_shares_the_bounds_helper(spark):
    """The ERROR(-1) row and a healthy analysis of the same batch report
    the same running time, also where double truncation matters."""
    ts, nir, rps = FLOAT_CASE
    assert batch_running_ms(ts, nir, rps) == 1_000
    cap = ProgressCapture()
    cap.rows = [_fake_progress("q1", 0, ts, nir=nir, rps=rps)]
    clock = _Clock()
    a = LiveAnalyzer(spark, cap, config=_cfg(), clock=clock)
    clock.advance(3600)
    assert a.tick()[0]["batch_running_ms"] == 1_000
    a._analyze_once = lambda: (_ for _ in ()).throw(RuntimeError("boom"))
    clock.advance(3600)
    assert a.tick() == []
    assert a.last_error_results[0]["batch_running_ms"] == 1_000


def test_scheduler_backed_tick_runs_no_spark_job(spark, generated):
    """A scheduler-backed tick analyzes on the driver: its job group
    stays empty while it still yields every gated batch's row."""
    t = generated
    sched = SchedulerCapture()
    for qid, bid, jid, exec_id, start, end, desc in t.jobs:
        sched._jobs[jid] = {
            "query_id": qid, "batch_id": bid, "sql_exec_id": exec_id,
            "start_ms": start, "end_ms": end, "description": desc,
        }
    for sid, jid, parents, num_tasks, start, end in t.stages:
        sched._stage_job.setdefault(sid, jid)
        sched._stage_meta[sid] = (parents, num_tasks)
        sched._stage_span[sid] = (start, end)
    sched._tasks = list(t.tasks)
    cap = ProgressCapture()
    cap.rows = [r for r in t.progress if r[0] in ("spans", "inter-a", "inter-b")]
    now_s = 1_900_000_000.0
    a = LiveAnalyzer(
        spark, cap, config=StreamingLensConfig(), scheduler_capture=sched,
        clock=lambda: now_s,
    )
    results = a.tick()
    assert {r["query_id"] for r in results} == {"spans", "inter-a", "inter-b"}
    group = f"streaminglens-tick-{int(now_s * 1000)}"
    assert list(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == []
