"""Hypothesis property tests over the pure driver-side functions (no Spark
session needed -- these run in milliseconds) plus a random-DAG equivalence
check between the two A8 critical-path implementations."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from streaminglens_spark.streaming.scheduler import parse_batch_description
from streaminglens_spark.streaming.stateful import _fold

# -- S4 description parse -------------------------------------------------

ids = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="-"),
    min_size=1, max_size=40,
)


@given(name=st.one_of(st.none(), ids), qid=ids, rid=ids, batch=st.integers(0, 10**12))
def test_parse_batch_description_roundtrip(name, qid, rid, batch):
    """Any well-formed description (named or unnamed, either separator)
    parses back to its fields."""
    lines = ([name] if name else [""]) + [f"id = {qid}", f"runId = {rid}", f"batch = {batch}"]
    assert parse_batch_description("\n".join(lines)) == (qid, rid, batch)
    assert parse_batch_description("<br/>".join(lines)) == (qid, rid, batch)


@given(s=st.text(max_size=200))
def test_parse_batch_description_never_raises(s):
    """Arbitrary junk (including embedded separators) parses to a tuple or
    None, never an exception -- the listener bus must survive anything."""
    out = parse_batch_description(s)
    assert out is None or (len(out) == 3 and isinstance(out[2], int))


# -- A13 fold (stateful-operator core) ------------------------------------

@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(-1, 4)), min_size=0, max_size=40
    ),
    d=st.floats(0.01, 0.99),
)
def test_fold_bounded_by_state_range(rows, d):
    """The discounted average lies within [min, max] of the eligible states
    (it is a convex combination); no eligible states -> exactly 0.0."""
    batch_ids = [b for b, _ in rows]
    state_ids = [s for _, s in rows]
    out = _fold(batch_ids, state_ids, d)
    eligible = [s for _, s in sorted(zip(batch_ids, state_ids)) if s != 0]
    if not eligible:
        assert out == 0.0
    else:
        assert min(eligible) - 1e-6 <= out <= max(eligible) + 1e-6


@given(
    rows=st.lists(st.integers(1, 4), min_size=1, max_size=30),
    d=st.floats(0.01, 0.99),
)
def test_fold_constant_states_are_fixed_points(rows, d):
    """All-equal eligible states aggregate to exactly that state."""
    batch_ids = list(range(len(rows)))
    assert _fold(batch_ids, [rows[0]] * len(rows), d) == float(rows[0])


@settings(max_examples=30)
@given(perm_seed=st.integers(0, 2**32 - 1),
       rows=st.lists(st.tuples(st.integers(0, 10**6), st.integers(-1, 4)),
                     min_size=1, max_size=30, unique_by=lambda t: t[0]))
def test_fold_is_arrival_order_independent(perm_seed, rows):
    """The fold sorts by batch_id internally, so any arrival order of the
    same rows gives the bit-identical result (what makes the streaming
    operator's output deterministic under task reordering)."""
    import random

    batch_ids = [b for b, _ in rows]
    state_ids = [s for _, s in rows]
    base = _fold(batch_ids, state_ids, 0.95)
    rng = random.Random(perm_seed)
    idx = list(range(len(rows)))
    rng.shuffle(idx)
    assert _fold([batch_ids[i] for i in idx], [state_ids[i] for i in idx], 0.95) == base


# -- A8: the Spark plan agrees with brute-force path enumeration ---------

def _brute_force_critical_ms(parents_of: dict, durations: dict) -> int:
    """Longest of ALL rootward paths from the job's max stage id, each path
    enumerated explicitly (no memo).  A stage weighs its max non-NULL task
    duration (0 without one); a missing parent ends its path and adds 0."""
    best = 0
    stack = [(max(parents_of), 0)]
    while stack:
        sid, acc = stack.pop()
        if sid not in parents_of:
            best = max(best, acc)
            continue
        acc += max((d for d in durations.get(sid, []) if d is not None), default=0)
        if not parents_of[sid]:
            best = max(best, acc)
        stack.extend((p, acc) for p in parents_of[sid])
    return best


def test_critical_path_impls_agree_on_random_dags(spark):
    from streaminglens_spark.operators.critical_path import critical_path_per_job
    import random

    rng = random.Random(11)
    stage_rows, task_rows = [], []
    expected = {}
    sid = tid = 0
    for job in range(60):
        n = rng.randint(1, 7)
        ids = list(range(sid, sid + n))
        sid += n
        parents_of, durations = {}, {}
        for i, s in enumerate(ids):
            # random parents among earlier stages of the job; occasionally a
            # dangling (missing) parent id, which sparklens treats as weight 0
            parents = [p for p in ids[:i] if rng.random() < 0.4]
            if i > 0 and rng.random() < 0.1:
                parents.append(999_000 + s)  # missing stage
            parents_of[s] = parents
            stage_rows.append((s, job, parents, 1, 0, 100))
            # one to three tasks, some with a NULL duration (skipped)
            for _ in range(rng.randint(1, 3)):
                d = None if rng.random() < 0.15 else rng.randint(1, 500)
                durations.setdefault(s, []).append(d)
                task_rows.append((tid, s, job, "e0", 0, 0, d, False))
                tid += 1
        expected[job] = _brute_force_critical_ms(parents_of, durations)

    stages = spark.createDataFrame(
        stage_rows,
        "stage_id bigint, job_id bigint, parent_ids array<bigint>,"
        " num_tasks bigint, start_ms bigint, end_ms bigint",
    )
    tasks = spark.createDataFrame(
        task_rows,
        "task_id bigint, stage_id bigint, job_id bigint, executor_id string,"
        " launch_ms bigint, finish_ms bigint, duration_ms bigint, failed boolean",
    )
    got = {r["job_id"]: r["critical_ms"]
           for r in critical_path_per_job(stages, tasks).collect()}
    assert got == expected
