"""Per-batch analysis over row tuples, on the driver (reference A1, A4-A10).

``results_rows`` returns exactly the rows ``pipeline.results_table`` yields,
as plain dicts, computed in Python over the row tuples a live analyzer
already holds.  That is the reference's own shape: its analyzer runs
single-threaded on the driver over in-memory maps
(``analyzer/StreamingCriticalPathAnalyzer.scala:30-87``,
``helper/JobOverlapHelper.scala:27-107``).  A live tick analyzes tens of
rows, so Spark's per-job and per-plan cost would dwarf the work itself.

Row layouts (the live captures' own tuples):

- progress: ``live.PROGRESS_SCHEMA`` order
  ``(query_id, query_name, run_id, batch_id, ts_ms, num_input_rows,
  processed_rps, sources, sink)``;
- jobs, stages, tasks: ``scheduler.JOBS_SCHEMA``, ``STAGES_SCHEMA`` and
  ``TASKS_SCHEMA`` order;
- sla_config: ``(query_key, sla_ms)``.

Every step follows the DataFrame chain, NULL behaviour included: a
progress row with a NULL row count or rate matches neither the analyzed
nor the NONEWBATCHES filter and yields no row; a query whose key matches
several ``sla_config`` rows yields one row per match (the join fans out);
NULL job spans sort first and never split an island; NULL task durations
are skipped.  The batch chain stays the independent reference that the
equality tests compare this function against.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from collections.abc import Iterable, Sequence

from .classify import DEFAULT_SLA_MS, STATE_NAMES, classify_state
from .critical_path import job_critical_ms


def batch_running_ms(ts_ms: int, num_input_rows, processed_rps) -> int | None:
    """A1 for one progress row: ``end - start`` with ``start = ts_ms``, or
    None when the batch moved no rows (the NONEWBATCHES path).  The end is
    computed in double math and truncated, as ``analysis.batch_bounds``
    casts it: ``ts_ms=1_700_000_000_000, num_input_rows=9_999_999,
    processed_rps=1e7`` runs 1000 ms, not the 999 ms that truncating the
    duration alone would give."""
    if not num_input_rows or not processed_rps:
        return None
    return int(float(ts_ms) + (num_input_rows / processed_rps) * 1000) - ts_ms


def _sla_by_query(
    progress: Sequence[tuple], sla_config: Iterable[tuple], default_ms: int
) -> dict[str, list[int]]:
    """A23: each query's SLA rows, keyed ``query_name ?? query_id`` like
    ``classify.resolve_sla``'s left join (no match -> the default)."""
    default_ms = int(default_ms)
    by_key: dict[str, list[int]] = {}
    for key, ms in sla_config:
        if key is not None:
            by_key.setdefault(key, []).append(default_ms if ms is None else int(ms))
    keys: dict[str, dict[str, None]] = {}
    for r in progress:
        keys.setdefault(r[0], {})[r[1] if r[1] is not None else r[0]] = None
    return {
        qid: [ms for k in ks for ms in by_key.get(k, [default_ms])]
        for qid, ks in keys.items()
    }


def _job_terms(
    batches: set[tuple[str, int]],
    jobs: Sequence[tuple],
    stages: Iterable[tuple],
    tasks: Iterable[tuple],
) -> dict[tuple[str, int], tuple[int, int]]:
    """A4-A9 job terms per batch: ``(job walltime, critical-path time)``.

    Reads only the jobs whose ids fall in the batches' ``[min, max]``
    own-job-id ranges, and only those jobs' stages and tasks."""
    ranges: dict[tuple[str, int], tuple[int, int]] = {}
    for j in jobs:
        key, jid = (j[0], j[1]), j[2]
        if key in batches and jid is not None:
            lo, hi = ranges.get(key, (jid, jid))
            ranges[key] = (min(lo, jid), max(hi, jid))
    if not ranges:
        return {}
    # A4 range sweep over ALL captured jobs (other queries' included)
    by_id = sorted((j for j in jobs if j[2] is not None), key=lambda j: j[2])
    ids = [j[2] for j in by_id]
    swept = {
        key: by_id[bisect_left(ids, lo) : bisect_right(ids, hi)]
        for key, (lo, hi) in ranges.items()
    }
    wanted = {j[2] for js in swept.values() for j in js}
    dag: dict[int, list] = {}
    durations: dict[int, list] = {}
    for s in stages:
        if s[1] in wanted:
            dag.setdefault(s[1], []).append((s[0], s[2]))
    for t in tasks:
        if t[2] in wanted:
            durations.setdefault(t[2], []).append((t[1], t[6]))
    crit = {jid: job_critical_ms(dag.get(jid, ()), durations.get(jid, ())) for jid in wanted}

    out = {}
    for key, js in swept.items():
        # A5 exec groups: shared sql_exec_id, else one group per job
        groups: dict[tuple, list[tuple]] = {}
        for j in js:
            gk = ("exec", j[3]) if j[3] is not None else ("job", j[2])
            groups.setdefault(gk, []).append(j)
        walltime = critical_path = 0
        for members in groups.values():
            # A6 islands: split where the PREVIOUS job in (start, id) order
            # ends before this one starts (lag, not a running max)
            members.sort(key=lambda j: (j[4] is not None, j[4] or 0, j[2]))
            islands: list[list[tuple]] = []
            prev_end = None
            for j in members:
                if not islands or (
                    prev_end is not None and j[4] is not None and prev_end < j[4]
                ):
                    islands.append([])
                islands[-1].append(j)
                prev_end = j[5]
            for isl in islands:
                # A7 walltime: max(end) - min(start); NULL spans add nothing
                starts = [j[4] for j in isl if j[4] is not None]
                ends = [j[5] for j in isl if j[5] is not None]
                if starts and ends:
                    walltime += max(ends) - min(starts)
                # A9 critical path: the island's slowest job
                critical_path += max(crit[j[2]] for j in isl)
        out[key] = (walltime, critical_path)
    return out


def results_rows(
    progress: Sequence[tuple],
    jobs: Sequence[tuple] = (),
    stages: Iterable[tuple] = (),
    tasks: Iterable[tuple] = (),
    sla_config: Iterable[tuple] = (),
    default_sla_ms: int = DEFAULT_SLA_MS,
) -> list[dict]:
    """The ``pipeline.results_table`` rows for ``progress``, as dicts with
    plain ``int``/``str`` values, ordered by (query_id, batch_id).  Empty
    job tables give the progress-only degradation (critical time equals
    running time)."""
    sla = _sla_by_query(progress, sla_config, default_sla_ms)
    running = []
    for r in progress:
        if r[5] is None or r[6] is None:
            continue  # NULL validity: neither filter of the chain keeps it
        running.append((r[0], r[3], batch_running_ms(r[4], r[5], r[6])))
    terms = _job_terms({(q, b) for q, b, brt in running if brt is not None}, jobs, stages, tasks)
    out = []
    for qid, bid, brt in running:
        valid = brt is not None
        if valid:
            walltime, critical_path = terms.get((qid, bid), (0, 0))
            ct = brt - walltime + critical_path
        else:
            brt = ct = state_id = 0
        for sla_ms in sla[qid]:
            if valid:
                state_id = classify_state(brt, ct, sla_ms)
            out.append(
                {
                    "query_id": qid,
                    "batch_id": bid,
                    "analysis_ms": 0,
                    "sla_ms": sla_ms,
                    "batch_running_ms": brt,
                    "critical_ms": ct,
                    "state_id": state_id,
                    "state": STATE_NAMES[state_id],
                }
            )
    out.sort(key=lambda r: (r["query_id"], r["batch_id"]))
    return out
