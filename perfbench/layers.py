"""Per-layer measurements shared by the traced runs.

``operator_sweep`` times each operator module of the analysis chain over
inputs that are already materialized (cached), so each module's numbers
are its own.  ``call_metrics`` turns one traced call (a span) into the
build/action/jobs/.../critical_ms block.
"""

from __future__ import annotations

from dataclasses import fields
from statistics import median

from .common import noop

OPERATOR_MODULES = ("analysis", "critical_path", "classify", "concurrency", "reporting")
CALL_FIELDS = (
    "build_ms", "action_ms", "jobs", "stages", "tasks", "task_s",
    "shuffle_bytes", "driver_ms", "critical_ms",
)


def _materialize(dfs: list) -> None:
    for df in dfs:
        df.persist()
        noop(df)


def _count(dfs: list) -> int:
    return sum(df.count() for df in dfs)


def materialize_telemetry(t) -> None:
    """Cache and materialize every table of a ``Telemetry`` bundle."""
    for f in fields(t):
        df = getattr(t, f.name).persist()
        noop(df)
        setattr(t, f.name, df)


def release_telemetry(t) -> None:
    for f in fields(t):
        getattr(t, f.name).unpersist()


def operator_sweep(spans, t, default_sla_ms: int) -> dict[str, int]:
    """Run the analysis chain module by module over the materialized
    telemetry ``t``; each module's outputs are cached inside its own
    ``operators.<module>`` span.  Returns rows out per module."""
    from streaminglens_spark.operators.analysis import (
        batch_bounds,
        batch_slice,
        exec_groups,
        islands,
        job_walltime,
    )
    from streaminglens_spark.operators.classify import classify, resolve_sla
    from streaminglens_spark.operators.concurrency import (
        job_executors,
        max_concurrency,
        sliced_executors,
    )
    from streaminglens_spark.operators.critical_path import critical_path_per_job, critical_time
    from streaminglens_spark.operators.pipeline import results_table
    from streaminglens_spark.operators.reporting import (
        discounted_state,
        event_json,
        results_topk,
        source_recommendations,
        state_buckets,
    )

    rows: dict[str, int] = {}
    cached: list = []

    def module(name: str, outputs: list) -> None:
        with spans.span(f"operators.{name}"):
            _materialize(outputs)
        rows[name] = rows.get(name, 0) + _count(outputs)
        cached.extend(outputs)

    bounds = batch_bounds(t.progress)
    islanded = islands(exec_groups(batch_slice(t.jobs)))
    walltime = job_walltime(islanded)
    module("analysis", [bounds, islanded, walltime])

    crit_job = critical_path_per_job(t.stages, t.tasks)
    module("critical_path", [crit_job])
    crit = critical_time(bounds, walltime, islanded, crit_job)
    module("critical_path", [crit])

    sla = resolve_sla(t.progress, t.sla_config, default_ms=default_sla_ms)
    module("classify", [sla, classify(crit, sla)])

    execs = sliced_executors(batch_slice(t.jobs), job_executors(t.tasks), t.executors)
    module("concurrency", [max_concurrency(execs, bounds)])

    results = results_table(t, default_sla_ms=default_sla_ms).persist()
    results.count()
    cached.append(results)
    module(
        "reporting",
        [
            discounted_state(results),
            results_topk(results),
            state_buckets(results, t.progress),
            event_json(results, t.progress),
            source_recommendations(t.progress),
        ],
    )
    for df in cached:
        df.unpersist()
    return rows


def operator_metrics(spans, attribution, rows: dict[str, int]) -> dict[str, float]:
    out: dict[str, float] = {}
    for m in OPERATOR_MODULES:
        calls = spans.named(f"operators.{m}")
        if not calls:
            continue
        stats = [attribution.stats(c) for c in calls]
        out[f"operators.{m}.action_ms"] = sum(c["ms"] for c in calls)
        out[f"operators.{m}.jobs"] = sum(s["jobs"] for s in stats)
        out[f"operators.{m}.tasks"] = sum(s["tasks"] for s in stats)
        out[f"operators.{m}.task_s"] = sum(s["task_s"] for s in stats)
        out[f"operators.{m}.rows_out"] = rows.get(m, 0)
    return out


def call_metrics(prefix: str, calls: list[dict], attribution, critical: dict) -> dict[str, float]:
    """Median per-call block for calls recorded as ``<prefix>`` spans with
    ``<prefix>.build`` / ``<prefix>.action`` children.  ``critical`` maps
    the call's span id to its critical time."""
    if not calls:
        return {}
    by_parent: dict[int, dict[str, float]] = {}
    for r in attribution.spans.rows:
        if r["parent"] is not None and r["name"] in (f"{prefix}.build", f"{prefix}.action"):
            by_parent.setdefault(r["parent"], {})[r["name"].rsplit(".", 1)[1]] = r["ms"]
    blocks = []
    for c in calls:
        s = attribution.stats(c)
        parts = by_parent.get(c["id"], {})
        s["build_ms"] = parts.get("build", 0.0)
        s["action_ms"] = parts.get("action", 0.0)
        s["critical_ms"] = critical.get(c["id"], 0.0)
        blocks.append(s)
    return {f"{prefix}.{f}": median([b[f] for b in blocks]) for f in CALL_FIELDS}
