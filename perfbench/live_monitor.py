"""``live_monitor``: a ``LiveAnalyzer`` ticked inline after every trigger
of a monitored stream (a closed loop with one client, the stream).

- Input: a ``rate-micro-batch`` source, fixed rows per batch and
  partitions; the seed sets its start timestamp and the body's key salt.
- User code: a ``foreachBatch`` groupBy-agg written to the noop sink,
  wrapped by the library's ``foreach_batch_monitor``.
- Lens: progress capture + ``attach_scheduler``, reporting enabled to an
  in-memory reporter, reference defaults otherwise (analysis every 5 min,
  reports every 60 min, ``maxAnalysisTimeSeconds=5``).  The clock passed
  as ``clock=`` advances one analysis interval per call, so every tick
  analyzes and every 12th tick also reports.

One operation = one monitored trigger: ``op_ms`` is the trigger's
``durationMs.triggerExecution`` from the query's own progress (user body +
tick), ``call_ms`` is the wall time of ``tick()`` inside it.
"""

from __future__ import annotations

import sys
import threading
import time

from statistics import median

from .common import noop
from .inputs import live_params, seeded_events, write_table

ROWS_PER_BATCH = 1_000
PARTITIONS = 4
WARMUP_TRIGGERS = {"full": 2, "smoke": 2}
MIN_TRIGGERS = {"full": 4, "smoke": 2}
BARE_TRIGGERS = 3  # traced run: triggers without the lens attached
PREWARM_EVENTS = 2_000
STREAM_TIMEOUT_S = 150


class MemoryReporter:
    """Benchmark-owned reporter: keeps every insights event in memory."""

    def __init__(self) -> None:
        self.events: list[str] = []

    def send_insights_event(self, info: str) -> None:
        self.events.append(info)


class StepClock:
    """Advances a fixed step per call (the ``clock=`` argument)."""

    def __init__(self, start_s: float, step_s: float) -> None:
        self.t = start_s
        self.step = step_s

    def __call__(self) -> float:
        self.t += self.step
        return self.t


class Monitor:
    """The stream's foreachBatch body plus per-trigger bookkeeping."""

    def __init__(self, ctx, salt: int):
        self.ctx = ctx
        self.salt = salt
        self.analyzer = None
        self.wrapped = None
        self.triggers: list[dict] = []
        self.provided: list[tuple] = []  # traced: (jobs, stages, tasks, batch ids) per tick
        self.untraced_from = 0  # traced run: first warm, untraced monitored trigger
        self.errors: list[BaseException] = []
        self.cond = threading.Condition()

    def attach(self, analyzer) -> None:
        from streaminglens_spark.streaming.live import foreach_batch_monitor

        self.analyzer = analyzer
        self.wrapped = foreach_batch_monitor(analyzer, self.body)

    def body(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        with self.ctx.spans.span("user.body", batch_id) as span:
            key = ((F.col("value") + F.lit(self.salt)) % 16).alias("k")
            noop(df.groupBy(key).agg(F.count("*").alias("n"), F.sum("value").alias("s")))
        self._body_ms = span["ms"]

    def __call__(self, df, batch_id: int) -> None:
        rec = {"batch_id": batch_id, "monitored": self.analyzer is not None}
        try:
            if self.analyzer is None:
                self.body(df, batch_id)
                rec["body_ms"] = self._body_ms
            else:
                a = self.analyzer
                retries, n_results = a.retries, len(a.results)
                with self.ctx.spans.span("streaming.live.trigger", batch_id) as span:
                    self.wrapped(df, batch_id)
                rec["body_ms"] = self._body_ms
                rec["wall_ms"] = span["ms"]
                rec["tick_ms"] = span["ms"] - self._body_ms
                rec["traced"] = self.ctx.spans.enabled
                rec["error"] = a.retries > retries or a.stopped
                rec["new_results"] = len(a.results) - n_results
        except Exception as e:  # surfaced as a failed trigger
            self.errors.append(e)
            rec["error"] = True
        with self.cond:
            self.triggers.append(rec)
            self.cond.notify_all()

    def wait_for(self, n: int, timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        with self.cond:
            while len(self.triggers) < n:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"stream made {len(self.triggers)} of {n} triggers")
                self.cond.wait(left)


def _lens(ctx, monitor, provider_ms: list[float]):
    """Attach progress capture + scheduler capture and build the analyzer."""
    from streaminglens_spark.config import StreamingLensConfig
    from streaminglens_spark.streaming.live import LiveAnalyzer, attach
    from streaminglens_spark.streaming.scheduler import (
        attach_scheduler,
        scheduler_telemetry_provider,
    )

    spark = ctx.spark
    config = StreamingLensConfig(
        {
            "streamingLens.reporter.enabled": "true",
            # the default file reporter's output, kept inside the work dir
            "streamingLens.reporter.path": str(ctx.work / "streaminglens_events.jsonl"),
        }
    )
    cap = attach(spark)
    sched = attach_scheduler(spark)
    provider = None
    if ctx.trace:
        inner = scheduler_telemetry_provider(spark, sched)

        def provider(progress):
            jobs, stages, tasks, _ = sched.snapshot_rows()
            with ctx.spans.span("streaming.live.provider") as span:
                t = inner(progress)
            if ctx.spans.enabled:
                provider_ms.append(span["ms"])
                monitor.provided.append((len(jobs), len(stages), len(tasks), {j[1] for j in jobs}))
            return t

    reporter = MemoryReporter()
    analyzer = LiveAnalyzer(
        spark,
        cap,
        config=config,
        telemetry_provider=provider,
        reporters=[reporter],
        clock=StepClock(live_params(ctx.seed)["start_ms"] / 1000.0,
                        config.analysis_interval_minutes * 60.0),
        scheduler_capture=sched,
    )
    return analyzer, cap, sched, reporter


def _check(ctx, analyzer, cap, sched):
    """Retained tick results vs a batch ``results_table`` over the same
    captured telemetry; returns (rows checked, mismatches, telemetry)."""
    from streaminglens_spark.operators.pipeline import results_table
    from streaminglens_spark.streaming.live import PROGRESS_SCHEMA
    from streaminglens_spark.streaming.scheduler import (
        EXECUTORS_SCHEMA,
        JOBS_SCHEMA,
        STAGES_SCHEMA,
        TASKS_SCHEMA,
    )
    from streaminglens_spark.telemetry import Telemetry

    spark = ctx.spark
    jobs, stages, tasks, executors = sched.snapshot_rows()
    t = Telemetry(
        progress=spark.createDataFrame(cap.snapshot(), PROGRESS_SCHEMA),
        jobs=spark.createDataFrame(jobs, JOBS_SCHEMA),
        stages=spark.createDataFrame(stages, STAGES_SCHEMA),
        tasks=spark.createDataFrame(tasks, TASKS_SCHEMA),
        executors=spark.createDataFrame(executors, EXECUTORS_SCHEMA),
        sla_config=spark.createDataFrame([], "query_key string, sla_ms bigint"),
    )
    with ctx.spans.span("operators.pipeline"):
        with ctx.spans.span("operators.pipeline.build"):
            df = results_table(t, default_sla_ms=analyzer.config.expected_micro_batch_sla_millis)
        with ctx.spans.span("operators.pipeline.action"):
            batch = {(r["query_id"], r["batch_id"]): r.asDict() for r in df.collect()}
    checked = mismatched = 0
    for r in analyzer.results:
        key = (r["query_id"], r["batch_id"])
        if key in batch:
            checked += 1
            want = dict(batch[key])
            if ctx.corrupt_expected:
                want["critical_ms"] = -1
            if want != r:
                mismatched += 1
                print(f"MISMATCH live {key}: tick {r} batch {want}", file=sys.stderr)
    return checked, mismatched, t


def run(ctx) -> dict:
    spark = ctx.spark
    params = live_params(ctx.seed)
    monitor = Monitor(ctx, params["salt"])
    provider_ms: list[float] = []
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", ROWS_PER_BATCH)
        .option("numPartitions", PARTITIONS)
        .option("startTimestamp", params["start_ms"])
        .load()
    )
    k = MIN_TRIGGERS[ctx.size]
    warm = WARMUP_TRIGGERS[ctx.size]
    if not ctx.trace:
        analyzer, cap, sched, reporter = _lens(ctx, monitor, provider_ms)
        monitor.attach(analyzer)
    query = None
    try:
        with ctx.warmup():
            _prewarm(ctx)
            query = stream.writeStream.foreachBatch(monitor).start()
            monitor.wait_for(warm, STREAM_TIMEOUT_S)
        if ctx.trace:
            # bare triggers, then (after a warm-up) untraced monitored ones,
            # then traced ones; a trigger in flight at a switch is skipped
            monitor.wait_for(len(monitor.triggers) + BARE_TRIGGERS, STREAM_TIMEOUT_S)
            analyzer, cap, sched, reporter = _lens(ctx, monitor, provider_ms)
            monitor.attach(analyzer)
            monitor.untraced_from = len(monitor.triggers) + 1 + warm
            monitor.wait_for(monitor.untraced_from + k, STREAM_TIMEOUT_S)
            ctx.attach_capture()
            start = len(monitor.triggers) + 1
            monitor.wait_for(start + k, STREAM_TIMEOUT_S)
        else:
            start = len(monitor.triggers)
            ctx.start_timed()
            while True:
                n = len(monitor.triggers)
                if n - start >= k and ctx.time_up():
                    break
                monitor.wait_for(n + 1, STREAM_TIMEOUT_S)
        end = len(monitor.triggers)
    finally:
        if query is not None:
            query.stop()
            query.awaitTermination(60)
    analyzer.stop()
    timed = [r for r in monitor.triggers[start:end] if r["monitored"]]
    durations = {
        p["batchId"]: p["durationMs"]["triggerExecution"] for p in query.recentProgress
    }
    trigger_ms = [float(durations[r["batch_id"]]) for r in timed if r["batch_id"] in durations]
    tick_ms = [r["tick_ms"] for r in timed if "tick_ms" in r]
    errors = sum(1 for r in timed if r.get("error"))

    checked, mismatched, captured = _check(ctx, analyzer, cap, sched)
    if checked == 0:
        mismatched += 1  # nothing retained to check is itself a failure
    from streaminglens_spark.streaming.live import detach
    from streaminglens_spark.streaming.scheduler import detach_scheduler

    detach(spark, cap)
    detach_scheduler(spark, sched)

    if ctx.trace:
        _trace_layers(ctx, monitor, timed, provider_ms, analyzer, sched, reporter, captured)
    else:
        ctx.e2e.update(
            {
                "call_ms_p50": median(tick_ms),
                "op_ms_p50": median(trigger_ms),
            }
        )
    return {
        "attempted": len(timed) + max(checked, 1),
        "failed": errors + mismatched,
        "correct": mismatched == 0 and not monitor.errors,
    }


def _prewarm(ctx) -> None:
    """Run the analysis chain once over a small derived telemetry, so the
    stream's first ticks do not pay the cold-JVM cost (which can exceed
    ``maxAnalysisTimeSeconds`` and trip the lens' retry shutdown)."""
    from streaminglens_spark import StreamingLens
    from streaminglens_spark.operators.pipeline import results_table
    from streaminglens_spark.sources.loaders import load_table

    sf_dir = str(ctx.work / "inputs" / "live-prewarm")
    write_table(seeded_events(ctx.seed).slice(0, PREWARM_EVENTS), sf_dir, "events")
    results_table(StreamingLens(ctx.spark).derive(load_table(ctx.spark, sf_dir, "events"))).collect()


def _derive(ctx) -> None:
    """Telemetry derivation from a seeded sf0.1 ``events`` table: the
    derived tables materialized (cached) inside ``telemetry.derive``."""
    from streaminglens_spark import StreamingLens
    from streaminglens_spark.sources.loaders import load_table

    from .layers import materialize_telemetry, release_telemetry

    sf_dir = str(ctx.work / "inputs" / "events")
    write_table(seeded_events(ctx.seed), sf_dir, "events")
    spans = ctx.spans
    with spans.span("telemetry.derive"):
        with spans.span("telemetry.derive.build"):
            t = StreamingLens(ctx.spark).derive(load_table(ctx.spark, sf_dir, "events"))
        with spans.span("telemetry.derive.action"):
            materialize_telemetry(t)
    release_telemetry(t)


def _trace_layers(ctx, monitor, timed, provider_ms, analyzer, sched, reporter, captured) -> None:
    from .layers import materialize_telemetry, operator_sweep, release_telemetry

    materialize_telemetry(captured)
    rows = operator_sweep(ctx.spans, captured, analyzer.config.expected_micro_batch_sla_millis)
    release_telemetry(captured)
    _derive(ctx)
    ctx.finish_trace(rows, pipeline_calls=ctx.spans.named("operators.pipeline"))
    attr, spans = ctx.attribution, ctx.spans
    derive = spans.named("telemetry.derive")[0]
    ctx.layer["telemetry.derive.build_ms"] = spans.named("telemetry.derive.build")[0]["ms"]
    ctx.layer["telemetry.derive.action_ms"] = spans.named("telemetry.derive.action")[0]["ms"]
    ctx.layer["telemetry.derive.jobs"] = attr.stats(derive)["jobs"]
    ticks = spans.named("streaming.live.trigger")
    per_tick = []
    for trig in ticks:
        body = [b for b in spans.rows if b["parent"] == trig["id"] and b["name"] == "user.body"]
        s = attr.stats(trig)
        b = attr.stats(body[0]) if body else {"jobs": 0, "tasks": 0}
        per_tick.append((s["jobs"] - b["jobs"], s["tasks"] - b["tasks"]))
    bare = [r["body_ms"] for r in monitor.triggers if not r["monitored"]][-BARE_TRIGGERS:]
    monitored = [r["body_ms"] for r in timed]
    untraced = [r["wall_ms"] for r in monitor.triggers[monitor.untraced_from:] if not r["traced"]]
    traced = [r["wall_ms"] for r in timed]
    analyzed = sum(r.get("new_results", 0) for r in timed)
    present = sum(len(p[3]) for p in monitor.provided)
    jobs, stages, tasks, _ = sched.snapshot_rows()
    ctx.layer.update(
        {
            "streaming.live.jobs_per_tick": median([p[0] for p in per_tick]),
            "streaming.live.tasks_per_tick": median([p[1] for p in per_tick]),
            "streaming.live.provider_ms_p50": median(provider_ms),
            "streaming.live.telemetry_rows_per_tick": median([sum(p[:3]) for p in monitor.provided]),
            "streaming.live.useful_ratio": analyzed / present if present else 0.0,
            "streaming.live.reports_sent": len(reporter.events),
            "streaming.live.error_ticks": sum(1 for r in timed if r.get("error")),
            "streaming.live.retries": analyzer.retries,
            "streaming.scheduler.capture_overhead_ms": median(monitored) - median(bare),
            "streaming.scheduler.captured_jobs": len(jobs),
            "streaming.scheduler.captured_stages": len(stages),
            "streaming.scheduler.captured_tasks": len(tasks),
            "streaming.scheduler.dropped_jobs": sched.dropped_jobs,
            "trace.overhead_ms": median(traced) - median(untraced),
            "trace.overhead_ratio": (median(traced) - median(untraced)) / median(untraced),
        }
    )
