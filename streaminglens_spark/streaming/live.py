"""Live mode: the engine's Structured Streaming surface.

Reference wiring (EP1-EP3): two listeners feed driver-local maps and a
per-query daemon thread analyzes every progress event
(``listener/QueryProgressListener.scala:34-89``,
``QueryInsightsManager.scala:140-192``).

Engine wiring:

- ``ProgressCapture`` is a ``StreamingQueryListener`` (the public PySpark
  listener API) that captures each ``StreamingQueryProgress`` into rows
  matching the ``progress`` telemetry schema.
- ``LiveAnalyzer.tick()`` -- called per trigger (e.g. from ``foreachBatch``)
  or on a schedule -- analyzes the captured rows on the driver, as the
  reference does, with ``operators/rows.results_rows``: the batch
  pipeline's per-batch steps (A1 bounds -> A10 classification), equal row
  for row to ``results_table``, with no Spark job on the monitored app's
  scheduler.  It honors the reference's control-plane semantics:
    * A2 min-batches gate + A3 analysis-interval gate,
    * A19 results ring buffer (``maxResultsRetention``),
    * A18 progress retention purge,
    * U2 retry-then-self-shutdown (``maxRetries``),
    * U3 timeout-bounded analysis -> ERROR(-1) result
      (``analyzer/StreamingQueryAnalyzer.scala:69-98``),
    * U1 reporters: pre-instantiated duck-typed objects AND class-name
      loading with started/insights/terminated events
      (``helper/StreamingLensReportingHelper.scala:48-97``).

Each tick analyzes ONLY the newly gated-in batches' progress slice (the
full captured history is NOT re-analyzed): per-batch results are
independent in the pipeline, so the incremental slice produces identical
rows at per-tick cost bounded by new batches, not retention.

Job/stage/task telemetry in live mode comes from the scheduler-listener
bridge (``streaming/scheduler.py``, read as rows) or any injected
``telemetry_provider`` (its DataFrames collected to rows -- the one tick
path that runs Spark jobs); without either, critical time degrades
gracefully to the batch running time (no job spans to subtract).
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import StreamingLensConfig
from ..operators.rows import batch_running_ms, results_rows
from .scheduler import (
    JOBS_SCHEMA,
    STAGES_SCHEMA,
    TASKS_SCHEMA,
    SchedulerTelemetryProvider,
    scheduler_telemetry_provider,
)

try:  # the listener API needs the JVM bridge; guard for doc builds
    from pyspark.sql.streaming import StreamingQueryListener
except Exception:  # pragma: no cover
    StreamingQueryListener = object  # type: ignore

logger = logging.getLogger("streaminglens_spark")

PROGRESS_SCHEMA = (
    "query_id string, query_name string, run_id string, batch_id bigint,"
    " ts_ms bigint, num_input_rows bigint, processed_rps double,"
    " sources array<string>, sink string"
)


def _iso_to_ms(ts: str) -> int:
    """A22 -- ISO-8601 'yyyy-MM-ddTHH:mm:ss.SSSZ' -> epoch millis
    (reference ``analyzer/StreamingQueryAnalyzer.scala:43-44,138-141``)."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _fmt_ms(ms: int) -> str:
    """A21 -- '%02ds %03dms' (``QueryInsightsManager.scala:228-232``)."""
    return "%02ds %03dms" % (ms // 1000, ms % 1000)


def _insight_block(r: dict) -> str:
    """A24 -- the boxed driver-log insight (``QueryInsightsManager.scala:206-227``,
    'Inisights' typo included); same template as ``reporting.insight_text``."""
    return "\n".join(
        [
            f" {'|' * 18} StreamingLens Inisights {'|' * 25}",
            f" BatchId: {r['batch_id']}",
            f" Analysis Time: {_fmt_ms(r['analysis_ms'])}",
            f" Expected Micro Batch SLA: {_fmt_ms(r['sla_ms'])}",
            f" Batch Running Time: {_fmt_ms(r['batch_running_ms'])}",
            f" Critical Time: {_fmt_ms(r['critical_ms'])}",
            f" Streaming Query State: {r['state']}",
            f" {'|' * 68}",
        ]
    )


class ProgressCapture(StreamingQueryListener):
    """S12/S13/S14 -- capture per-query progress snapshots
    (reference ``listener/QueryProgressListener.scala:34-89``,
    ``QueryInsightsManager.scala:198-204``)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows: list[tuple] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        row = (
            str(p.id),
            p.name,
            str(p.runId),
            int(p.batchId),
            _iso_to_ms(p.timestamp),
            int(p.numInputRows),
            float(p.processedRowsPerSecond or 0.0),
            [s.description for s in p.sources],
            p.sink.description,
        )
        with self._lock:
            self.rows.append(row)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> list[tuple]:
        with self._lock:
            return list(self.rows)

    def purge_below(self, query_id: str, batch_id: int) -> None:
        """A18 -- evict progress rows of purged batches."""
        with self._lock:
            self.rows = [
                r for r in self.rows if not (r[0] == query_id and r[3] <= batch_id)
            ]


class _ReportingState:
    """Per-query reporter bookkeeping (the engine's ReportingHelper,
    ``helper/StreamingLensReportingHelper.scala:38-46``): event counter,
    A16 last-event time, last-reported batch watermark, and the reporter
    instances serving this query."""

    def __init__(self, reporters: list, now_ms: int):
        self.reporters = reporters
        self.event_id = 0
        self.last_event_time_ms = now_ms
        self.last_reported_batch = -1


class LiveAnalyzer:
    """Per-trigger analysis driver with the reference's control-plane
    semantics (gates, retention, retries, timeout, reporters)."""

    def __init__(
        self,
        spark: SparkSession,
        capture: ProgressCapture,
        config: StreamingLensConfig | None = None,
        telemetry_provider: Callable[[DataFrame], "object | None"] | None = None,
        reporters: list | None = None,
        clock: Callable[[], float] = time.time,
        scheduler_capture=None,
        sla_overrides: dict[str, int] | None = None,
        gauge_sinks: list | None = None,
    ) -> None:
        self.spark = spark
        self.capture = capture
        self.config = config or StreamingLensConfig()
        self.scheduler_capture = scheduler_capture
        # live view of the per-query SLA override map (keyed name ?? id,
        # StreamingAppTracker.scala:41,76-91): the API passes its own dict by
        # reference so updateExpectedMicroBatchSLA takes effect on the next
        # tick, like the reference's tracker-backed getSLA
        self.sla_overrides = sla_overrides if sla_overrides is not None else {}
        # A20 publication: sinks receiving every gauge after each successful
        # tick -- the engine's pluggable stand-in for the reference's
        # Dropwizard source registration (StreamingLensMetricsReporter.scala)
        self.gauge_sinks: list = list(gauge_sinks or [])
        self._warned_sinks: set[int] = set()  # sinks already warned about
        # gauge sources maintained by companion operators (e.g. the
        # streaming near-dedup verdict-quality monitor) -- merged into
        # every gauges() snapshot so registered sinks see them too
        self.extra_gauges: dict[str, dict[str, int]] = {}
        if telemetry_provider is None and scheduler_capture is not None:
            telemetry_provider = scheduler_telemetry_provider(spark, scheduler_capture)
        self.telemetry_provider = telemetry_provider
        self.reporters = reporters or []  # pre-instantiated, shared across queries
        self.clock = clock
        self.results: list[dict] = []  # ring buffer (A19)
        self.retries = 0  # U2
        self.stopped = False
        self.last_error_results: list[dict] = []  # U3 ERROR rows of the last failure
        self.last_tick_analyzed_rows = 0  # progress rows analyzed by the last tick
        self._last_analyzed_batch: dict[str, int] = {}  # A2, per query
        self._last_analyzed_time_ms = 0  # A3 (0 => first tick analyzes)
        self._last_purged_batch: dict[str, int] = {}  # A18
        self._reporting: dict[str, _ReportingState] = {}  # U1, per query

    # -- plumbing ------------------------------------------------------
    def progress_df(self) -> DataFrame:
        return self.spark.createDataFrame(self.capture.snapshot(), PROGRESS_SCHEMA)

    def _gated_rows(self) -> list[tuple]:
        """A2 gate: progress rows of batches newer than the per-query
        watermark by >= minBatches."""
        out = []
        for r in self.capture.snapshot():
            qid, bid = r[0], r[3]
            if bid - self._last_analyzed_batch.get(qid, -1) >= self.config.min_batches:
                out.append(r)
        return out

    def _analyze_once(self) -> list[dict] | None:
        """One gated analysis pass over the NEWLY GATED batches' progress
        rows only; returns new results rows (dicts).  Per-batch results are
        independent, so the slice yields the rows a full re-analysis would,
        at a per-tick cost bounded by new batches (not retained history).

        The analysis is ``rows.results_rows`` on the driver, which reads
        only the jobs in the gated batches' ``[min, max]`` job-id ranges
        and those jobs' stages and tasks.  Scheduler-backed and
        progress-only ticks build no DataFrame and submit no Spark job; a
        custom ``telemetry_provider``'s tables are collected to rows."""
        if not self.capture.snapshot():
            return None  # no-op: nothing captured yet
        gated = self._gated_rows()
        if not gated:
            return None  # no-op: every batch gated out
        self.last_tick_analyzed_rows = len(gated)

        provider = self.telemetry_provider
        if isinstance(provider, SchedulerTelemetryProvider):
            jobs, stages, tasks, _ = provider.capture.snapshot_rows()
            sla_config: list = []
        elif provider is not None:
            jobs, stages, tasks, sla_config = self._provider_rows(gated)
        else:
            jobs = stages = tasks = sla_config = []  # progress-only
        # runtime per-query overrides win over the provider's sla_config
        # (same anti-join + append as batch-mode StreamingLens.derive)
        sla_config = [r for r in sla_config if r[0] not in self.sla_overrides]
        sla_config += self.sla_overrides.items()
        return results_rows(
            gated, jobs, stages, tasks, sla_config,
            default_sla_ms=self.config.expected_micro_batch_sla_millis,
        )

    def _provider_rows(self, gated: list[tuple]) -> tuple[list, list, list, list]:
        """Collect a custom provider's job/stage/task/sla tables to rows in
        the capture's column order (the only tick path that runs Spark
        jobs).  The provider gets the gated progress slice as a DataFrame;
        None means progress-only."""
        t = self.telemetry_provider(self.spark.createDataFrame(gated, PROGRESS_SCHEMA))
        if t is None:
            return [], [], [], []
        tasks = t.tasks
        if "job_id" not in tasks.columns:
            # tasks without a job key: attribute via the stage->job index (S2)
            tasks = tasks.join(t.stages.select("stage_id", "job_id"), "stage_id")

        def rows(df: DataFrame, schema: str) -> list[tuple]:
            cols = [c.split()[0] for c in schema.split(",")]
            return [tuple(r) for r in df.select(*cols).collect()]

        return (
            rows(t.jobs, JOBS_SCHEMA),
            rows(t.stages, STAGES_SCHEMA),
            rows(tasks, TASKS_SCHEMA),
            rows(t.sla_config, "query_key string, sla_ms bigint"),
        )

    # -- the per-trigger entry point ----------------------------------
    def tick(self) -> list[dict]:
        """Run one gated, timeout-bounded, retry-tracked analysis pass
        (the engine's ``analysisTask``, ``QueryInsightsManager.scala:149-178``)."""
        if self.stopped:
            return []
        now_ms = int(self.clock() * 1000)
        # A3 interval gate
        if now_ms - self._last_analyzed_time_ms < self.config.analysis_interval_minutes * 60_000:
            return []
        try:
            # U3 -- timeout-bounded analysis on a DAEMON thread (a
            # ThreadPoolExecutor worker is non-daemon and joined at
            # interpreter exit: one permanently-stuck collect would pile up
            # leaked threads and block process shutdown).  On timeout the
            # in-flight Spark jobs are cancelled by job group, so the worker
            # actually dies instead of running the collect forever.
            group = f"streaminglens-tick-{now_ms}"
            box: dict = {}
            done = threading.Event()

            def _work() -> None:
                try:
                    try:
                        self.spark.sparkContext.setJobGroup(
                            group, "streaminglens analysis", interruptOnCancel=True
                        )
                    except Exception:
                        pass  # job-group tagging is best-effort
                    box["value"] = self._analyze_once()
                except BaseException as ex:  # noqa: BLE001 -- surfaced below
                    box["error"] = ex
                finally:
                    done.set()

            threading.Thread(
                target=_work, daemon=True, name="streaminglens-analysis"
            ).start()
            if not done.wait(timeout=self.config.max_analysis_time_seconds):
                try:
                    self.spark.sparkContext.cancelJobGroup(group)
                except Exception:
                    pass
                raise TimeoutError("analysis exceeded maxAnalysisTimeSeconds")
            if "error" in box:
                raise box["error"]
            new_results = box["value"]
            self.retries = 0  # reset on success (U2)
            if new_results is None:
                # no-op tick (no progress captured / nothing newly gated in):
                # does NOT consume the A3 interval -- the reference only ever
                # analyzes on a progress event, so an idle tick must not
                # starve the next real one
                return []
        except Exception:
            self._on_analysis_error(now_ms)
            return []

        self._last_analyzed_time_ms = now_ms
        if self.config.should_log_results:
            for r in new_results:
                logger.info(_insight_block(r))
        for r in new_results:
            if r["state_id"] != 0:
                self._last_analyzed_batch[r["query_id"]] = max(
                    self._last_analyzed_batch.get(r["query_id"], -1), r["batch_id"]
                )
        self.results.extend(new_results)

        # A19 ring buffer per query
        by_query: dict[str, list[dict]] = {}
        for r in sorted(self.results, key=lambda x: (x["query_id"], x["batch_id"])):
            by_query.setdefault(r["query_id"], []).append(r)
        self.results = [
            r
            for rows in by_query.values()
            for r in rows[-self.config.max_results_retention:]
        ]

        # A18 purge: progress + scheduler retention per query
        for qid, rows in by_query.items():
            if not rows:
                continue
            latest = rows[-1]
            if latest["batch_running_ms"] == 0:
                continue  # zero-row batches never purge (QueryInsightsManager:235)
            last_purged = self._last_purged_batch.get(qid, -1)
            if latest["batch_id"] - last_purged >= self.config.max_batches_retention:
                self.capture.purge_below(qid, latest["batch_id"])
                if self.scheduler_capture is not None:
                    self.scheduler_capture.purge_below(qid, latest["batch_id"])
                self._last_purged_batch[qid] = latest["batch_id"]

        self._report_if_necessary(now_ms, {r["query_id"] for r in new_results})
        self._publish_gauges()
        return new_results

    # -- U3: analysis failure -> ERROR result + retry accounting -------
    def _on_analysis_error(self, now_ms: int) -> None:
        """Timeout/error path (``analyzer/StreamingQueryAnalyzer.scala:84-98``
        + ``QueryInsightsManager.scala:180-192``): render an ERROR(-1) result
        for each query's latest batch -- batch running time is computable
        without analysis, critical time is 0 -- log it, consume the A3
        interval, and count the retry (at maxRetries: self-shutdown).  Like
        the reference, ERROR rows are NOT enqueued in the results buffer
        (the throw at ``QueryInsightsManager.scala:186-188`` precedes the
        enqueue), so they never join the A13 discounted average here; the
        quirk's (0,1) bucket gap stays pinned by the batch-mode oracle."""
        latest: dict[str, tuple] = {}
        for r in self.capture.snapshot():
            if r[0] not in latest or r[3] >= latest[r[0]][3]:
                latest[r[0]] = r
        err_rows = []
        for qid, r in latest.items():
            brt = batch_running_ms(r[4], r[5], r[6]) or 0
            err_rows.append(
                {
                    "query_id": qid,
                    "batch_id": r[3],
                    "analysis_ms": 0,
                    # the reference's ERROR result resolves the SLA through
                    # the tracker, so overrides apply here too (key name??id)
                    "sla_ms": self.sla_overrides.get(
                        r[1] or qid, self.config.expected_micro_batch_sla_millis
                    ),
                    "batch_running_ms": brt,
                    "critical_ms": 0,
                    "state_id": -1,
                    "state": "ERROR",
                }
            )
        self.last_error_results = err_rows
        if self.config.should_log_results:
            for r in err_rows:
                logger.warning(_insight_block(r))
        self._last_analyzed_time_ms = now_ms  # QueryInsightsManager.scala:182
        self.retries += 1  # U2
        if self.retries >= self.config.max_retries:
            self.stop()

    # -- U1: reporters -------------------------------------------------
    def _reporting_state(self, qid: str, now_ms: int) -> _ReportingState:
        st = self._reporting.get(qid)
        if st is not None:
            return st
        reps = list(self.reporters)
        if self.config.enable_reporting and self.config.reporter_class_name:
            # class-name loading, one instance per query like the reference's
            # per-query helper (StreamingLensReportingHelper.scala:48-64);
            # init failure is fail-open (QueryInsightsManager.scala:120-133)
            try:
                from .reporters import load_reporter

                reps.append(
                    load_reporter(
                        self.config.reporter_class_name,
                        self.config.reporting_options,
                        qid,
                    )
                )
            except Exception as e:
                logger.warning("Error in registering StreamingLens Events Reporter. %s", e)
        # A16 anchor: the reference constructs the per-query helper (and its
        # lastEventTimeMillis) when the query registers, so anchor at the
        # first time THIS query is seen -- a query starting long after
        # attach_live still waits a full reporting interval from its own
        # start (StreamingLensReportingHelper.scala:42)
        st = _ReportingState(reps, now_ms)
        self._reporting[qid] = st
        info = json.dumps(
            {"queryId": qid, "eventTimeMillis": now_ms}, separators=(",", ":")
        )
        for rep in reps:
            try:
                send = getattr(rep, "send_started_event", None)
                if send:
                    send(info)
            except Exception:
                pass  # fail-open (sendEvent catch)
        return st

    def _report_if_necessary(self, now_ms: int, query_ids: set[str]) -> None:
        """A16-gated aggregated-state insights event per query
        (``helper/StreamingLensReportingHelper.scala:66-101``): discounted
        A13 fold over buffered results newer than lastReportedBatch, A14
        bucket text, JSON with an incrementing eventId.  The (0,1) bucket
        gap emits no event and advances nothing (the reference's swallowed
        MatchError).

        Cost note: one tiny state_buckets job per due query.  Bounded by the
        A16 gate (default: one event per query per HOUR), so this is not on
        the per-trigger hot path; batching all due queries into one pass
        would need a per-query cutoff join for marginal gain."""
        interval_ms = self.config.reporting_interval_minutes * 60_000
        due = [
            qid
            for qid in sorted(query_ids)
            if (st := self._reporting_state(qid, now_ms))
            and now_ms - st.last_event_time_ms >= interval_ms
            and st.reporters
        ]
        if not due:
            return
        from ..operators.reporting import latest_sources, state_buckets

        progress = self.progress_df()
        meta = {r["query_id"]: r for r in latest_sources(progress).collect()}
        from pyspark.sql import functions as F

        for qid in due:
            st = self._reporting[qid]
            # ALL buffered rows for the query: the lastReportedBatch cutoff
            # applies inside the discounted fold only, while buffer
            # membership drives the 0.0 -> "NO NEW BATCHES" fallback
            # (StreamingLensReportingHelper.scala:180-197)
            rows = [r for r in self.results if r["query_id"] == qid]
            results_df = self.spark.createDataFrame(
                rows or [],
                "query_id string, batch_id bigint, analysis_ms bigint, sla_ms bigint,"
                " batch_running_ms bigint, critical_ms bigint, state_id int, state string",
            )
            bucket = (
                state_buckets(results_df, progress, st.last_reported_batch)
                .filter(F.col("query_id") == qid)
                .collect()
            )
            if not bucket:
                continue  # (0,1) bucket gap: no event, no advance
            b = bucket[0]
            m = meta.get(qid)
            info = json.dumps(
                {
                    "eventId": st.event_id,
                    "name": m["query_name"] if m else None,
                    "runId": m["run_id"] if m else None,
                    "eventTimeMillis": now_ms,
                    "state": b["state"],
                    "displayText": b["recommendation"],
                },
                separators=(",", ":"),
            )
            for rep in st.reporters:
                try:
                    rep.send_insights_event(info)
                except Exception:
                    pass  # fail-open like the reference (sendEvent catch)
            st.event_id += 1
            st.last_event_time_ms = now_ms
            buffered = [r["batch_id"] for r in self.results if r["query_id"] == qid]
            if buffered:
                st.last_reported_batch = max(buffered)

    def gauges(self) -> dict[str, dict[str, int]]:
        """A20 -- live latest-result gauges, keyed like the reference's
        Dropwizard source name ``spark.streaming.<queryName ?? queryId>``
        (``metrics/StreamingLensMetricsReporter.scala:35,41-70``): the newest
        buffered result's five metrics per query, as a plain dict any
        metrics system (StatsD, Prometheus client, Spark custom source) can
        publish verbatim.  Batch-mode equivalent: ``reporting.last_gauges``."""
        from ..operators.reporting import GAUGES

        names: dict[str, str | None] = {}
        for r in self.capture.snapshot():
            names[r[0]] = r[1]  # latest progress row wins, like the reference
        last: dict[str, dict] = {}
        for r in sorted(self.results, key=lambda x: (x["query_id"], x["batch_id"])):
            last[r["query_id"]] = r
        out = {
            "spark.streaming." + (names.get(qid) or qid): {
                gauge: int(r[col]) for gauge, col in GAUGES
            }
            for qid, r in last.items()
        }
        if self.scheduler_capture is not None:
            # bridge health: how many plain (non-streaming) jobs the capture
            # filtered out -- a live user can see the filter working instead
            # of wondering where their jobs went (VERDICT r2 ask #8)
            out["spark.streaming.schedulerBridge"] = {
                "droppedJobs": int(getattr(self.scheduler_capture, "dropped_jobs", 0))
            }
        for source, vals in self.extra_gauges.items():
            out[source] = dict(vals)
        return out

    def set_extra_gauges(self, source_name: str, gauges: dict[str, int]) -> None:
        """Publish a companion operator's gauge source (e.g. per-batch
        near-dedup verdict quality) into this analyzer's snapshots; the
        next tick pushes it to every registered sink."""
        self.extra_gauges[source_name] = {k: int(v) for k, v in gauges.items()}

    # -- live advisor surface (r14) ------------------------------------
    def sla_recommendations(self) -> DataFrame:
        """LIVE ``q_sla_recommend``: the data-driven SLA recommendation
        (exact integer p50/p95/p99 + ceiling-rounded p99) computed over
        THIS analyzer's captured progress, no telemetry export needed --
        the reference ASKS the user for ``expectedMicroBatchSLAMillis``
        and the repo's batch advisor derives it from history; this
        closes the loop on the live path, where the history already
        sits in ``ProgressCapture``.  Bit-equal to the batch operator
        over the same rows by construction (same function, same
        projection).  Lazy; one tiny groupBy per call."""
        from ..operators.analysis import recommend_sla

        return recommend_sla(self.progress_df())

    def publish_sla_recommendations(self) -> dict[str, int]:
        """Collect the per-query recommendation (O(queries) rows) and
        publish it as the ``spark.streaming.slaAdvisor`` gauge source --
        keyed ``<queryName ?? queryId>`` like the A20 gauges, values
        ``recommended_sla_ms`` -- so the next tick pushes it through
        every registered sink.  Returns the published mapping.  The
        caller picks the cadence (SLA advice moves at batch-history
        speed, not tick speed); an empty capture publishes nothing and
        returns {}."""
        rows = self.sla_recommendations().collect()
        if not rows:
            return {}
        names: dict[str, str | None] = {}
        for r in self.capture.snapshot():
            names[r[0]] = r[1]
        out = {
            (names.get(r["query_id"]) or r["query_id"]): int(
                r["recommended_sla_ms"]
            )
            for r in rows
        }
        self.set_extra_gauges("spark.streaming.slaAdvisor", out)
        return out

    def register_gauge_sink(self, sink) -> None:
        """Register a gauge sink: either a callable ``(source_name, gauges:
        dict[str, int])`` or an object with a ``publish(source_name,
        gauges)`` method (StatsD/Prometheus adapters are one-liners)."""
        self.gauge_sinks.append(sink)

    def _publish_gauges(self) -> None:
        """Push the latest gauges to every registered sink, fail-open per
        sink like the reporter path."""
        if not self.gauge_sinks:
            return
        snapshot = self.gauges()
        for sink in self.gauge_sinks:
            pub = getattr(sink, "publish", None) or sink
            for source_name, vals in snapshot.items():
                try:
                    pub(source_name, dict(vals))
                except Exception as e:
                    # a broken metrics sink must never fail the tick, but a
                    # permanently broken one must not be invisible either:
                    # warn once per sink (r3 advice), then stay quiet
                    if id(sink) not in self._warned_sinks:
                        self._warned_sinks.add(id(sink))
                        logger.warning(
                            "gauge sink %r failed (suppressing further "
                            "warnings for this sink): %s",
                            sink,
                            e,
                        )

    def stop(self) -> None:
        """Self-shutdown (U2) / user stop: emit terminated events once and
        go quiet (``QueryInsightsManager.scala:251-268``)."""
        if self.stopped:
            return
        self.stopped = True
        now_ms = int(self.clock() * 1000)
        for qid, st in self._reporting.items():
            info = json.dumps(
                {"queryId": qid, "eventTimeMillis": now_ms}, separators=(",", ":")
            )
            for rep in st.reporters:
                try:
                    send = getattr(rep, "send_terminated_event", None)
                    if send:
                        send(info)
                except Exception:
                    pass


def foreach_batch_monitor(analyzer: LiveAnalyzer, user_fn=None):
    """Wrap a user's ``foreachBatch`` function with per-trigger analysis --
    the engine's equivalent of the reference's "analysis runs after every
    progress event" wiring (EP3), but on Spark's own micro-batch callback:

        cap = attach(spark)
        analyzer = LiveAnalyzer(spark, cap)
        (df.writeStream
           .foreachBatch(foreach_batch_monitor(analyzer, my_sink_fn))
           .start())

    The user function runs first (the actual sink work); the gated analysis
    tick follows.  Analysis failures never fail the batch (fail-open, like
    the reference's listener guards) -- they feed the U2 retry counter
    inside ``tick`` instead.
    """

    def _fn(batch_df, batch_id: int) -> None:
        if user_fn is not None:
            user_fn(batch_df, batch_id)
        try:
            analyzer.tick()
        except Exception:
            pass

    return _fn


def attach(spark: SparkSession) -> ProgressCapture:
    """Register a ProgressCapture on the session's stream manager
    (engine EP1; reference ``StreamingLens.scala:59-79``)."""
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    return cap


def detach(spark: SparkSession, cap: ProgressCapture) -> None:
    spark.streams.removeListener(cap)
