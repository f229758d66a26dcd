"""Live scheduler-telemetry bridge: real job/stage/task/executor capture.

Reference S1-S11 are a ``SparkListener`` filling driver-local maps
(``listener/StreamingAppListener.scala:39-217`` feeding
``StreamingAppTracker.scala:33-42``).  PySpark has no built-in SparkListener
surface, so the engine registers a py4j callback object implementing
``org.apache.spark.scheduler.SparkListenerInterface`` on the context's
listener bus -- the same public event stream the reference consumes -- and
materializes the captured rows as the four telemetry DataFrames the batch
pipeline already analyzes (``telemetry.Telemetry``).

Scale note: like the reference, this is *control-plane* state on the driver
-- it grows with scheduler events (jobs/stages/tasks of the monitored app),
not with data volume.  ``purge_below`` keeps it bounded exactly like the
reference's retention purge (A18).  Like the reference, a live tick
analyzes the captured rows on the driver (``operators/rows.py``), so the
lens submits no Spark job of its own to the monitored app's scheduler; the
same rows also convert to the telemetry DataFrames the batch pipeline
analyzes (``SchedulerTelemetryProvider``).

Event handlers are fail-open (S15): a capture error must never take down the
listener bus (reference guards every handler the same way,
``listener/StreamingAppListener.scala:44-52``).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

JOBS_SCHEMA = (
    "query_id string, batch_id bigint, job_id bigint, sql_exec_id bigint,"
    " start_ms bigint, end_ms bigint, description string"
)
STAGES_SCHEMA = (
    "stage_id bigint, job_id bigint, parent_ids array<bigint>,"
    " num_tasks bigint, start_ms bigint, end_ms bigint"
)
TASKS_SCHEMA = (
    "task_id bigint, stage_id bigint, job_id bigint, executor_id string,"
    " launch_ms bigint, finish_ms bigint, duration_ms bigint, failed boolean"
)
EXECUTORS_SCHEMA = (
    "executor_id string, host string, cores bigint, start_ms bigint, end_ms bigint"
)


def parse_batch_description(desc: str | None) -> tuple[str, str, int] | None:
    """S4 -- parse ``spark.job.description`` into (query_id, run_id, batch_id).

    Structured Streaming sets a 4-line (named query) or 3-line description
    ``[name\\n]id = <uuid>\\nrunId = <uuid>\\nbatch = <n>``; the reference
    parses the same string split on ``<br/>`` (the UI encoding,
    ``common/BatchDescription.scala:28-39``).  Accept both separators.
    Returns None for non-streaming jobs and for ``batch = init`` (the
    pre-batch planning jobs the reference also drops).
    """
    if not desc:
        return None
    parts = [p.strip() for p in desc.replace("\n", "<br/>").split("<br/>") if p.strip()]
    if len(parts) < 3:
        return None
    tail = parts[-3:]
    if not (
        tail[0].startswith("id = ")
        and tail[1].startswith("runId = ")
        and tail[2].startswith("batch = ")
    ):
        return None
    try:
        batch_id = int(tail[2][len("batch = "):])
    except ValueError:
        return None  # 'batch = init'
    return tail[0][len("id = "):], tail[1][len("runId = "):], batch_id


class SchedulerCapture:
    """py4j implementation of ``SparkListenerInterface`` capturing the
    S1-S11 surface live (engine equivalent of
    ``listener/StreamingAppListener.scala:39-217``):

    - S1/S3/S5: job spans + sql-exec-id, keyed to (query_id, batch_id) by the
      S4 description parse; non-streaming jobs are dropped (counted).
    - S2/S9/S10: stage->job index from ``jobStart.stageInfos`` (first job
      wins, like the reference's putIfAbsent) + stage spans on completion.
    - S8 inputs: one row per finished task.
    - S6/S11: executor lifecycle with NULL end for live executors.
    """

    class Java:  # py4j proxy contract
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._jobs: dict[int, dict] = {}
        self._stage_job: dict[int, int] = {}
        self._stage_meta: dict[int, tuple[list[int], int]] = {}  # parents, num_tasks
        self._stage_span: dict[int, tuple[int | None, int | None]] = {}
        self._tasks: list[tuple] = []
        self._executors: dict[str, dict] = {}
        self.dropped_jobs = 0  # plain (non-streaming) jobs skipped
        self.enabled = True

    # SparkListenerInterface declares ~30 callbacks; anything not captured
    # below is a no-op (py4j dispatches by name, so a callable suffices).
    def __getattr__(self, name: str):
        if name.startswith("on"):
            return lambda *a, **k: None
        raise AttributeError(name)

    # -- event handlers (fail-open, S15) ------------------------------
    def onJobStart(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            props = e.properties()
            desc = props.getProperty("spark.job.description") if props is not None else None
            parsed = parse_batch_description(desc)
            if parsed is None:
                with self._lock:
                    self.dropped_jobs += 1
                return
            query_id, _run_id, batch_id = parsed
            raw_exec = (
                props.getProperty("spark.sql.execution.id") if props is not None else None
            )
            sql_exec_id = int(raw_exec) if raw_exec is not None else None
            job_id = int(e.jobId())
            infos = e.stageInfos()
            stage_rows = []
            for i in range(infos.size()):
                si = infos.apply(i)
                pids = si.parentIds()
                stage_rows.append(
                    (
                        int(si.stageId()),
                        [int(pids.apply(k)) for k in range(pids.size())],
                        int(si.numTasks()),
                    )
                )
            with self._lock:
                self._jobs[job_id] = {
                    "query_id": query_id,
                    "batch_id": batch_id,
                    "sql_exec_id": sql_exec_id,
                    "start_ms": int(e.time()),
                    "end_ms": None,
                    "description": desc,
                }
                for sid, parents, num_tasks in stage_rows:
                    self._stage_job.setdefault(sid, job_id)  # S2 first-wins
                    self._stage_meta[sid] = (parents, num_tasks)
        except Exception:
            pass

    def onJobEnd(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            job_id = int(e.jobId())
            with self._lock:
                if job_id in self._jobs:
                    self._jobs[job_id]["end_ms"] = int(e.time())
        except Exception:
            pass

    def onStageCompleted(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            si = e.stageInfo()
            sid = int(si.stageId())
            sub, comp = si.submissionTime(), si.completionTime()
            start = int(sub.get()) if sub.isDefined() else None
            end = int(comp.get()) if comp.isDefined() else None
            with self._lock:
                if sid in self._stage_job:
                    self._stage_span[sid] = (start, end)
        except Exception:
            pass

    def onTaskEnd(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            ti = e.taskInfo()
            if ti is None:
                return
            sid = int(e.stageId())
            launch, finish = int(ti.launchTime()), int(ti.finishTime())
            row_tail = (
                int(ti.taskId()),
                sid,
                str(ti.executorId()),
                launch,
                finish,
                max(finish - launch, 0),
                not bool(ti.successful()),
            )
            with self._lock:
                job_id = self._stage_job.get(sid)
                if job_id is None:
                    return  # task of an untracked (non-streaming) job
                t = row_tail
                self._tasks.append((t[0], t[1], job_id, t[2], t[3], t[4], t[5], t[6]))
        except Exception:
            pass

    def onExecutorAdded(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            info = e.executorInfo()
            with self._lock:
                self._executors[str(e.executorId())] = {
                    "host": str(info.executorHost()),
                    "cores": int(info.totalCores()),
                    "start_ms": int(e.time()),
                    "end_ms": None,
                }
        except Exception:
            pass

    def onExecutorRemoved(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        try:
            with self._lock:
                ex = self._executors.get(str(e.executorId()))
                if ex is not None:
                    ex["end_ms"] = int(e.time())
        except Exception:
            pass

    # -- local-mode seeding -------------------------------------------
    def seed_executor(
        self, executor_id: str, host: str, cores: int, start_ms: int
    ) -> None:
        """The local backend announces executor 'driver' before any listener
        can attach; seed it so A11/A12 see a live span (open end, S11)."""
        with self._lock:
            self._executors.setdefault(
                executor_id,
                {"host": host, "cores": cores, "start_ms": start_ms, "end_ms": None},
            )

    # -- snapshots -----------------------------------------------------
    def snapshot_rows(self) -> tuple[list, list, list, list]:
        """Rows for the four telemetry tables.  Only *finished* jobs and
        stages are emitted (the reference analyzes completed batches; open
        spans would poison islanding) -- except executors, whose open spans
        are part of the contract (A11 corrects them to batch end)."""
        with self._lock:
            jobs = [
                (
                    j["query_id"],
                    j["batch_id"],
                    jid,
                    j["sql_exec_id"],
                    j["start_ms"],
                    j["end_ms"],
                    j["description"],
                )
                for jid, j in self._jobs.items()
                if j["end_ms"] is not None
            ]
            stages = []
            for sid, (start, end) in self._stage_span.items():
                if start is None or end is None:
                    continue
                parents, num_tasks = self._stage_meta.get(sid, ([], 0))
                stages.append(
                    (sid, self._stage_job[sid], parents, num_tasks, start, end)
                )
            tasks = list(self._tasks)
            executors = [
                (eid, ex["host"], ex["cores"], ex["start_ms"], ex["end_ms"])
                for eid, ex in self._executors.items()
            ]
        return jobs, stages, tasks, executors

    def purge_below(self, query_id: str, batch_id: int) -> None:
        """A18 -- evict scheduler rows of purged batches (the reference's
        retention purge over its job/stage maps)."""
        with self._lock:
            drop = {
                jid
                for jid, j in self._jobs.items()
                if j["query_id"] == query_id and j["batch_id"] <= batch_id
            }
            if not drop:
                return
            self._jobs = {j: v for j, v in self._jobs.items() if j not in drop}
            dead_stages = {s for s, j in self._stage_job.items() if j in drop}
            self._stage_job = {
                s: j for s, j in self._stage_job.items() if j not in drop
            }
            self._stage_meta = {
                s: v for s, v in self._stage_meta.items() if s not in dead_stages
            }
            self._stage_span = {
                s: v for s, v in self._stage_span.items() if s not in dead_stages
            }
            self._tasks = [t for t in self._tasks if t[2] not in drop]


def _ensure_callback_server(spark: SparkSession) -> None:
    """Start the py4j callback server (JVM -> Python calls) once per gateway.
    PySpark ships the blessed bootstrap (``ensure_callback_server_started``,
    the one ``spark.streams.addListener`` uses); prefer it so we never poke
    py4j internals ourselves."""
    sc = spark.sparkContext
    gw = getattr(sc, "_gateway", None)
    if gw is None:
        raise RuntimeError(
            "scheduler capture needs the classic py4j gateway (not Spark Connect)"
        )
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(gw)


def attach_scheduler(spark: SparkSession) -> SchedulerCapture:
    """Register a SchedulerCapture on the context's listener bus (engine
    equivalent of ``StreamingLens.scala:59-79`` registering the app
    listener)."""
    _ensure_callback_server(spark)
    cap = SchedulerCapture()
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    if (sc.master or "").startswith("local"):
        cap.seed_executor(
            "driver", "localhost", sc.defaultParallelism, int(jsc.startTime())
        )
    jsc.addSparkListener(cap)
    return cap


def detach_scheduler(spark: SparkSession, cap: SchedulerCapture) -> None:
    """Best-effort removal.  py4j materializes a fresh JVM proxy per
    conversion, so bus-side removal may not match the registered instance;
    ``enabled=False`` guarantees the capture goes quiet either way."""
    cap.enabled = False
    try:
        spark.sparkContext._jsc.sc().removeSparkListener(cap)
    except Exception:
        pass


class SchedulerTelemetryProvider:
    """A ``telemetry_provider`` for ``LiveAnalyzer``: progress comes from the
    StreamingQueryListener bridge, job/stage/task/executor tables from the
    scheduler capture -- making live critical-path analysis real with no
    injected telemetry.  Called with a progress DataFrame it returns the
    capture's rows as telemetry DataFrames, the contract every provider
    keeps; ``LiveAnalyzer`` recognizes it and reads ``capture`` directly,
    so a scheduler-backed tick builds no DataFrame."""

    def __init__(self, spark: SparkSession, capture: SchedulerCapture) -> None:
        self.spark = spark
        self.capture = capture

    def __call__(self, progress: DataFrame):
        from ..telemetry import Telemetry

        spark = self.spark
        jobs, stages, tasks, executors = self.capture.snapshot_rows()
        return Telemetry(
            progress=progress,
            jobs=spark.createDataFrame(jobs, JOBS_SCHEMA),
            stages=spark.createDataFrame(stages, STAGES_SCHEMA),
            tasks=spark.createDataFrame(tasks, TASKS_SCHEMA),
            executors=spark.createDataFrame(executors, EXECUTORS_SCHEMA),
            sla_config=spark.createDataFrame([], "query_key string, sla_ms bigint"),
        )


scheduler_telemetry_provider = SchedulerTelemetryProvider  # the public factory name
