"""Traced runs: spans at each layer boundary plus a benchmark-owned
Spark listener that assigns jobs, stages and tasks to those spans.

A span is (name, start, end, parent, workload, iteration).  Spans are kept
in memory and written out as JSON at exit.  A Spark job belongs to the
innermost span whose interval contains the job's submission time; its
stages and tasks follow the job.  ``critical_ms`` feeds the captured rows
through the library's own ``job_walltime`` / ``critical_path_per_job`` /
``critical_time``, with one synthetic progress row per call whose batch
running time is the call's wall time.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, workload: str, enabled: bool = True):
        self.workload = workload
        self.enabled = enabled
        self.rows: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        """Record a span; yields the row (``row["ms"]`` is set on exit)."""
        stack = self._stack()
        row = {
            "name": name,
            "parent": stack[-1] if stack else None,
            "workload": self.workload,
            "iteration": iteration,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        t0 = time.perf_counter()
        if self.enabled:
            with self._lock:
                row["id"] = len(self.rows)
                self.rows.append(row)
            stack.append(row["id"])
        try:
            yield row
        finally:
            row["ms"] = (time.perf_counter() - t0) * 1000.0
            row["end_ms"] = row["start_ms"] + row["ms"]
            if self.enabled:
                stack.pop()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.rows if r["name"] == name and r["end_ms"] is not None]

    def descendants(self, span_id: int) -> set[int]:
        out = {span_id}
        for r in self.rows:  # parents always precede children
            if r["parent"] in out:
                out.add(r["id"])
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


class JobCapture:
    """py4j ``SparkListenerInterface`` recording every job, stage and task
    (all jobs, unlike the library's streaming-only scheduler bridge)."""

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[tuple] = []
        self.enabled = True

    def __getattr__(self, name: str):
        if name.startswith("on"):
            return lambda *a, **k: None
        raise AttributeError(name)

    def onJobStart(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        props = e.properties()
        raw_exec = props.getProperty("spark.sql.execution.id") if props is not None else None
        infos = e.stageInfos()
        stages = []
        for i in range(infos.size()):
            si = infos.apply(i)
            pids = si.parentIds()
            stages.append(
                (int(si.stageId()), [int(pids.apply(k)) for k in range(pids.size())], int(si.numTasks()))
            )
        job_id = int(e.jobId())
        with self._lock:
            self.jobs[job_id] = {
                "start_ms": int(e.time()),
                "end_ms": None,
                "sql_exec_id": int(raw_exec) if raw_exec is not None else None,
            }
            for sid, parents, num_tasks in stages:
                self.stage_job.setdefault(sid, job_id)
                self.stages.setdefault(sid, {"parents": parents, "num_tasks": num_tasks, "span": None})

    def onJobEnd(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        with self._lock:
            job = self.jobs.get(int(e.jobId()))
            if job is not None:
                job["end_ms"] = int(e.time())

    def onStageCompleted(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        si = e.stageInfo()
        sub, comp = si.submissionTime(), si.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            return
        with self._lock:
            st = self.stages.get(int(si.stageId()))
            if st is not None:
                st["span"] = (int(sub.get()), int(comp.get()))

    def onTaskEnd(self, e) -> None:  # noqa: N802
        if not self.enabled:
            return
        ti = e.taskInfo()
        if ti is None:
            return
        shuffle = 0
        m = e.taskMetrics()
        if m is not None:
            shuffle = int(m.shuffleWriteMetrics().bytesWritten())
        launch, finish = int(ti.launchTime()), int(ti.finishTime())
        with self._lock:
            self.tasks.append(
                (
                    int(ti.taskId()),
                    int(e.stageId()),
                    str(ti.executorId()),
                    launch,
                    finish,
                    max(finish - launch, 0),
                    not bool(ti.successful()),
                    shuffle,
                )
            )


def attach_capture(spark) -> JobCapture:
    from pyspark.java_gateway import ensure_callback_server_started

    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    cap = JobCapture()
    sc._jsc.sc().addSparkListener(cap)
    return cap


def wait_for_bus(spark, timeout_s: float = 10.0) -> None:
    """Let the listener bus deliver pending events."""
    from py4j.protocol import Py4JError

    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
    except Py4JError:  # bus API not reachable: give it a moment instead
        time.sleep(0.5)


class Attribution:
    """Jobs, stages and tasks of each span (job -> innermost span)."""

    def __init__(self, spans: Spans, cap: JobCapture):
        self.spans = spans
        with cap._lock:
            self.jobs = {j: dict(v) for j, v in cap.jobs.items() if v["end_ms"] is not None}
            self.stage_job = dict(cap.stage_job)
            self.stages = {s: dict(v) for s, v in cap.stages.items()}
            self.tasks = list(cap.tasks)
        rows = [r for r in spans.rows if r["end_ms"] is not None]
        self.job_span: dict[int, int] = {}
        for job_id, job in self.jobs.items():
            t = job["start_ms"]
            best = None
            for r in rows:
                if r["start_ms"] - 1 <= t <= r["end_ms"] + 1 and (
                    best is None or r["start_ms"] >= best["start_ms"]
                ):
                    best = r
            if best is not None:
                self.job_span[job_id] = best["id"]

    def jobs_of(self, span_row: dict) -> list[int]:
        ids = self.spans.descendants(span_row["id"])
        return sorted(j for j, s in self.job_span.items() if s in ids)

    def stats(self, span_row: dict) -> dict:
        """Counts and driver time of one call."""
        jobs = set(self.jobs_of(span_row))
        stages = {
            s for s, j in self.stage_job.items()
            if j in jobs and self.stages.get(s, {}).get("span") is not None
        }
        tasks = [t for t in self.tasks if t[1] in stages]
        covered = _union_ms(
            [(self.jobs[j]["start_ms"], self.jobs[j]["end_ms"]) for j in jobs],
            span_row["start_ms"],
            span_row["end_ms"],
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "task_s": sum(t[5] for t in tasks) / 1000.0,
            "shuffle_bytes": sum(t[7] for t in tasks),
            "driver_ms": max(span_row["ms"] - covered, 0.0),
        }

    def telemetry_rows(self, calls: list[tuple[str, int, dict]]):
        """Progress/jobs/stages/tasks rows (library telemetry schemas) for
        ``calls`` = [(query_id, batch_id, span_row)]."""
        progress, jobs, stages, tasks = [], [], [], []
        for qid, bid, row in calls:
            wall = max(int(round(row["ms"])), 1)
            progress.append((qid, None, "perfbench", bid, int(row["start_ms"]), wall, 1000.0, [], "noop"))
            mine = set(self.jobs_of(row))
            for j in sorted(mine):
                job = self.jobs[j]
                jobs.append((qid, bid, j, job["sql_exec_id"], job["start_ms"], job["end_ms"], None))
            for s, j in self.stage_job.items():
                st = self.stages.get(s, {})
                if j in mine and st.get("span") is not None:
                    stages.append((s, j, st["parents"], st["num_tasks"], st["span"][0], st["span"][1]))
            stage_ids = {s[0] for s in stages}
            for t in self.tasks:
                if t[1] in stage_ids and self.stage_job.get(t[1]) in mine:
                    tasks.append((t[0], t[1], self.stage_job[t[1]], t[2], t[3], t[4], t[5], t[6]))
        return progress, jobs, stages, tasks


def critical_ms(spark, attribution: Attribution, calls: list[tuple[str, int, dict]]) -> dict:
    """The paper's critical time of each call, through the library's
    operators: {(query_id, batch_id): critical_ms}."""
    from streaminglens_spark.operators.analysis import (
        batch_bounds,
        batch_slice,
        exec_groups,
        islands,
        job_walltime,
    )
    from streaminglens_spark.operators.critical_path import critical_path_per_job, critical_time
    from streaminglens_spark.streaming.live import PROGRESS_SCHEMA
    from streaminglens_spark.streaming.scheduler import JOBS_SCHEMA, STAGES_SCHEMA, TASKS_SCHEMA

    progress, jobs, stages, tasks = attribution.telemetry_rows(calls)
    p = spark.createDataFrame(progress, PROGRESS_SCHEMA)
    j = spark.createDataFrame(jobs, JOBS_SCHEMA)
    s = spark.createDataFrame(stages, STAGES_SCHEMA)
    t = spark.createDataFrame(tasks, TASKS_SCHEMA)
    islanded = islands(exec_groups(batch_slice(j)))
    crit = critical_time(batch_bounds(p), job_walltime(islanded), islanded, critical_path_per_job(s, t))
    return {(r["query_id"], r["batch_id"]): r["critical_ms"] for r in crit.collect()}


def _union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
