"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run each workload at its smallest size (``--size
smoke``) in a subprocess, so they take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import common
from perfbench.expected import rows_digest
from perfbench.trace import Spans, _union_ms

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def _run(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    sys.stderr.write(proc.stderr[-4000:])  # shown by pytest when a test fails
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_end_to_end_metric(workload):
    rc, out = _run("--workload", workload, "--seed", str(SEED), "--seconds", "1",
                   "--trace", "0", "--size", "smoke")
    assert rc == 0
    res = _result(out)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_with_wrong_expected_fails_and_spans_nest(workload):
    """A deliberately wrong expected result shows up as fail_ratio > 0;
    the traced run emits every per-layer metric and its spans nest."""
    rc, out = _run("--workload", workload, "--seed", str(SEED), "--seconds", "1",
                   "--trace", "1", "--size", "smoke", "--corrupt-expected")
    assert rc == 0
    res = _result(out)
    assert not res["correct"] and res["failed"] > 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert res["metrics"]["fail_ratio"]["value"] > 0
    spans = json.loads((common.WORK / f"trace-{workload}-{SEED}.json").read_text())
    assert spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start_ms"] <= s["start_ms"] + 1 and s["end_ms"] <= p["end_ms"] + 1


def test_exits_nonzero_without_the_library():
    bare = common.WORK / "bare-checkout"  # only BENCHMARK.json and perfbench/
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, out = _run("--workload", WORKLOADS[0], "--seed", "0", "--seconds", "1",
                       "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in out)


def test_spans_nest_in_process():
    spans = Spans("unit")
    with spans.span("outer", 0):
        time.sleep(0.002)
        with spans.span("inner", 0):
            time.sleep(0.002)
    outer, inner = spans.rows
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start_ms"] <= inner["start_ms"] <= inner["end_ms"] <= outer["end_ms"]
    assert spans.descendants(outer["id"]) == {outer["id"], inner["id"]}


def test_disabled_spans_still_time():
    spans = Spans("unit", enabled=False)
    with spans.span("x") as row:
        time.sleep(0.001)
    assert spans.rows == [] and row["ms"] > 0


def test_rows_digest_ignores_row_and_column_order():
    a = rows_digest(["b", "a"], [(1, "x"), (2.5, None)])
    b = rows_digest(["a", "b"], [(None, 2.5), ("x", 1)])
    assert a == b
    assert rows_digest(["a"], [(1,)]) != rows_digest(["a"], [(2,)])


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert _union_ms([(0, 10)], 5, 8) == 3
    assert _union_ms([], 0, 10) == 0
