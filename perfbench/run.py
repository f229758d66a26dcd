"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the library in this checkout, checks every
output against its expected result, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, measured by a traced run
that also writes its spans to ``.bench_work/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import common  # noqa: E402
from perfbench.trace import Spans  # noqa: E402

WORKLOADS = ("live_monitor", "llm_data")


class Context:
    """State one workload run shares with the harness."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.corrupt_expected = args.corrupt_expected
        self.work = common.WORK
        self.spans = Spans(self.workload, enabled=False)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.capture = None
        self.attribution = None
        self.t0 = time.perf_counter()
        self.setup_s = None
        self._timed_start = None

    # -- set-up ---------------------------------------------------------
    def start_session(self) -> None:
        with self.spans.span("session.start") as span:
            self.spark = common.start_session()
        self.layer["session.start_s"] = span["ms"] / 1000.0

    @contextmanager
    def warmup(self):
        with self.spans.span("session.warmup") as span:
            yield
        self.layer["session.warmup_s"] = span["ms"] / 1000.0

    # -- the timed region -------------------------------------------------
    def start_timed(self) -> None:
        self.setup_s = time.perf_counter() - self.t0
        self._timed_start = time.perf_counter()

    def time_up(self) -> bool:
        return time.perf_counter() - self._timed_start >= self.seconds

    # -- checks -----------------------------------------------------------
    def expected(self, query: str, inp: dict) -> dict:
        from perfbench.expected import expected

        exp = dict(expected(query, inp["digest"], inp["tables"], str(self.work)))
        if self.corrupt_expected:
            exp["digest"] = "0" * 64
        return exp

    def check(self, query: str, inp: dict, digests: list[dict]) -> int:
        """Compare each run's output digest of ``query`` with the expected
        one; returns the number of mismatches (reported on stderr)."""
        want = self.expected(query, inp)
        bad = [i for i, got in enumerate(digests) if got != want]
        for i in bad:
            print(f"MISMATCH {query} run {i}: got {digests[i]} want {want}", file=sys.stderr)
        return len(bad)

    # -- tracing ----------------------------------------------------------
    def attach_capture(self) -> None:
        from perfbench.trace import attach_capture

        self.capture = attach_capture(self.spark)
        self.spans.enabled = True

    def finish_trace(self, rows: dict, pipeline_calls=(), corpus_calls=()) -> None:
        """Attribute the captured jobs to spans and fill the per-layer
        metrics of the operator modules and the traced calls."""
        from perfbench.layers import call_metrics, operator_metrics
        from perfbench.trace import Attribution, critical_ms, wait_for_bus

        wait_for_bus(self.spark)
        self.capture.enabled = False
        self.attribution = Attribution(self.spans, self.capture)
        calls = [("pipeline", c["id"], c) for c in pipeline_calls]
        calls += [("corpus", c["id"], c) for c in corpus_calls]
        crit = critical_ms(self.spark, self.attribution, calls) if calls else {}
        by_span = {bid: v for (_, bid), v in crit.items()}
        self.layer.update(operator_metrics(self.spans, self.attribution, rows))
        self.layer.update(
            call_metrics("operators.pipeline", list(pipeline_calls), self.attribution, by_span)
        )
        self.layer.update(
            call_metrics("functions.corpus.ingest", list(corpus_calls), self.attribution, by_span)
        )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: the smallest inputs (self-tests)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="replace every expected digest by a wrong one (self-tests)")
    args = ap.parse_args(argv)

    spec = common.load_spec()
    try:
        common.prepare_env()
    except common.SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    ctx = Context(args)
    module = importlib.import_module(f"perfbench.{args.workload}")
    ctx.start_session()
    try:
        outcome = module.run(ctx)
        if ctx.trace:
            ctx.layer["session.driver_peak_rss_mb"] = common.driver_peak_rss_mb(ctx.spark)
        env = common.environment(ctx.spark)
    finally:
        common.stop_session(ctx.spark)

    attempted, failed = outcome["attempted"], outcome["failed"]
    if ctx.trace:
        ctx.layer["fail_ratio"] = failed / attempted
        ctx.work.mkdir(parents=True, exist_ok=True)
        ctx.spans.dump(ctx.work / f"trace-{args.workload}-{args.seed}.json")
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: ctx.layer.get(n, 0.0) for n in names}
    else:
        ctx.e2e["setup_s"] = ctx.setup_s
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        missing = sorted(set(names) - set(ctx.e2e))
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
        metrics = ctx.e2e
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": env}))
    correct = outcome.get("correct", failed == 0)
    print(common.result_line(correct, attempted, failed, metrics, names), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
