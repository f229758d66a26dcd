"""Environment, session start and stop, and the result line."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"
PACKAGE = ROOT / "streaminglens_spark" / "__init__.py"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (e.g. the library is missing)."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Set the environment explicitly instead of inheriting the caller's:
    the package on the driver's and the Python workers' path (pandas-UDF
    stages import it in the worker), a private ``spark.local.dir``, no
    console progress bars, and the library's default partitioning."""
    if not PACKAGE.exists():
        raise SetupError(f"library package not found at {PACKAGE.parent}")
    root = str(ROOT)
    if root not in sys.path:
        sys.path.insert(0, root)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in paths if p != root])
    local_dir = WORK / "spark-local"
    local_dir.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dir)
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.local.dir={local_dir}"
        " --conf spark.log.level=ERROR pyspark-shell"
    )


def start_session():
    """The library's session helper at ``local[<nproc>]``."""
    from streaminglens_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def noop(df) -> None:
    """Materialize a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(metrics[name]), "unit": units[name]}
                for name in units
            },
        }
    )
