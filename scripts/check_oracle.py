"""Run every registry query vs its DuckDB oracle at an arbitrary SF dir
(defaults to the driver's correctness scale, sf0.01)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from streaminglens_spark import registry
from streaminglens_spark.oracle.compare import compare, duckdb_connect
from streaminglens_spark.session import get_spark


def main() -> int:
    args = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("oracle-check")
    con = duckdb_connect(sf_dir)
    failures = 0
    names = set(registry.ORACLES)
    if only is not None:
        missing = only - names
        if missing:
            raise SystemExit(f"unknown queries: {sorted(missing)}")
        names = only
    for name in sorted(names):
        t0 = time.time()
        df = getattr(registry, name)(spark, sf_dir)
        res = compare(df, con, registry.ORACLES[name])
        status = "OK" if res["ok"] else "FAIL"
        if not res["ok"]:
            failures += 1
        print(
            f"{name:24s} {status}  spark={res['spark_rows']} duck={res['duck_rows']}"
            f"  {time.time()-t0:.1f}s"
        )
        if not res["ok"]:
            for k in ("spark_only", "duck_only", "spark_cols", "duck_cols"):
                if k in res and res.get("cols_match") is False or k in ("spark_only", "duck_only"):
                    print("   ", k, res.get(k))
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
