#!/usr/bin/env python3
"""Isolated re-timing of named queries with the bench methodology
(untimed warm run, then timed noop-sink runs; min of N).

Usage: python scripts/time_queries.py q_a q_b ...  [-n RUNS]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")


def main() -> int:
    args = sys.argv[1:]
    n_runs = 2
    if "-n" in args:
        i = args.index("-n")
        n_runs = int(args[i + 1])
        del args[i : i + 2]

    import __spark_entry__ as E
    from clusterforge_spark.session import get_spark
    from clusterforge_spark.sources.readers import load_table

    spark = get_spark("time-queries")
    qs = E.queries()
    for tbl in (
        "lineitem", "orders", "part", "customer", "supplier", "nation",
        "region", "documents", "embeddings", "events",
    ):
        try:
            load_table(spark, SF_DIR, tbl).write.mode("overwrite").format("noop").save()
        except Exception:
            pass
    out: dict[str, float] = {}
    for name in args:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        try:
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            best = None
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            out[name] = round(best, 3)
            print(f"{name}: {best:.3f}s", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            out[name] = -1.0
            print(f"ERROR {name}: {exc}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
