#!/usr/bin/env python3
"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python scripts/explain_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each named query (default:
every query). The explain output is the ANALYZED physical plan as Spark
prints it (AdaptiveSparkPlan isFinalPlan=false before execution — the
plan shape the optimizer chose; AQE runtime rewrites are noted in
OPTIMIZATION notes where they matter).

Queries that execute eagerly at build time (streaming replays, iterative
graph loops) still produce a plan for their RETURNED frame; the eager
part is profiled separately in the bench.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3:]

    import __spark_entry__ as E
    from clusterforge_spark.session import get_spark

    spark = get_spark("explain-plans", shuffle_partitions=8)
    qs = E.queries()
    names = only or list(qs)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    def _explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    # Driver-assembled queries (theil_sen, kmv_set_ops, conformal): the
    # returned frame is a createDataFrame stub — the distributed work
    # happens in internal frames executed during construction. Each
    # operator exposes a ``_probe`` hook that records those REAL frames
    # (the very objects it collects); their plans are appended to the
    # query's plan file so the optimization evidence is the actual
    # physical shape, not a 400-byte ExistingRDD stub (r12 verdict
    # item 6).
    def _probed(op, table, *args):
        def build(spark, sf):
            from clusterforge_spark.sources.readers import load_table

            probe: dict = {}
            final = op(load_table(spark, sf, table), *args, _probe=probe)
            return final, probe

        return build

    from clusterforge_spark.operators import relational as R
    from clusterforge_spark.operators import sketches as SK
    from clusterforge_spark.operators import validation as V

    PROBED = {
        "q_theil_sen": _probed(R.theil_sen, "lineitem"),
        "q_kmv_set_ops": _probed(SK.kmv_set_ops, "events"),
        "q_conformal_interval": _probed(V.conformal_interval, "orders"),
    }

    for name in names:
        try:
            if name in PROBED:
                df, probe = PROBED[name](spark, SF_DIR)
                txt = _explain(df)
                for key, frame in probe.items():
                    try:
                        sub = _explain(frame)
                    except Exception as exc:  # noqa: BLE001
                        sub = f"EXPLAIN FAILED: {exc}\n"
                    txt += f"\n\n=== internal distributed frame: {key} ===\n{sub}"
            else:
                df = qs[name](spark, SF_DIR)
                txt = _explain(df)
        except Exception as exc:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
