#!/usr/bin/env python3
"""Plan-shape audit over every declared query (optimization guide §1.3).

For each ``queries()`` entry: build the frame, capture
``.explain("formatted")`` text, and report the anti-pattern counters the
guide's checklist asks for —

- n_scans:     total file-source scans in the plan
- rescans:     tables scanned MORE than once (table:count, the repeated-
               pass detector; legitimate multi-scan queries are the
               documented exceptions, e.g. different column prunings)
- exchanges:   Exchange nodes (shuffle count proxy)
- py_nodes:    BatchEvalPython / ArrowEvalPython (row-at-a-time or Arrow
               Python UDF boundaries — the engine's target is ZERO)
- nested_loop: CartesianProduct / BroadcastNestedLoopJoin occurrences
               (accidental cross joins; bounded probe joins are the
               documented exceptions)

Usage: python scripts/plan_audit.py [out_tsv] [query ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1).

Queries that execute eagerly at build time (streaming replays, iterative
graph loops) still produce a plan for their RETURNED frame; the counters
then describe the final serve plan, which is what repeated-pass auditing
needs (their internal loops are profiled separately in the bench).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "plans/r12/plan_audit.tsv"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from clusterforge_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    qs = entrymod.queries()
    rows = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
        except Exception as e:  # noqa: BLE001 - audit must not abort the sweep
            rows.append((name, "ERROR", str(e)[:120], "", "", ""))
            continue
        scans = re.findall(r"Scan parquet[^\n]*?(\w+)\.parquet", txt)
        if not scans:
            scans = re.findall(r"FileScan parquet[^\n]*?/(\w+)\.parquet", txt)
        per = {}
        for t in scans:
            per[t] = per.get(t, 0) + 1
        rescans = ",".join(f"{t}:{c}" for t, c in sorted(per.items()) if c > 1)
        exchanges = len(re.findall(r"\bExchange\b", txt))
        py_nodes = len(re.findall(r"BatchEvalPython|ArrowEvalPython", txt))
        nested = len(
            re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", txt)
        )
        rows.append(
            (name, str(len(scans)), rescans, str(exchanges), str(py_nodes), str(nested))
        )
        print(f"{name}\t{len(scans)}\t{rescans}\t{exchanges}\t{py_nodes}\t{nested}")

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write("query\tn_scans\trescans\texchanges\tpy_nodes\tnested_loop\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    print(f"wrote {out_path} ({len(rows)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
