#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names/dtypes, and an order-insensitive value comparison
(exact for ints/strings; doubles must agree to the last bit — the engine's
determinism rules are designed so they do).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from clusterforge_spark.session import get_spark

    spark = get_spark("check-correctness", shuffle_partitions=8)

    def fresh_con():
        c = duckdb.connect()
        # cap the replica's thread pool: DuckDB defaults to one thread
        # per core, and 32 DuckDB threads next to Spark's local[*]
        # executor pool has twice produced transient resource failures
        # (std::system_error thread-create EAGAIN; spurious 2 KB "out of
        # memory" allocations) on an otherwise idle 128 GB box — the
        # verdicts should be about the queries, not the scheduler
        c.execute("SET threads=8")
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        return c

    con = fresh_con()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        # reconnect every 40 queries: DuckDB's buffer pool has been seen
        # to hit spurious OOM after hundreds of MATERIALIZED-CTE-heavy
        # oracles on one long-lived connection (observed once this round
        # with >120 GB actually free); a periodic fresh connection keeps
        # the replica's verdicts about the QUERIES, not the connection
        n_run += 1
        if n_run % 40 == 0:
            con.close()
            con = fresh_con()
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                failures.append(name)
                print(f"FAIL  {name}: empty result")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            continue

        msgs = []
        if len(sdf) != len(odf):
            msgs.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            msgs.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if not msgs:
            s = sdf[sorted(sdf.columns)].copy()
            o = odf[sorted(odf.columns)].copy()
            key = list(s.columns)
            s = s.sort_values(key, kind="mergesort").reset_index(drop=True)
            o = o.sort_values(key, kind="mergesort").reset_index(drop=True)
            for c in s.columns:
                sc, oc = s[c], o[c]
                if str(sc.dtype) != str(oc.dtype):
                    msgs.append(f"dtype[{c}] spark={sc.dtype} oracle={oc.dtype}")
                try:
                    eq = (sc == oc) | (sc.isna() & oc.isna())
                except Exception:
                    eq = pd.Series([False] * len(sc))
                if not eq.all():
                    bad = (~eq).to_numpy().nonzero()[0][:3]
                    detail = "; ".join(
                        f"row{i}: spark={sc.iloc[i]!r} oracle={oc.iloc[i]!r}" for i in bad
                    )
                    msgs.append(f"values[{c}] {int((~eq).sum())} mismatches ({detail})")
        if msgs:
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(msgs))
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
