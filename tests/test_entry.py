"""Driver-contract conformance: entry smoke, query/oracle key parity,
oracle SQL validity on DuckDB."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as E

from tests.conftest import REPO_ROOT, SF_DIR

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "recency", "frequency", "monetary"]


def test_every_oracle_key_has_query():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    # rows-only queries are the documented exceptions
    rows_only = set(q) - set(o)
    assert rows_only == {
        "q_count_distinct_approx",
        "q_hll_mergeable",
        "q_kmeans_fit",
        "q_grouped_kmeans",
        "q_dedup_minhash",
    }


def test_oracle_sql_is_valid_duckdb():
    def fresh():
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        return c

    con = fresh()
    # Hygiene: reconnect every 40 oracles, and retry ONE failure on a
    # brand-new connection before failing. DuckDB in a process that also
    # hosts the Spark JVM has thrown spurious tiny-allocation
    # std::bad_alloc OOMs on MATERIALIZED-CTE-heavy statements with
    # >100 GB free and no rlimits (allocator state, not SQL); a fresh
    # connection separates "the SQL is invalid" (fails there too — real
    # failure) from "the connection/process allocator hiccuped".
    for i, (name, sql) in enumerate(E.oracle_sql().items()):
        if i and i % 40 == 0:
            con.close()
            con = fresh()
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 1")
        except Exception:  # noqa: BLE001
            con.close()
            con = fresh()
            try:
                con.execute(f"SELECT * FROM ({sql}) LIMIT 1")
            except Exception as exc:  # noqa: BLE001
                pytest.fail(f"{name}: oracle SQL failed: {exc}")


@pytest.mark.parametrize("name", ["q_rfm_features", "q_centroid_assign", "q_dedup_exact"])
def test_query_runs_at_sf0001(spark, name):
    df = E.queries()[name](spark, SF_DIR)
    assert df.count() > 0


def test_bench_covers_every_query():
    """Every declared query is timed per-round: regressions stay visible."""
    import bench

    q = set(E.queries())
    b = set(bench.BENCH_QUERIES)
    assert b == q, f"missing from bench: {sorted(q - b)}; stale in bench: {sorted(b - q)}"


def test_survey_query_count_matches_contract():
    """SURVEY.md §8's bolded "**N queries**" claim equals len(queries()) —
    prose and shipped contract cannot drift apart (r4 shipped 166 while
    §8 still said 161)."""
    import re

    text = open(os.path.join(REPO_ROOT, "SURVEY.md"), encoding="utf-8").read()
    m = re.search(r"the shipped contract is \*\*(\d+)\s*\nqueries\*\*", text)
    assert m, "SURVEY.md §8 no longer contains the pinned query-count phrase"
    assert int(m.group(1)) == len(E.queries())


def test_selfcheck_query_count_matches_contract():
    """The LATEST committed SELFCHECK_r*.md's bolded "**N queries**"
    claim equals len(queries()) — the r5 selfcheck recorded 226 while
    the final tree shipped 232 (six queries landed after the recorded
    sweep); this pin makes that drift a test failure."""
    import glob
    import re

    latest = sorted(glob.glob(os.path.join(REPO_ROOT, "SELFCHECK_r*.md")))[-1]
    text = open(latest, encoding="utf-8").read()
    m = re.search(r"\*\*(\d+) queries\*\*", text)
    assert m, f"{latest} no longer contains the pinned query-count phrase"
    assert int(m.group(1)) == len(E.queries()), (
        f"{latest} claims {m.group(1)} queries but the contract ships "
        f"{len(E.queries())} — regenerate the selfcheck from the committed tree"
    )


def test_library_import_surface():
    """The package root re-exports the operator namespaces and the
    pipeline / model-store / curation / CLI entry points (the reference
    re-exports its whole API from lib.rs:6-18) — consumers never need
    deep module paths."""
    import clusterforge_spark as cf

    for name in cf.__all__:
        assert getattr(cf, name, None) is not None, f"missing export: {name}"
    # spot-check the two usage styles the docstring promises
    assert callable(cf.run_full_pipeline)
    assert callable(cf.dedup.dedup_exact)
    assert callable(cf.cli_main)


def test_release_frees_memoized_state(spark):
    """The r7 cache-lifecycle hook: after release(spark, sf_dir) the
    per-snapshot memo is empty for that corpus and its cached frames'
    storage is freed — a long-lived serving session can retire corpus
    snapshots without accumulating executor memory."""
    from tests.conftest import SF_DIR

    from pyspark.sql import DataFrame
    from clusterforge_spark.operators import similarity as SIM

    app = spark.sparkContext.applicationId
    # populate: the kcell top-k builds + caches the codebook memo
    E.queries()["q_sim_search_kcell"](spark, SF_DIR).collect()
    E.queries()["q_ann_recall"](spark, SF_DIR).collect()
    cached = [
        (k, df)
        for k, df in E._MEMO.items()
        if k[0] == app and k[1] == SF_DIR and isinstance(df, DataFrame)
    ]
    assert cached, "expected memo entries after running a kcell query"
    assert any(df.storageLevel.useMemory for _, df in cached)
    # a DIRECT ann_recall call (no registry inputs) caches frames
    # INTERNALLY (codebook + assignment) — it must expose them so
    # release() can free them, or a multi-snapshot serving session
    # leaks one n-row cache per retired corpus
    emb = E._t(spark, SF_DIR, "embeddings")
    direct = SIM.ann_recall(emb, kcell_nprobes=(1,))
    direct.collect()
    inner = list(getattr(direct, "_cf_internal_caches", []))
    assert inner, "self-training ann_recall should expose internal caches"
    assert any(df.storageLevel.useMemory for df in inner)
    for df in inner:
        df.unpersist(blocking=True)
    all_keys = [
        k for k in E._MEMO if k[0] == app and k[1] == SF_DIR
    ]
    n = E.release(spark, SF_DIR)
    assert n == len(all_keys)
    assert not [k for k in E._MEMO if k[0] == app and k[1] == SF_DIR]
    assert all(not df.storageLevel.useMemory for _, df in cached)
    # releasing again is a no-op
    assert E.release(spark, SF_DIR) == 0
