"""Model persistence: save → (new session) → load → identical serving.

The reference has no persistence (refit per predict, main.rs:44-52);
SURVEY.md §7 hard-spot 8 makes model reuse the engine's improvement —
these tests pin the roundtrip contract.
"""

from __future__ import annotations

import pytest

from clusterforge_spark import model_store as MS
from clusterforge_spark.operators import clustering as C
from clusterforge_spark.operators import features as FE
from clusterforge_spark.pipeline import run_full_pipeline, run_prediction
from clusterforge_spark.sources.readers import load_table

from tests.conftest import SF_DIR


def _rfm(spark):
    return FE.compute_rfm(load_table(spark, SF_DIR, "events"))


def test_save_load_roundtrip_numpy_regime(spark, tmp_path):
    path = str(tmp_path / "model")
    res = run_full_pipeline(spark, _rfm(spark), n_rows=-1, k=4, seed=42, model_path=path)
    assert MS.model_exists(spark, path)

    # a NEW session (fresh SQL state) must load the identical model
    fresh = spark.newSession()
    m = MS.load_model(fresh, path)
    assert m.k == res.k
    assert m.cols == FE.RFM_COLS
    assert m.centroids == res.centroids
    assert m.cluster_sizes == res.cluster_sizes
    assert m.inertia == pytest.approx(res.inertia)
    assert m.scaler_params == pytest.approx(res.scaler_params)


def test_loaded_model_serves_identical_assignments(spark, tmp_path):
    path = str(tmp_path / "model")
    res = run_full_pipeline(spark, _rfm(spark), n_rows=-1, k=4, seed=42, model_path=path)
    m = MS.load_model(spark, path)

    # serving path: assign_nearest with loaded centroids == original labels
    scaled = FE.scale_features(_rfm(spark))
    orig = C.assign_nearest(scaled, tuple(tuple(c) for c in res.centroids))
    loaded = C.assign_nearest(scaled, tuple(tuple(c) for c in m.centroids))
    a = {r.user_id: r.cluster for r in orig.collect()}
    b = {r.user_id: r.cluster for r in loaded.collect()}
    assert a == b


def test_predict_skips_refit_with_saved_model(spark, tmp_path):
    path = str(tmp_path / "model")
    point = (30.0, 10.0, 500.0)
    c1, res1 = run_prediction(spark, _rfm(spark), point, k=4, seed=42, model_path=path)
    # rfm=None proves no refit happens: serving uses only the saved model
    c2, res2 = run_prediction(spark, None, point, k=4, seed=42, model_path=path)
    assert c2 == c1
    assert res2.centroids == res1.centroids
    assert res2.cluster_sizes == res1.cluster_sizes
    assert res2.n_customers == res1.n_customers


def test_mllib_model_saved_in_distributed_regime(spark, tmp_path):
    path = str(tmp_path / "model")
    # force the distributed branch with a tiny driver_fit_threshold
    res = run_full_pipeline(
        spark, _rfm(spark), n_rows=-1, k=4, seed=42,
        driver_fit_threshold=2, model_path=path,
    )
    m = MS.load_model(spark, path)
    assert m.centroids == res.centroids
    mllib = MS.load_mllib_model(spark, path)
    got = [[float(v) for v in c] for c in mllib.clusterCenters()]
    assert len(got) == len(res.centroids)
    for g, want in zip(got, res.centroids):
        assert g == pytest.approx(want)


def test_distributed_branch_matches_operator_pipeline(spark):
    """The distributed branch's one-stats-job scaler, literal scaling and
    driver-side silhouette give what the public operators give."""
    from clusterforge_spark.operators import metrics as M
    from clusterforge_spark.pipeline import ZCOLS

    rfm = _rfm(spark)
    res = run_full_pipeline(spark, rfm, n_rows=-1, k=4, seed=42, driver_fit_threshold=2)
    assert res.scaler_params == FE.fit_scaler(rfm).collect()[0].asDict()

    scaled = FE.scale_features(rfm)
    ref = C.fit_kmeans(scaled, k=4, seed=42, cols=ZCOLS)
    assert res.centroids == ref.centroids
    assert res.inertia == ref.inertia
    assigned = C.assign_nearest(scaled, tuple(tuple(c) for c in ref.centroids), ZCOLS)
    sizes = [(r.cluster, r.size, r.pct) for r in C.cluster_sizes(assigned).collect()]
    assert sorted(res.cluster_sizes) == sorted(sizes)
    sil = M.silhouette_mean(
        M.silhouette_sample(assigned, id_col="user_id", cols=ZCOLS)
    ).collect()[0].mean_silhouette
    assert res.silhouette == pytest.approx(sil, abs=2e-4)


def _write_events(path: str, n_customers: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(n_customers)
    user = np.repeat(np.arange(n_customers), rng.integers(1, 6, n_customers))
    n = len(user)
    ts = np.datetime64("2024-06-30", "us") - rng.integers(0, 365 * 86_400 * 10**6, n)
    pq.write_table(
        pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(10_000 + user, pa.int64()),
            "event_type": pa.array(["purchase"] * n),
            "value": pa.array(np.round(rng.lognormal(3.0, 1.0, n), 2), pa.float64()),
            "props": pa.array(["{}"] * n),
        }),
        path,
    )


def test_distributed_branch_sees_rewritten_input_and_leaves_nothing_cached(spark, tmp_path):
    """A cache left behind by one call is matched by plan on the next call
    over the same path, which then mixes the old file's rows into its
    result: every cache the call creates must be gone when it returns."""
    # the emptiness check is session-wide: drop the other modules' caches
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for n in (400, 600):
        _write_events(str(tmp_path / "events.parquet"), n)
        rfm = FE.compute_rfm(load_table(spark, str(tmp_path), "events"))
        res = run_full_pipeline(spark, rfm, n_rows=-1, k=4, seed=42, driver_fit_threshold=50)
        assert res.n_customers == n
        assert sum(size for _, size, _ in res.cluster_sizes) == n
        assert cache_manager.isEmpty()
    # a cache the caller made on the same plan is used and left in place
    rfm = FE.compute_rfm(load_table(spark, str(tmp_path), "events")).cache()
    run_full_pipeline(spark, rfm, n_rows=-1, k=4, seed=42, driver_fit_threshold=50)
    assert rfm.storageLevel.useMemory
    rfm.unpersist()


def test_model_exists_is_false_only_for_a_missing_model(spark, tmp_path):
    from pyspark.errors import AnalysisException

    assert not MS.model_exists(spark, str(tmp_path / "absent"))
    corrupt = tmp_path / "corrupt"
    (corrupt / "meta").mkdir(parents=True)
    (corrupt / "meta" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        MS.model_exists(spark, str(corrupt))
    empty = tmp_path / "empty"
    (empty / "meta").mkdir(parents=True)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        MS.model_exists(spark, str(empty))


# ---------------------------------------------------------------------------
# r8: the derived-artifact registry (trained ANN index, graph tables,
# clustered corpus) — fingerprint-validated parquet state that lets a
# FRESH session serve without retraining (round-7 verdict item 1).
# ---------------------------------------------------------------------------


def test_artifact_roundtrip_and_fingerprint_gate(spark, tmp_path):
    path = str(tmp_path / "art")
    df = spark.range(5).selectExpr("id", "id * id AS sq")
    assert MS.load_artifact(spark, path) is None  # absent
    MS.save_artifact(spark, path, df, {"kind": "squares", "n": 5})
    meta = MS.artifact_meta(spark, path)
    assert meta["kind"] == "squares" and meta["n"] == "5"
    got = MS.load_artifact(spark, path, {"kind": "squares", "n": 5})
    assert sorted((r.id, r.sq) for r in got.collect()) == [
        (i, i * i) for i in range(5)
    ]
    # fingerprint mismatch (the corpus changed under the artifact) → None
    assert MS.load_artifact(spark, path, {"kind": "squares", "n": 6}) is None
    assert MS.load_artifact(spark, path, {"kind": "other", "n": 5}) is None


def test_ensure_artifact_builds_once_then_loads(spark, tmp_path):
    path = str(tmp_path / "ensure")
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr("id")

    expect = {"kind": "t", "n": 3}
    a = MS.ensure_artifact(spark, path, expect, build)
    b = MS.ensure_artifact(spark, path, expect, build)
    assert len(calls) == 1, "second ensure must load, not rebuild"
    assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())
    # changed fingerprint → rebuild
    MS.ensure_artifact(spark, path, {"kind": "t", "n": 4}, build)
    assert len(calls) == 2


def test_ann_index_serves_from_second_session_without_retrain(
    spark, tmp_path, monkeypatch
):
    """The round-7 verdict's Done criterion: top-k AND the frontier
    report served from a SECOND session with NO retraining — every
    trainer entry point is booby-trapped in the second session, so any
    retrain attempt fails the test."""
    import __spark_entry__ as E
    from clusterforge_spark.operators import similarity as SIM
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "registry"))
    app = spark.sparkContext.applicationId
    # cold start: drop any memoized state for this corpus
    E.release(spark, SF_DIR)

    qs = E.queries()
    topk1 = [tuple(r) for r in qs["q_sim_search_kcell"](spark, SF_DIR).collect()]
    ivf1 = [
        tuple(r) for r in qs["q_sim_search_ivf_trained"](spark, SF_DIR).collect()
    ]
    front1 = sorted(
        tuple(r) for r in qs["q_ann_recall"](spark, SF_DIR).collect()
    )

    # "second session": fresh SQL state + cleared memo (one JVM in tests,
    # so applicationId persists — the memo reset is what a new app gives)
    fresh = spark.newSession()
    for k in [k for k in E._MEMO if k[0] == app]:
        del E._MEMO[k]

    def boom(*a, **kw):  # any retrain in the serve session is a failure
        raise AssertionError("retrain attempted in serving session")

    monkeypatch.setattr(SIM, "ivf_kcell_cells", boom)
    monkeypatch.setattr(SIM, "ivf_kcell_seeds", boom)
    monkeypatch.setattr(SIM, "planted_clustered", boom)
    monkeypatch.setattr(SIM, "_assign_packed", boom)
    # r9 (verdict item 3): the per-label trained IVF quantizer joins the
    # no-retrain contract — its query must serve from the registry too
    monkeypatch.setattr(SIM, "ivf_trained_cells", boom)

    topk2 = [tuple(r) for r in qs["q_sim_search_kcell"](fresh, SF_DIR).collect()]
    ivf2 = [
        tuple(r) for r in qs["q_sim_search_ivf_trained"](fresh, SF_DIR).collect()
    ]
    front2 = sorted(
        tuple(r) for r in qs["q_ann_recall"](fresh, SF_DIR).collect()
    )
    assert topk2 == topk1
    assert ivf2 == ivf1
    assert front2 == front1
    E.release(spark, SF_DIR)
    E.release(fresh, SF_DIR)


def test_graph_tables_serve_from_second_session_without_rebuild(
    spark, tmp_path, monkeypatch
):
    import __spark_entry__ as E
    from clusterforge_spark.operators import dedup as DD
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "registry"))
    app = spark.sparkContext.applicationId
    E.release(spark, SF_DIR)

    qs = E.queries()
    comp1 = sorted(tuple(r) for r in qs["q_dedup_components"](spark, SF_DIR).collect())
    core1 = sorted(tuple(r) for r in qs["q_kcore"](spark, SF_DIR).collect())

    fresh = spark.newSession()
    for k in [k for k in E._MEMO if k[0] == app]:
        del E._MEMO[k]

    def boom(*a, **kw):
        raise AssertionError("graph propagation re-ran in serving session")

    monkeypatch.setattr(DD, "dedup_components", boom)
    monkeypatch.setattr(DD, "kcore_peel", boom)

    comp2 = sorted(tuple(r) for r in qs["q_dedup_components"](fresh, SF_DIR).collect())
    core2 = sorted(tuple(r) for r in qs["q_kcore"](fresh, SF_DIR).collect())
    assert comp2 == comp1
    assert core2 == core1
    E.release(spark, SF_DIR)
    E.release(fresh, SF_DIR)


def test_registry_report_lists_committed_artifacts(spark):
    rows = {
        (r.snapshot, r.artifact): (r.valid, r.status)
        for r in MS.registry_report(spark).collect()
    }
    assert rows, "the committed registry should not be empty"
    assert rows.get(("sf0.001", "kcell_codebook")) == (True, "valid")
    assert all(v for v, _ in rows.values()), "committed artifacts must be valid"


def test_registry_report_distinguishes_absent_from_invalid(spark, tmp_path):
    """r8 verdict item 4: an operator reading the report must be able to
    tell an empty slot from a present-but-invalid artifact."""
    root = str(tmp_path / "reg")
    good = f"{root}/sfX/good"
    MS.save_artifact(spark, good, spark.range(4).selectExpr("id"), {"kind": "g"})
    # present-but-invalid: data dir holds junk, no readable meta
    import os

    bad = f"{root}/sfX/bad"
    os.makedirs(f"{bad}/data")
    open(f"{bad}/data/part-junk.parquet", "w").write("not parquet")
    rows = {r.artifact: r.status for r in MS.registry_report(spark, root).collect()}
    assert rows["good"] == "valid"
    assert rows["bad"] == "invalid_meta"


def test_unwritable_registry_falls_back_to_in_session_build(
    spark, monkeypatch, caplog
):
    """Persistence is best-effort: with the registry pointed somewhere
    unwritable, every artifact-backed query still answers (in-session
    build), identical to the registry-served answer — and the fallback
    is LOUD (r8 verdict item 4: a deployment whose registry went
    unwritable must see a warning, not silently retrain forever)."""
    import logging

    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    qs = E.queries()
    E.release(spark, SF_DIR)
    want = sorted(tuple(r) for r in qs["q_sim_search_kcell"](spark, SF_DIR).collect())
    E.release(spark, SF_DIR)
    monkeypatch.setenv(
        "SPARK_GRAFT_MODEL_DIR", "/proc/definitely/not/writable"
    )
    with caplog.at_level(logging.WARNING, logger="clusterforge_spark.model_store"):
        got = sorted(
            tuple(r) for r in qs["q_sim_search_kcell"](spark, SF_DIR).collect()
        )
    assert got == want
    msgs = [rec.getMessage() for rec in caplog.records]
    assert any(
        "save failed" in m and "/proc/definitely/not/writable" in m for m in msgs
    ), f"the fallback must log a warning naming the path; got {msgs}"
    E.release(spark, SF_DIR)


# ---------------------------------------------------------------------------
# r9: artifact self-consistency (torn-write guard) + the rebuild-vs-stored
# identity gate — the round-8 verdict's top item.
# ---------------------------------------------------------------------------


def test_artifact_meta_records_self_consistency_keys(spark, tmp_path):
    path = str(tmp_path / "art")
    MS.save_artifact(spark, path, spark.range(7).selectExpr("id"), {"kind": "t"})
    meta = MS.artifact_meta(spark, path)
    assert meta["self_n_rows"] == "7"
    assert meta["self_content_crc"] not in (None, "", "None")
    assert MS.verify_artifact(spark, path) == "valid"


def test_torn_write_duplicate_rows_rejected_on_load(spark, tmp_path):
    """The ADVICE scenario: an interleaved pair of concurrent overwrites
    leaves part files of BOTH writes — every fingerprint key still
    matches, but the artifact's own recorded cardinality does not. The
    load must treat the artifact as absent (rebuild), never serve it."""
    import glob
    import shutil

    path = str(tmp_path / "art")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    MS.save_artifact(spark, path, df, {"kind": "t", "n": 5})
    assert MS.load_artifact(spark, path, {"kind": "t", "n": 5}) is not None

    # simulate the torn write: duplicate a committed part file in place
    part = glob.glob(f"{path}/data/part-*.parquet")[0]
    shutil.copy(part, part.replace("part-", "part-dup-"))

    assert MS.load_artifact(spark, path, {"kind": "t", "n": 5}) is None
    assert MS.verify_artifact(spark, path) == "count_mismatch"


def test_poisoned_artifact_same_shape_caught_by_crc_and_identity_gate(
    spark, tmp_path
):
    """The verdict's negative case: a mutated artifact with the SAME row
    count and untouched meta passes the serve-path count check by
    construction — the deep crc verdict and the rebuild-vs-stored
    comparator must both flag it."""
    clean = str(tmp_path / "clean")
    poisoned = str(tmp_path / "poisoned")
    df = spark.range(6).selectExpr("id", "id * 3 AS v")
    MS.save_artifact(spark, clean, df, {"kind": "t"})
    MS.save_artifact(spark, poisoned, df, {"kind": "t"})

    # poison: rewrite the data with one value changed, same cardinality,
    # preserving meta (fingerprint + n_rows + crc all claim the original)
    import shutil

    mutated = df.selectExpr("id", "CASE WHEN id = 3 THEN 999 ELSE v END AS v")
    mutated.coalesce(1).write.mode("overwrite").parquet(f"{poisoned}/data.new")
    shutil.rmtree(f"{poisoned}/data")
    shutil.move(f"{poisoned}/data.new", f"{poisoned}/data")

    # serve-path count check passes by construction (same cardinality) …
    assert MS.load_artifact(spark, poisoned, {"kind": "t"}) is not None
    # … but the deep verdict and the identity comparator both catch it
    assert MS.verify_artifact(spark, poisoned) == "crc_mismatch"
    assert not MS.artifacts_identical(spark, clean, poisoned)
    assert MS.artifacts_identical(spark, clean, clean)


def test_failed_save_leaves_no_scratch_and_stale_scratch_is_pruned(
    spark, tmp_path
):
    """r9 review: a failed staged write must clean its own scratch dir,
    a crash-orphaned one must be age-pruned by the next save, and
    registry listings must never mistake scratch for an artifact."""
    import os
    import time

    root = str(tmp_path / "reg")
    path = f"{root}/sfX/art"

    # failure mid-write (df.coalesce explodes on collect-time) — use a
    # frame whose write fails: a column that divides by zero under ANSI
    bad = spark.range(3).selectExpr("id", "id / 0 AS boom")
    with pytest.raises(Exception):
        MS.save_artifact(spark, path, bad, {"kind": "t"})
    parent = os.path.dirname(path)
    leftovers = [d for d in os.listdir(parent) if not MS._is_registry_slot(d)]
    assert leftovers == [], f"failed save leaked scratch: {leftovers}"

    # a crash-orphaned stage dir (fabricated, mtime aged >1h) is pruned
    # by the next successful save of the same artifact
    corpse = f"{path}.__stage__.deadbeef0000"
    os.makedirs(corpse)
    old = time.time() - 7200
    os.utime(corpse, (old, old))
    # r10 ADVICE: a PREFIX-SIBLING artifact's scratch (art_v2) must never
    # be a prune candidate of art's save, however old — only <name>.__*
    sibling_corpse = f"{path}_v2.__stage__.cafecafe0000"
    os.makedirs(sibling_corpse)
    os.utime(sibling_corpse, (old, old))
    MS.save_artifact(spark, path, spark.range(2).selectExpr("id"), {"kind": "t"})
    assert not os.path.exists(corpse), "stale scratch corpse not pruned"
    assert os.path.exists(sibling_corpse), "pruned a prefix-sibling's scratch"
    import shutil

    shutil.rmtree(sibling_corpse, ignore_errors=True)
    assert MS.verify_artifact(spark, path) == "valid"
    # and the report sees exactly one slot, no scratch rows
    names = [r.artifact for r in MS.registry_report(spark, root).collect()]
    assert names == ["art"]


def test_committed_artifacts_match_fresh_rebuild(spark, tmp_path, monkeypatch):
    """The r8 verdict's top item: the fingerprint boundary (counts + ids +
    params) cannot catch a builder-semantics change that forgot an
    ARTIFACT_VERSION bump — so re-run EVERY builder from the raw tables
    into a scratch registry and assert row-identity with the committed
    copy. Any drift between code and committed bytes fails here, the
    round it happens."""
    import os

    import __spark_entry__ as E
    from __spark_entry__ import ARTIFACT_BUILDERS
    from tests.conftest import SF_DIR

    tag = os.path.basename(SF_DIR.rstrip("/"))
    committed_root = MS.default_model_dir()
    committed = {
        name: os.path.join(committed_root, tag, name)
        for name in ARTIFACT_BUILDERS
    }
    missing = [n for n, p in committed.items() if not os.path.isdir(p)]
    assert not missing, f"committed registry lacks {missing} at {tag}"
    # the gate must be EXHAUSTIVE: an artifact on disk that is not in
    # ARTIFACT_BUILDERS would silently escape the rebuild comparison
    on_disk = {
        d for d in os.listdir(os.path.join(committed_root, tag))
        if os.path.isdir(os.path.join(committed_root, tag, d))
        and MS._is_registry_slot(d)  # staged-save scratch is never a slot
    }
    unmapped = on_disk - set(ARTIFACT_BUILDERS)
    assert not unmapped, (
        f"registry artifacts with no ARTIFACT_BUILDERS entry: {unmapped} — "
        "add them to the map so the identity gate covers them"
    )

    scratch = str(tmp_path / "scratch_registry")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", scratch)
    E.release(spark, SF_DIR)
    qs = E.queries()
    for qname in sorted(set(ARTIFACT_BUILDERS.values())):
        qs[qname](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    diverged = []
    for name in ARTIFACT_BUILDERS:
        rebuilt = os.path.join(scratch, tag, name)
        assert os.path.isdir(rebuilt), f"rebuild did not produce {name}"
        if not MS.artifacts_identical(spark, committed[name], rebuilt):
            diverged.append(name)
    assert not diverged, (
        f"committed artifacts diverge from a fresh rebuild: {diverged} — "
        "a builder changed without regenerating the registry (or without "
        "an ARTIFACT_VERSION bump)"
    )
    E.release(spark, SF_DIR)


def test_footer_helpers_agree_with_spark_and_meta_paths_agree(spark, tmp_path):
    """r10: the serve path validates through driver-side pyarrow footer
    reads (no Spark jobs). The helpers must agree EXACTLY with the Spark
    computation they replace — counts, id bounds, and the meta dict —
    and the corpus fingerprint must be path-independent (footer vs the
    Spark fallback produce identical values), else a non-local session
    would spuriously invalidate every artifact a local session saved."""
    from pyspark.sql import functions as F

    from clusterforge_spark.sources import readers as RD

    for table, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        path = f"{SF_DIR}/{table}.parquet"
        n = RD.footer_row_count(path)
        mm = RD.footer_column_min_max(path, col)
        row = (
            load_table(spark, SF_DIR, table)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(col).alias("lo"),
                F.max(col).alias("hi"),
            )
            .collect()[0]
        )
        assert n == row.n
        assert mm == (row.lo, row.hi)

    # non-local / missing paths refuse (callers then use the Spark path)
    assert RD.footer_row_count("s3://bucket/x.parquet") is None
    assert RD.footer_row_count(str(tmp_path / "nope.parquet")) is None
    assert RD.footer_column_min_max("s3://bucket/x.parquet", "a") is None

    # artifact_meta's pyarrow fast path returns the same dict the Spark
    # reader sees
    path = str(tmp_path / "reg" / "sfX" / "art")
    MS.save_artifact(spark, path, spark.range(3).selectExpr("id"), {"kind": "t"})
    fast = MS.artifact_meta(spark, path)
    rows = spark.read.parquet(f"{path}/meta").collect()
    slow = {r.key: r.value for r in rows}
    assert fast == slow
    # and the footer count validates the artifact exactly as the Spark
    # count did: 3 rows recorded, 3 in the footers
    assert RD.footer_row_count(f"{path}/data") == 3
    assert MS.load_artifact(spark, path, {"kind": "t"}) is not None


def test_footer_helpers_cap_falls_back_and_fingerprints_are_identical(
    spark, tmp_path, monkeypatch
):
    """r11 (verdict item 4): above FOOTER_MAX_PART_FILES parts the
    footer helpers refuse (the serial driver loop would stall at 100 TB
    file counts) and callers take the distributed Spark fallback — which
    must compute IDENTICAL fingerprint values, so the cap is purely a
    latency decision, never a validity one. Also pins the r11 ADVICE
    hardening: string columns refuse footer stats (BYTE_ARRAY min/max
    can be writer-truncated), ints still serve."""
    from pyspark.sql import functions as F

    from clusterforge_spark.sources import readers as RD

    path = str(tmp_path / "many_parts.parquet")
    spark.range(100).selectExpr(
        "id", "cast(id as string) as s"
    ).repartition(5).write.parquet(path)

    n_footer = RD.footer_row_count(path)
    mm_footer = RD.footer_column_min_max(path, "id")
    assert n_footer == 100 and mm_footer == (0, 99)
    # string column: refused even below the cap (truncatable stats)
    assert RD.footer_column_min_max(path, "s") is None

    # drop the cap below the part count: both helpers refuse ...
    monkeypatch.setattr(RD, "FOOTER_MAX_PART_FILES", 4)
    assert RD.footer_row_count(path) is None
    assert RD.footer_column_min_max(path, "id") is None
    # ... and the Spark fallback computes the identical values
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()[0]
    assert (row.n, (row.lo, row.hi)) == (n_footer, mm_footer)
