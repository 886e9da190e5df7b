"""End-to-end pipelines mirroring the reference CLI's two modes
(main.rs:84-162 full run, main.rs:31-81 predict mode), generalized to
either a retail CSV (reference-native schema) or the driver's events
parquet.

Differences from the reference, by design (SURVEY.md §7):
  * K-means is seeded → reproducible runs (the reference re-randomizes
    per invocation, model.rs:158).
  * The fitted model is reusable; predict mode still offers the
    reference's refit-from-raw behavior for parity, but ``KMeansResult``
    can serve any number of predictions without refitting.
  * Small-n fast path: after RFM aggregation the per-customer table is
    tiny relative to the raw events (541k rows → 4,338 customers in the
    reference's dataset). When n_customers ≤ ``driver_fit_threshold``
    the Lloyd's loop runs on collected features in numpy (seeded,
    deterministic) — the aggregation/scan stays fully distributed and
    only k centroids × d floats of state matter; above the threshold we
    fit with distributed MLlib. This is the same regime split MLlib
    itself uses internally (centroids always live on the driver). The
    distributed branch caches the RFM table and releases it on return.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clusterforge_spark.operators import clustering as C
from clusterforge_spark.operators import features as FE
from clusterforge_spark.sources.readers import load_table, read_retail_csv

ZCOLS = ("recency_z", "frequency_z", "monetary_z")


@dataclass
class PipelineResult:
    n_rows: int
    n_customers: int
    k: int
    centroids: list[list[float]]
    inertia: float
    cluster_sizes: list[tuple[int, int, float]]  # (cluster, size, pct)
    silhouette: float | None
    timings: dict[str, float] = field(default_factory=dict)
    scaler_params: dict | None = None
    #: lazy assignment-frame construction: building the scale+assign
    #: DataFrame is ~0.45 s of pure py4j expression plumbing (measured
    #: at sf0.1) that stats/bench/predict consumers never execute — only
    #: viz/report paths read ``assignments``, so the plan is built on
    #: first access (same laziness Spark itself gives the EXECUTION)
    assignments_builder: object | None = field(default=None, repr=False)

    @cached_property
    def assignments(self) -> DataFrame | None:
        return self.assignments_builder() if self.assignments_builder else None


def _numpy_kmeans(feats, k: int, max_iter: int, tol: float, seed: int):
    """Seeded Lloyd's on a small dense matrix (driver-side fast path)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    x = np.asarray(feats, dtype=np.float64)
    centers = x[rng.choice(len(x), size=k, replace=False)]
    labels = np.zeros(len(x), dtype=np.int64)
    for _ in range(max_iter):
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        labels = d2.argmin(axis=1)
        new_centers = np.array(
            [
                x[labels == j].mean(axis=0) if (labels == j).any() else centers[j]
                for j in range(k)
            ]
        )
        shift = float(np.sqrt(((new_centers - centers) ** 2).sum(axis=1)).max())
        centers = new_centers
        if shift < tol:
            break
    inertia = float(((x - centers[labels]) ** 2).sum())
    return centers.tolist(), labels, inertia


def load_events_rfm(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    """RFM over the events table. ``spread=True`` round-robins the scan
    across all cores first — the driver testdata is one single-row-group
    file (scan parallelism 1), whereas any real deployment has many
    splits; benchmarks use it to measure the engine, not the file layout.
    """
    events = load_table(spark, sf_dir, "events")
    if spread:
        events = events.repartition(spark.sparkContext.defaultParallelism)
    return FE.compute_rfm(events)


def load_retail_rfm(spark: SparkSession, csv_path: str, ref_instant: str) -> DataFrame:
    """Reference-native load: CSV → filter → TotalAmount → RFM
    (data.rs:97-191 semantics on the retail schema)."""
    tx = read_retail_csv(spark, csv_path)
    tx = tx.filter(
        (F.col("Quantity") > 0)
        & (F.col("UnitPrice") > 0)
        & F.col("CustomerID").isNotNull()
    ).withColumn("TotalAmount", F.col("Quantity") * F.col("UnitPrice"))
    rfm = (
        tx.groupBy("CustomerID")
        .agg(
            F.max("InvoiceDate").alias("last_ts"),
            F.countDistinct("InvoiceNo").cast("double").alias("frequency"),
            F.sum("TotalAmount").alias("monetary"),
        )
        .withColumn(
            "recency",
            (
                F.unix_micros(F.to_timestamp(F.lit(ref_instant)))
                - F.unix_micros("last_ts")
            ).cast("double")
            / F.lit(86_400_000_000.0),
        )
        .select(
            F.col("CustomerID").alias("user_id"), "recency", "frequency", "monetary"
        )
        .filter(
            (F.col("recency") >= 0) & (F.col("frequency") > 0) & (F.col("monetary") > 0)
        )
    )
    return rfm


def run_full_pipeline(
    spark: SparkSession,
    rfm: DataFrame,
    n_rows: int,
    k: int = 4,
    max_iter: int = 300,
    tol: float = 1e-4,
    seed: int = 42,
    silhouette_n: int = 100,
    driver_fit_threshold: int = 250_000,
    model_path: str | None = None,
) -> PipelineResult:
    """RFM → scale → K-means → stats + sampled silhouette, with stage
    timings in the shape of the reference's report (main.rs:87-145).

    ``model_path``: when given, the fitted scaler + centroids (and the
    MLlib model in the distributed regime) are persisted there
    (model_store.save_model) so predict mode can serve without a refit —
    the reference refits from raw data per prediction (main.rs:44-52).

    ``driver_fit_threshold`` bounds the driver-side collect of the
    small-n fast path. 250k rows × (id + 3 doubles) is ~10 MB of raw
    values but ~125 MB of CPython Row-object heap during the collect —
    comfortably inside a default driver while leaving headroom for the
    result holder; beyond it the pipeline switches to the distributed
    MLlib branch: one stats job fills a cache of the RFM table and gives
    n and the scaler, the silhouette is computed on the driver from the
    bounded ``silhouette_n``-row sample, and nothing stays cached
    (tests/test_persistence.py pins that branch). See SCALE.md for the
    derivation.
    """
    import numpy as np

    timings: dict[str, float] = {}

    if not (C.MIN_K <= k <= C.MAX_K):
        raise ValueError(
            f"Number of clusters must be between {C.MIN_K} and {C.MAX_K}, got {k}"
        )

    t0 = time.perf_counter()
    # ONE distributed pass over the raw data materializes the per-customer
    # RFM table (tiny by construction — one row per customer); whether the
    # z-scaling runs distributed or on the collected matrix is decided by
    # n, mirroring the fit-strategy split below. The reference scales on
    # the dense matrix too (data.rs:16-41).
    # The limit(threshold+1) probe is ONE action in the common small-n
    # regime (a count-first branch decision costs a second full agg job —
    # measured 2× slower at sf0.1). If the limit is hit, the probe rows are
    # discarded (≤ threshold+1 bounded waste) and the table is cached for
    # the rest of the call: one aggregate fills it and gives the TRUE
    # count and the scaler's μ, σ. Caching before the probe would save
    # that pass but slowed the small-n path ~5% (rfm_retail benchmark).
    # AQE's per-exchange materialization barriers (each a separate
    # re-optimized job) cost more than they can save on this fixed
    # two-stage bounded probe — measured 0.37 s vs 0.71 s median at
    # sf0.1. Scoped + restored: everything at corpus scale (the
    # distributed MLlib branch, dedup, joins) still runs under AQE.
    base = rfm.select("user_id", *FE.RFM_COLS)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rows = base.limit(driver_fit_threshold + 1).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    if len(rows) <= driver_fit_threshold:
        # sort by key: the fitted model must not depend on partition/collect
        # order (seeded init indexes into this matrix)
        rows.sort(key=lambda r: r.user_id)
        n = len(rows)
        timings["rfm_scale"] = time.perf_counter() - t0
        if n < k:
            raise ValueError(f"Number of data points ({n}) must be >= number of clusters ({k})")

        t0 = time.perf_counter()
        # small-n fast path: post-aggregation data fits on the driver by
        # construction → numpy population-σ scaler (σ-floor 1e-8,
        # data.rs:31-37) + seeded Lloyd's; everything downstream (sizes,
        # inertia, silhouette) is vectorized on the same matrix, zero
        # extra Spark jobs.
        raw = np.array([[r[c] for c in FE.RFM_COLS] for r in rows], dtype=np.float64)
        mu = raw.mean(axis=0)
        sd = np.maximum(raw.std(axis=0), 1e-8)
        scaler_params = {
            **{f"{c}_mean": float(mu[i]) for i, c in enumerate(FE.RFM_COLS)},
            **{f"{c}_std": float(sd[i]) for i, c in enumerate(FE.RFM_COLS)},
        }
        mllib_model = None
        x = (raw - mu) / sd
        centroids, labels, inertia = _numpy_kmeans(x, k, max_iter, tol, seed)
        counts = np.bincount(labels, minlength=k)
        sizes = [
            (int(j), int(counts[j]), round(100.0 * counts[j] / n, 4))
            for j in range(k)
            if counts[j] > 0
        ]
        timings["kmeans_fit"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        sample_x, sample_labels = x[:silhouette_n], labels[:silhouette_n]  # key-sorted
    else:
        rows = []
        # a cache the caller holds on the same plan is used and kept
        release = base.storageLevel == StorageLevel.NONE
        base = base.cache()
        try:
            # FE.fit_scaler's expressions, plus the count
            aggs = [F.count("*").alias("n")]
            for c in FE.RFM_COLS:
                aggs.append(F.avg(c).alias(f"{c}_mean"))
                aggs.append(F.greatest(F.stddev_pop(c), F.lit(1e-8)).alias(f"{c}_std"))
            scaler_params = base.agg(*aggs).collect()[0].asDict()
            n = scaler_params.pop("n")
            timings["rfm_scale"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            # literal z = (x − μ)/σ: map-only over the cache, bit-identical
            # to FE.transform_scaler's broadcast-join form
            scaled = base.select("user_id", *[
                ((F.col(c) - scaler_params[f"{c}_mean"]) / scaler_params[f"{c}_std"]).alias(z)
                for c, z in zip(FE.RFM_COLS, ZCOLS)
            ])
            # fit_kmeans applies the n >= k guard
            res = C.fit_kmeans(scaled, k=k, max_iter=max_iter, tol=tol, seed=seed, cols=ZCOLS)
            centroids, inertia, mllib_model = res.centroids, res.inertia, res.model
            assigned = C.assign_nearest(scaled, tuple(tuple(c) for c in centroids), ZCOLS)
            sizes = [(r.cluster, r.size, r.pct) for r in C.cluster_sizes(assigned).collect()]
            timings["kmeans_fit"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            # metrics.silhouette_sample's key-ordered sample, bounded by
            # silhouette_n: one takeOrdered job, then scored on the driver
            sample = assigned.orderBy("user_id").limit(silhouette_n).collect()
            sample_x = np.array([[r[z] for z in ZCOLS] for r in sample])
            sample_labels = np.array([r.cluster for r in sample])
        finally:
            if release:
                base.unpersist()
    sil = _numpy_silhouette(sample_x, sample_labels)
    timings["silhouette"] = time.perf_counter() - t0
    cent_t = tuple(tuple(c) for c in centroids)

    result = PipelineResult(
        n_rows=n_rows,
        n_customers=n,
        k=k,
        centroids=[list(map(float, c)) for c in centroids],
        inertia=float(inertia),
        cluster_sizes=sizes,
        silhouette=sil,
        timings=timings,
        scaler_params=scaler_params,
        assignments_builder=lambda: C.assign_nearest(FE.scale_features(rfm), cent_t, ZCOLS),
    )
    if model_path is not None:
        from clusterforge_spark.model_store import save_model

        save_model(
            spark,
            model_path,
            centroids=result.centroids,
            scaler_params=scaler_params,
            k=k,
            cols=FE.RFM_COLS,
            cluster_sizes=sizes,
            inertia=result.inertia,
            mllib_model=mllib_model,
        )
    return result


def _numpy_silhouette(x, labels) -> float:
    """Pairwise silhouette on the sampled matrix — same definition as
    operators/metrics.silhouette_sample (degenerate cases → 0)."""
    import numpy as np

    n = len(x)
    if n == 0:
        return 0.0
    d = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(axis=2))
    sil = np.zeros(n)
    for i in range(n):
        same = (labels == labels[i]) & (np.arange(n) != i)
        others = [labels == c for c in np.unique(labels) if c != labels[i]]
        if not same.any() or not others:
            continue
        a = d[i][same].mean()
        b = min(d[i][m].mean() for m in others if m.any())
        m = max(a, b)
        sil[i] = (b - a) / m if m > 0 else 0.0
    return round(float(sil.mean()), 4)


def run_prediction(
    spark: SparkSession,
    rfm: DataFrame | None,
    point: tuple[float, float, float],
    k: int = 4,
    seed: int = 42,
    model_path: str | None = None,
    **kwargs,
) -> tuple[int, PipelineResult]:
    """Predict mode: classify one (R,F,M) triple with a fitted scaler +
    centroids.

    With a ``model_path`` holding a previously saved model, serving SKIPS
    the refit entirely (``rfm`` may even be None) — k·d floats loaded
    from parquet and a driver-side distance computation. Without one, the
    reference's refit-from-raw behavior (main.rs:31-81) runs, and the fit
    is saved to ``model_path`` if given (so the next predict is refit-free).
    """
    from clusterforge_spark.model_store import load_model, model_exists

    if model_path is not None and model_exists(spark, model_path):
        m = load_model(spark, model_path)
        cluster, _dist = C.predict_point(
            m.scaler_params, tuple(tuple(c) for c in m.centroids), point, cols=m.cols
        )
        result = PipelineResult(
            n_rows=-1,
            n_customers=sum(s for _, s, _ in m.cluster_sizes),
            k=m.k,
            centroids=m.centroids,
            inertia=m.inertia if m.inertia is not None else float("nan"),
            cluster_sizes=m.cluster_sizes,
            silhouette=None,
            timings={},
            scaler_params=m.scaler_params,
        )
        return cluster, result

    result = run_full_pipeline(
        spark, rfm, n_rows=-1, k=k, seed=seed, model_path=model_path, **kwargs
    )
    cluster, _dist = C.predict_point(
        result.scaler_params, tuple(tuple(c) for c in result.centroids), point
    )
    return cluster, result


def format_report(res: PipelineResult) -> str:
    """Console stats report in the reference's shape (viz.rs:163-193)."""
    lines = [
        "=== Cluster Statistics ===",
        f"clusters: {res.k}   points: {res.n_customers}",
        f"inertia (WCSS): {res.inertia:.4f}",
        f"silhouette (sampled): {res.silhouette}",
    ]
    total = sum(s for _, s, _ in res.cluster_sizes) or 1
    for cluster, size, pct in sorted(res.cluster_sizes):
        lines.append(f"  cluster {cluster}: {size} points ({pct:.1f}%)")
    lines.append("centroids (scaled space):")
    for i, c in enumerate(res.centroids):
        lines.append("  c{}: [{}]".format(i, ", ".join(f"{v:.4f}" for v in c)))
    for stage, secs in res.timings.items():
        lines.append(f"t_{stage}: {secs:.3f}s")
    return "\n".join(lines)
