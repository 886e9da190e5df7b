"""Clustering: nearest-centroid geometry (pure SQL) + MLlib K-means.

Two layers, mirroring SURVEY.md §7 phases B/C:

* **Geometry on fixed centroids** — assignment, sizes, inertia, new-point
  prediction as pure DataFrame expressions. Fully deterministic and
  oracle-checkable; this is also exactly what a trained model's *serving*
  path looks like (centroids are literals broadcast into the plan — a
  broadcast nested-loop join against k rows, executed as a map-only
  projection, no shuffle).
* **MLlib fit** — distributed Lloyd's via pyspark.ml.clustering.KMeans
  with the reference's guards (k∈[3,5]: model.rs:138-142; n≥k:
  model.rs:144-150) and a pinned seed (the reference uses a thread RNG,
  model.rs:158-161 — nondeterministic; pinning is a documented
  improvement).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clusterforge_spark.functions.rounding import round_det

#: Fixed literal centroids in scaled (z-score) RFM space for the
#: deterministic geometry queries (k=4, dims = recency_z/frequency_z/
#: monetary_z). Arbitrary but fixed — the oracle uses the same literals.
FIXED_CENTROIDS: tuple[tuple[float, float, float], ...] = (
    (-0.75, 0.9, 1.1),
    (0.9, -0.6, -0.5),
    (-0.2, -0.4, -0.3),
    (1.6, 1.2, 1.8),
)

MIN_K, MAX_K = 3, 5


def _dist_expr(cols: tuple[str, ...], centroid: tuple[float, ...]) -> F.Column:
    """Euclidean distance from feature columns to one literal centroid."""
    sq = None
    for c, v in zip(cols, centroid):
        term = (F.col(c) - F.lit(float(v))) * (F.col(c) - F.lit(float(v)))
        sq = term if sq is None else sq + term
    return F.sqrt(sq)


def assign_nearest(
    df: DataFrame,
    centroids: tuple[tuple[float, ...], ...] = FIXED_CENTROIDS,
    cols: tuple[str, ...] = ("recency_z", "frequency_z", "monetary_z"),
) -> DataFrame:
    """O20+O24: argmin-Euclidean assignment with tie → lowest index.

    Implemented as array_min over array<struct<dist,idx>>: struct ordering
    compares dist first, then idx, which reproduces the reference's strict
    ``<`` tie-break (model.rs:43) exactly. Map-only (centroids are
    literals); at 100 TB this scales linearly with no shuffle.

    Adds columns: ``cluster`` (int), ``dist`` (double, Euclidean).
    """
    best = F.array_min(
        F.array(
            *[
                F.struct(_dist_expr(cols, cen).alias("dist"), F.lit(i).alias("idx"))
                for i, cen in enumerate(centroids)
            ]
        )
    )
    return df.withColumn("__best", best).select(
        *df.columns,
        F.col("__best.idx").cast("long").alias("cluster"),
        F.col("__best.dist").alias("dist"),
    )


def cluster_sizes(assigned: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """O21: histogram of labels + share of total (viz.rs:176-186 stats).

    The total is a scalar subquery-style 1-row broadcast, not a collect.
    """
    sizes = assigned.groupBy(cluster_col).agg(F.count("*").alias("size"))
    total = assigned.agg(F.count("*").alias("__total"))
    return (
        sizes.crossJoin(F.broadcast(total))
        .select(
            cluster_col,
            "size",
            round_det(F.col("size") * 100.0 / F.col("__total"), 4).alias("pct"),
        )
    )


def inertia(
    assigned: DataFrame,
    centroids: tuple[tuple[float, ...], ...] = FIXED_CENTROIDS,
    cols: tuple[str, ...] = ("recency_z", "frequency_z", "monetary_z"),
) -> DataFrame:
    """O22: WCSS = Σ‖x − c_assigned‖² (model.rs:198-215) as one global agg.

    Uses the squared distance of the already-assigned centroid (dist² from
    assign_nearest), so it is a single map+reduce over the data.
    """
    if "dist" in assigned.columns:
        sq = F.col("dist") * F.col("dist")
    else:  # pragma: no cover - assign first in all current paths
        raise ValueError("run assign_nearest first (need dist column)")
    return assigned.agg(round_det(F.sum(sq), 6).alias("inertia"))


@dataclass
class KMeansResult:
    """Fitted clustering: model handle + assignments + diagnostics."""

    model: object  # pyspark.ml.clustering.KMeansModel
    assignments: DataFrame  # input cols + 'cluster'
    centroids: list[list[float]]
    inertia: float
    k: int


def fit_kmeans(
    scaled: DataFrame,
    k: int = 4,
    max_iter: int = 300,
    tol: float = 1e-4,
    seed: int = 42,
    cols: tuple[str, ...] = ("recency_z", "frequency_z", "monetary_z"),
) -> KMeansResult:
    """O18+O19+O22: distributed K-means fit with reference guards.

    Guards mirror model.rs:138-150 (k∈[3,5], n≥k — n checked with a cheap
    count on the already-small post-agg table). MLlib runs Lloyd's with
    broadcast centroids + map-side partial sums per iteration — the
    distributed analog of the reference's in-process loop; trainingCost is
    the reference's inertia (model.rs:198-215 ≡ summary.trainingCost).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    if not (MIN_K <= k <= MAX_K):
        raise ValueError(f"Number of clusters must be between {MIN_K} and {MAX_K}, got {k}")

    assembler = VectorAssembler(inputCols=list(cols), outputCol="features")
    # cache the assembled vectors for the fit only: Lloyd's revisits them
    # every iteration (MLlib warns about uncached input for exactly this
    # reason); a cache left behind would be matched by plan and serve a
    # later call stale data. The n guard's count fills the cache, so an
    # uncached input is computed once.
    vec = assembler.transform(scaled).cache()
    km = KMeans(k=k, maxIter=max_iter, tol=tol, seed=seed, featuresCol="features",
                predictionCol="cluster")
    try:
        n = vec.count()
        if n < k:
            raise ValueError(f"Number of data points ({n}) must be >= number of clusters ({k})")
        model = km.fit(vec)
    finally:
        vec.unpersist()
    assigned = model.transform(vec).drop("features")
    return KMeansResult(
        model=model,
        assignments=assigned,
        centroids=[list(map(float, c)) for c in model.clusterCenters()],
        inertia=float(model.summary.trainingCost),
        k=k,
    )


def predict_point(
    params_row: dict,
    centroids: tuple[tuple[float, ...], ...],
    point: tuple[float, float, float],
    cols: tuple[str, ...] = ("recency", "frequency", "monetary"),
) -> tuple[int, float]:
    """O17+O20+O25: scale one raw (R,F,M) triple and assign it.

    Driver-side math (k·d flops) matching scale_new_data + predict
    (data.rs:78-87, model.rs:26-50): strict < keeps the lowest index on
    ties.
    """
    from clusterforge_spark.operators.features import scale_point

    z = scale_point(params_row, point, cols)
    best_i, best_d = 0, float("inf")
    for i, cen in enumerate(centroids):
        d = sum((a - b) ** 2 for a, b in zip(z, cen)) ** 0.5
        if d < best_d:
            best_i, best_d = i, d
    return best_i, best_d


def grouped_kmeans(embeddings: DataFrame, k: int = 2, iters: int = 8) -> DataFrame:
    """Per-group K-means: one independent model per label, all trained
    in a single ``applyInPandas`` pass — the "thousands of small models"
    pattern (per-tenant / per-category clustering) that a global MLlib
    fit cannot express and a driver loop cannot scale.

    Each group's fit is deterministic Lloyd's in numpy: init = first k
    vectors in vec_id order, fixed iteration count, argmin ties to the
    lowest cluster index, empty clusters keep their previous centroid.
    Arrow-batched; one shuffle on the group key; every group fits in
    its task (the contract of grouped ML — shard by model key).
    Iterative + float-order dependent => rows-only correctness (the
    declared non-SQL-expressible class); exactness is covered by the
    numpy-parity pytest instead.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        "label int, cluster long, n_points long, inertia double"
    )

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        kk = min(k, len(X))
        C = X[:kk].copy()
        for _ in range(iters):
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(kk):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        rows = []
        label = int(pdf["label"].iloc[0])
        for c in range(kk):
            mask = assign == c
            rows.append(
                {
                    "label": label,
                    "cluster": c,
                    "n_points": int(mask.sum()),
                    "inertia": float(np.floor(d[mask, c].sum() * 1e4 + 0.5) / 1e4),
                }
            )
        return pd.DataFrame(rows)

    return embeddings.groupBy("label").applyInPandas(fit, out_schema)
