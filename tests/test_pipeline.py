"""Pipeline integration: small-n fast path vs distributed operators."""

from __future__ import annotations

import pytest

from clusterforge_spark.operators import clustering as C
from clusterforge_spark.operators import metrics as M
from clusterforge_spark.pipeline import load_events_rfm, run_full_pipeline

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def result(spark):
    rfm = load_events_rfm(spark, SF_DIR)
    return run_full_pipeline(spark, rfm, n_rows=1000, k=4, seed=42)


def test_pipeline_shapes(result):
    assert result.k == 4
    assert result.n_customers > 0
    assert len(result.centroids) == 4
    assert sum(s for _, s, _ in result.cluster_sizes) == result.n_customers
    assert result.inertia >= 0
    assert result.silhouette is not None and -1 <= result.silhouette <= 1


def test_pipeline_deterministic(spark, result):
    rfm = load_events_rfm(spark, SF_DIR)
    again = run_full_pipeline(spark, rfm, n_rows=1000, k=4, seed=42)
    assert again.centroids == result.centroids
    assert again.inertia == result.inertia
    assert again.silhouette == result.silhouette


def test_numpy_silhouette_matches_distributed(spark, result):
    """The fast-path silhouette equals the distributed pairwise operator
    run on the same fitted centroids (same sample, same definition)."""
    scaled = result.assignments.drop("cluster", "dist")
    assigned = C.assign_nearest(
        scaled, tuple(tuple(c) for c in result.centroids)
    )
    dist_sil = M.silhouette_mean(
        M.silhouette_sample(assigned, id_col="user_id")
    ).collect()[0].mean_silhouette
    assert result.silhouette == dist_sil


def test_numpy_inertia_matches_distributed(spark, result):
    import pyspark.sql.functions as F

    scaled = result.assignments.drop("cluster", "dist")
    assigned = C.assign_nearest(scaled, tuple(tuple(c) for c in result.centroids))
    sql_inertia = assigned.agg(
        F.sum(F.col("dist") * F.col("dist")).alias("i")
    ).collect()[0].i
    assert sql_inertia == pytest.approx(result.inertia, rel=1e-9)
