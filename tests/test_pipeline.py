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


def test_load_retail_rfm_is_compute_rfm_over_the_filtered_csv(spark, tmp_path):
    """The retail CSV path keeps the reference's row filter (positive
    quantity and price, a customer), counts distinct invoices, sums the
    line amounts Quantity·UnitPrice by the cents rule (3 × 0.125 = 0.375
    counts as 0.38) and measures recency from the reference date."""
    from clusterforge_spark.pipeline import load_retail_rfm

    csv = tmp_path / "retail.csv"
    csv.write_text(
        "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"
        "536365,A,X,3,12/1/2011 8:26:00,0.125,17850,UK\n"
        "536365,B,X,2,12/1/2011 8:26:00,2.55,17850,UK\n"
        "536366,C,X,1,12/8/2011 12:00:00,1.00,17850,UK\n"
        "C536367,D,X,-1,12/8/2011 18:00:00,9.99,17850,UK\n"
        "536368,E,X,1,12/8/2011 18:00:00,0,17850,UK\n"
        "536369,F,X,5,12/2/2011 9:00:00,1.00,,UK\n"
        "536370,G,X,4,12/5/2011 0:00:00,0.5,12345,FR\n"
    )
    rfm = load_retail_rfm(spark, str(csv), "2011-12-09 00:00:00")
    assert rfm.columns == ["user_id", "recency", "frequency", "monetary"]
    assert sorted(tuple(r) for r in rfm.collect()) == [
        (12345, 4.0, 1.0, 2.0),
        (17850, 0.5, 2.0, 6.48),
    ]
