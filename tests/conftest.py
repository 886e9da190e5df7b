"""Shared pytest fixtures: one SparkSession per test run, sf0.001 tables."""

from __future__ import annotations

import os
import sys

import pytest

#: the repository root, so the suite runs from any checkout
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from clusterforge_spark.session import get_spark

    s = get_spark("clusterforge-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def events(spark):
    from clusterforge_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="session")
def documents(spark):
    from clusterforge_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="session")
def embeddings(spark):
    from clusterforge_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="session")
def lineitem(spark):
    from clusterforge_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "lineitem").cache()


@pytest.fixture(scope="session")
def orders(spark):
    from clusterforge_spark.sources.readers import load_table

    return load_table(spark, SF_DIR, "orders").cache()


@pytest.fixture(scope="session")
def rfm(events):
    from clusterforge_spark.operators.features import compute_rfm

    return compute_rfm(events).cache()


@pytest.fixture(scope="session")
def scaled(rfm):
    from clusterforge_spark.operators.features import scale_features

    return scale_features(rfm).cache()


@pytest.fixture(scope="session")
def assigned(scaled):
    from clusterforge_spark.operators.clustering import assign_nearest

    return assign_nearest(scaled).cache()
