"""RFM + scaler invariants ported from the reference's tests
(FIXTURES.md §3: data.rs:284-295 scaler mean≈0, integration.rs:112-133
bounded z and non-negative raw features)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest


def test_rfm_shape_and_invariants(rfm):
    rows = rfm.collect()
    assert len(rows) > 0
    assert rfm.columns == ["user_id", "recency", "frequency", "monetary"]
    for r in rows:
        # post-agg HAVING filter invariants (data.rs:177-183)
        assert r.recency >= 0
        assert r.frequency > 0
        assert r.monetary > 0


def test_rfm_matches_manual_aggregation(events, rfm):
    manual = (
        events.groupBy("user_id")
        .agg(
            F.countDistinct("event_id").alias("f"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("m"),
        )
        .collect()
    )
    by_user = {r.user_id: r for r in rfm.collect()}
    for r in manual:
        assert by_user[r.user_id].frequency == float(r.f)
        assert by_user[r.user_id].monetary == r.m



def _write_money_events(path: str, values: list[tuple[int, float]]) -> None:
    """One purchase event per (user_id, value), all before the RFM reference
    instant, written by pyarrow as the driver's events table is."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(values)
    ts = np.datetime64("2024-06-01", "us") + np.arange(n) * 3_600_000_000
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in values], pa.int64()),
            "event_type": pa.array(["purchase"] * n),
            "value": pa.array([v for _, v in values], pa.float64()),
            "props": pa.array(["{}"] * n),
        }),
        path,
    )


def _rfm_of(spark, tmp_path, values):
    from clusterforge_spark.operators.features import compute_rfm
    from clusterforge_spark.sources.readers import load_table

    _write_money_events(str(tmp_path / "events.parquet"), values)
    events = load_table(spark, str(tmp_path), "events")
    return events, compute_rfm(events)


def _oracle_rfm(tmp_path) -> dict:
    import duckdb

    from clusterforge_spark.oracle_sql import q_rfm_features

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    return {u: m for u, _, _, m in con.execute(q_rfm_features()).fetchall()}


def test_rfm_cents_sum_equals_decimal_sum_on_2dp_edges(spark, tmp_path):
    """2-dp amounts whose ×100 is inexact in double (0.29·100 =
    28.999999999999996, …) give the exact decimal sum's double, alone
    and summed per customer; the oracle agrees."""
    edges = [0.29, 1.15, 4.35, 1e7 + 0.01, 92233720368.54]
    values = [(i, v) for i, v in enumerate(edges)] + [(100, v) for v in edges]
    events, rfm = _rfm_of(spark, tmp_path, values)
    dec = {
        r.user_id: r.m
        for r in events.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("m"))
        .collect()
    }
    got = {r.user_id: r.monetary for r in rfm.collect()}
    assert got == dec
    assert [got[i] for i in range(len(edges))] == edges
    assert _oracle_rfm(tmp_path) == got


def test_rfm_3dp_amounts_follow_the_cents_rule(spark, tmp_path):
    """Past 2 dp the rule is floor(v·100 + 0.5) on the doubles: 0.285·100
    is 28.499999999999996, so 0.285 counts as 0.28 (a decimal cast of its
    shortest repr gives 0.29), while 1.115·100 rounds to 111.5 and counts
    as 1.12; Spark and the oracle agree."""
    values = [(1, 1.115), (2, 0.285), (3, 1.115), (3, 0.285)]
    _, rfm = _rfm_of(spark, tmp_path, values)
    got = {r.user_id: r.monetary for r in rfm.collect()}

    def cents(v):
        return math.floor(v * 100 + 0.5)

    assert got == {
        1: cents(1.115) / 100.0,
        2: cents(0.285) / 100.0,
        3: (cents(1.115) + cents(0.285)) / 100.0,
    }
    assert (got[1], got[2]) == (1.12, 0.28)
    assert _oracle_rfm(tmp_path) == got


def test_rfm_money_sum_past_long_range_raises(spark, tmp_path):
    """Two 5e16 amounts are 1e19 cents, past 2^63: the ANSI long sum raises
    instead of wrapping."""
    from pyspark.errors import ArithmeticException

    _, rfm = _rfm_of(spark, tmp_path, [(1, 5e16), (1, 5e16), (2, 1.0)])
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        rfm.collect()


def test_rfm_amount_without_bigint_cents_raises(spark, tmp_path):
    """A customer whose only amount is 1e17 has no bigint cents (1e19 is
    past 2^63): compute_rfm raises instead of reporting 2^63 − 1 saturated
    cents, and the oracle's CAST raises on the same input."""
    import duckdb
    from pyspark.errors import SparkRuntimeException

    _, rfm = _rfm_of(spark, tmp_path, [(1, 1e17), (2, 1.0)])
    with pytest.raises(SparkRuntimeException, match="no bigint cents"):
        rfm.collect()
    with pytest.raises(duckdb.Error):
        _oracle_rfm(tmp_path)


def test_hourly_value_sum_follows_the_cents_rule_like_the_oracle(spark, tmp_path):
    """window_sessionize's hourly money sum goes through rounding.cents: a
    3-dp 0.285 counts as 0.28 (a decimal cast of its shortest repr gives
    0.29), and the oracle's rows are identical."""
    import duckdb

    from clusterforge_spark.operators.relational import window_sessionize
    from clusterforge_spark.oracle_sql import q_window_sessionize

    events, _ = _rfm_of(spark, tmp_path, [(1, 0.285), (2, 1.115), (3, 0.29)])
    got = sorted(tuple(r) for r in window_sessionize(events).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    assert [r[3] for r in got] == [0.28, 1.12, 0.29]
    assert got == sorted(con.execute(q_window_sessionize()).fetchall())


def test_compute_rfm_plan_one_exchange_no_wide_decimal(spark, tmp_path):
    """One hash exchange on user_id carries the whole aggregate chain, and
    no decimal(28,2) accumulator is left in the plan (a fresh file, so no
    cached fixture stands in for the scan)."""
    from clusterforge_spark.plans.explain import exchange_count, plan_string

    _, rfm = _rfm_of(spark, tmp_path, [(1, 1.0), (1, 2.5), (2, 3.25)])
    assert plan_string(rfm, "simple").count("Exchange hashpartitioning(user_id") == 1
    assert exchange_count(rfm) == 1
    # the JSON plan carries every attribute's type, the text forms do not
    assert "decimal(28" not in rfm._jdf.queryExecution().executedPlan().toJSON()


def test_rfm_scaler_bit_identical_with_aqe_on_and_off(spark, events):
    """Over a non-file input (the cached events) the reducer count is the
    session's shuffle-partition conf either way, so the scaler's double
    sums run in the same order."""
    from clusterforge_spark.operators.features import compute_rfm, fit_scaler

    before = spark.conf.get("spark.sql.adaptive.enabled")
    params = []
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            # a reference instant of its own, so the cached `rfm` fixture
            # cannot stand in for the plan
            rfm = compute_rfm(events, ref_instant="2024-07-02 00:00:00")
            params.append(fit_scaler(rfm).collect()[0].asDict())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert params[0] == params[1]

def test_scaler_mean_zero_population_std(scaled):
    """Scaled columns have mean ≈ 0 (tol mirrors data.rs:284-295) and
    population variance ≈ 1 (the reference divides by n, not n−1)."""
    stats = scaled.agg(
        *[F.avg(c).alias(f"{c}_mean") for c in ("recency_z", "frequency_z", "monetary_z")],
        *[F.stddev_pop(c).alias(f"{c}_sd") for c in ("recency_z", "frequency_z", "monetary_z")],
    ).collect()[0]
    for c in ("recency_z", "frequency_z", "monetary_z"):
        assert abs(stats[f"{c}_mean"]) < 1e-10
        assert stats[f"{c}_sd"] == pytest.approx(1.0, abs=1e-9)


def test_scaled_values_bounded(scaled):
    for r in scaled.collect():
        for c in ("recency_z", "frequency_z", "monetary_z"):
            assert abs(r[c]) < 10, f"|z| >= 10 for {c}: {r[c]}"


def test_sigma_floor_on_constant_column(spark):
    """A zero-variance feature must scale with σ=1e-8, not divide by 0
    (data.rs:37)."""
    from clusterforge_spark.operators.features import fit_scaler

    df = spark.createDataFrame([(i, 5.0) for i in range(4)], "user_id long, x double")
    params = fit_scaler(df, cols=("x",)).collect()[0]
    assert params["x_std"] == 1e-8
    assert params["x_mean"] == 5.0


def test_scale_point_roundtrip(spark):
    from clusterforge_spark.operators.features import scale_point

    params = {"recency_mean": 10.0, "recency_std": 2.0,
              "frequency_mean": 4.0, "frequency_std": 1.0,
              "monetary_mean": 100.0, "monetary_std": 50.0}
    z = scale_point(params, (14.0, 6.0, 200.0))
    assert z == [2.0, 2.0, 2.0]
    with pytest.raises(ValueError):
        scale_point(params, (1.0, 2.0))


def test_recency_fractional_days(events, rfm):
    """Recency is fractional days vs 2024-07-01 (data.rs:166-169 semantics)."""
    last = events.agg(F.max("ts").alias("m")).collect()[0].m
    import datetime

    ref = datetime.datetime(2024, 7, 1)
    expected_min = (ref - last.replace(tzinfo=None)).total_seconds() / 86400.0
    min_rec = rfm.agg(F.min("recency").alias("r")).collect()[0].r
    assert math.isclose(min_rec, expected_min, rel_tol=1e-9)


def test_rfm_segments_rules_consistent(rfm):
    from clusterforge_spark.operators.features import rfm_segments

    rows = rfm_segments(rfm).collect()
    assert len(rows) == rfm.count()
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        # first matching rule wins
        if r.r_score >= 4 and r.f_score >= 4 and r.m_score >= 4:
            assert r.segment == "champion"
        elif r.f_score >= 4:
            assert r.segment == "loyal"
        elif r.m_score >= 4:
            assert r.segment == "big_spender"
        elif r.r_score <= 2 and r.f_score >= 3:
            assert r.segment == "at_risk"
        elif r.r_score <= 2:
            assert r.segment == "hibernating"
        else:
            assert r.segment == "regular"


def test_minmax_scaler_closed_form(spark):
    """x ∈ {0, 5, 10} maps to {0, .5, 1}; a constant column maps to 0
    through the 1e-8 range floor, never a divide-by-zero."""
    from clusterforge_spark.operators.features import minmax_scaler

    df = spark.createDataFrame(
        [(1, 0.0, 7.0, 0.0), (2, 5.0, 7.0, 10.0), (3, 10.0, 7.0, 20.0)],
        "user_id long, recency double, frequency double, monetary double",
    )
    rows = {r["user_id"]: r for r in minmax_scaler(df).collect()}
    assert [rows[i]["recency_mm"] for i in (1, 2, 3)] == [0.0, 0.5, 1.0]
    assert [rows[i]["frequency_mm"] for i in (1, 2, 3)] == [0.0, 0.0, 0.0]
    assert [rows[i]["monetary_mm"] for i in (1, 2, 3)] == [0.0, 0.5, 1.0]


def test_robust_scaler_closed_form(spark):
    """Five points {0,1,2,3,100}: median 2, IQR 2 (quantile_cont p25=1,
    p75=3) ⇒ scaled {-1,-.5,0,.5,49}; the whale stays a whale instead of
    compressing the bulk (contrast minmax). Constant column → 0 via the
    1e-8 IQR floor."""
    from clusterforge_spark.operators.features import robust_scaler

    df = spark.createDataFrame(
        [
            (1, 0.0, 7.0, 0.0),
            (2, 1.0, 7.0, 10.0),
            (3, 2.0, 7.0, 20.0),
            (4, 3.0, 7.0, 30.0),
            (5, 100.0, 7.0, 40.0),
        ],
        "user_id long, recency double, frequency double, monetary double",
    )
    rows = {r["user_id"]: r for r in robust_scaler(df).collect()}
    assert [rows[i]["recency_rs"] for i in (1, 2, 3, 4, 5)] == [
        -1.0,
        -0.5,
        0.0,
        0.5,
        49.0,
    ]
    assert all(rows[i]["frequency_rs"] == 0.0 for i in (1, 2, 3, 4, 5))
    # monetary: median 20, IQR = 30-10 = 20
    assert [rows[i]["monetary_rs"] for i in (1, 2, 3, 4, 5)] == [
        -1.0,
        -0.5,
        0.0,
        0.5,
        1.0,
    ]


def test_target_encoding_closed_form(spark):
    """Two segments, m=10: the small segment's encoding is pulled most
    of the way to the global mean — the point of the m-estimate."""
    import datetime as dt

    from clusterforge_spark.operators.features import (
        TENC_SMOOTHING,
        target_encoding,
    )

    t = dt.datetime(1995, 1, 1)
    orders = spark.createDataFrame(
        [(1, 100.0, t), (2, 200.0, t), (3, 400.0, t)],
        "o_custkey long, o_totalprice double, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B")],
        "c_custkey long, c_mktsegment string",
    )
    rows = {r["c_mktsegment"]: r for r in target_encoding(orders, customer).collect()}
    m = float(TENC_SMOOTHING)
    g_mean = 700.0 / 3.0
    import math

    def rd(x):
        return math.floor(x * 1e4 + 0.5) / 1e4

    assert rows["A"]["n_customers"] == 2
    assert rows["A"]["mean_spend"] == 150.0
    assert rows["A"]["encoded"] == rd((300.0 + m * g_mean) / (2.0 + m))
    assert rows["B"]["n_customers"] == 1
    assert rows["B"]["encoded"] == rd((400.0 + m * g_mean) / (1.0 + m))
    # smoothing pulls the singleton segment near the global mean
    assert abs(rows["B"]["encoded"] - g_mean) < abs(400.0 - g_mean) / 5
