"""Feature engineering: RFM aggregation + z-score standardization.

Reference semantics preserved (SURVEY.md §1.4):
  * RFM per customer: Recency from max(ts) vs a literal reference instant,
    Frequency = exact COUNT(DISTINCT invoice) cast double, Monetary =
    SUM(amount)  (data.rs:153-164), summed as exact integer cents
    (``rounding.cents``): the same double as an exact decimal sum on 2-dp
    amounts, and ~20 % cheaper per RFM op (see compute_rfm).
  * Recency = (ref_µs − last_µs) / 1e6 / 86400 fractional days
    (data.rs:166-169).
  * HAVING Recency ≥ 0 ∧ Frequency > 0 ∧ Monetary > 0 (data.rs:177-183).
  * Standardization uses **population** σ (divide by n — data.rs:31-36;
    Spark's default `stddev` is sample σ, so `stddev_pop` is mandatory)
    with σ floored at 1e-8 (data.rs:37).

Unlike the reference, nothing ever leaves the DataFrame: the reference's
DataFrame→ndarray copy (data.rs:194-225) has no analog here, and the fitted
scaler is a 1-row DataFrame broadcast-joined onto the data, so transform is
a map-only stage with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Reference instant for recency on the driver's `events` table (its ts
#: range is 2024; the reference's own default was 2011-12-09 for the UCI
#: retail data, data.rs:98).
DEFAULT_REF_INSTANT = "2024-07-01 00:00:00"

#: Microseconds per day — recency denominator (data.rs:168).
US_PER_DAY = 86_400_000_000

RFM_COLS = ("recency", "frequency", "monetary")


def _ref_us(ref_instant: str) -> F.Column:
    return F.unix_micros(F.to_timestamp(F.lit(ref_instant)))


def compute_rfm(
    events: DataFrame,
    ref_instant: str = DEFAULT_REF_INSTANT,
) -> DataFrame:
    """Per-user RFM features over the events table (O6-O12).

    events columns used: user_id (customer key), ts (event time), event_id
    (invoice analog), value (amount analog).

    The events are pre-partitioned by ``user_id`` before the aggregate.
    Catalyst plans a grouped exact COUNT(DISTINCT) as two aggregation
    levels — (user_id, event_id) then (user_id) — and
    ``hashpartitioning(user_id)`` satisfies BOTH levels' clustered
    distributions, so the whole chain runs on ONE exchange instead of two
    (measured 0.39 s vs 0.58 s median at sf0.1). The shuffle carries raw
    rows rather than map-side partial aggregates; with near-unique
    (user_id, event_id) keys the volumes are identical.

    The exchange's partition count is sized from the source file bytes
    (partitioning.suggest_agg_partitions): megabyte-scale inputs get a
    handful of reduce tasks instead of the session conf's count
    (283 ms vs 462 ms for the sf0.1 probe), while large inputs keep the
    conf — the explicit repartition is otherwise invisible to AQE's
    coalescing. A non-file input (a cached or in-memory frame) gets
    ``spark.sql.shuffle.partitions`` explicitly, so its reducer layout,
    and with it the summation order of every downstream double
    aggregate, does not depend on the AQE setting.

    Money is summed as exact integer cents (``rounding.cents``), then
    divided by 100.0. On 2-dp input this is the same double as an exact
    decimal sum cast to double: ·100 lands within an ulp of the integer,
    the long sum is exact and order-independent, and below 2^53 cents
    long→double is exact and the division correctly rounded. An amount
    with no bigint cents raises, and so does a sum past 2^63 cents (ANSI
    mode) instead of wrapping. A decimal sum's ``decimal(28,2)`` result
    accumulated in BigDecimal: the benchmark's 541,910-row
    ``rfm_retail`` op (4 cores) took 0.684 s median with it and 0.523 s
    with cents.
    """
    from clusterforge_spark.functions.partitioning import suggest_agg_partitions
    from clusterforge_spark.functions.rounding import cents

    n = suggest_agg_partitions(events) or int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        events.repartition(n, "user_id")
        .groupBy("user_id")
        .agg(
            ((_ref_us(ref_instant) - F.unix_micros(F.max("ts"))).cast("double")
             / F.lit(float(US_PER_DAY))).alias("recency"),
            F.countDistinct("event_id").cast("double").alias("frequency"),
            (F.sum(cents("value")) / 100.0).alias("monetary"),
        )
        # post-aggregation quality filter (HAVING) — data.rs:177-183
        .filter((F.col("recency") >= 0) & (F.col("frequency") > 0) & (F.col("monetary") > 0))
    )


def fit_scaler(df: DataFrame, cols: tuple[str, ...] = RFM_COLS) -> DataFrame:
    """Fit a z-score scaler: 1-row DataFrame of per-column μ and σ_pop.

    σ is population stddev floored at 1e-8 (data.rs:31-37). Keeping the
    fit as a DataFrame (instead of collecting to the driver) lets
    transform() broadcast-join it, so fit+transform is one job and the
    params never round-trip through Python.
    """
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"{c}_mean"))
        aggs.append(F.greatest(F.stddev_pop(c), F.lit(1e-8)).alias(f"{c}_std"))
    return df.agg(*aggs)


def transform_scaler(
    df: DataFrame,
    params: DataFrame,
    cols: tuple[str, ...] = RFM_COLS,
    keep: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Apply z = (x − μ)/σ via a broadcast cross-join of the 1-row params.

    Map-only stage: no shuffle, stays inside whole-stage codegen.
    """
    out = df.crossJoin(F.broadcast(params))
    zcols = [
        ((F.col(c) - F.col(f"{c}_mean")) / F.col(f"{c}_std")).alias(f"{c}_z") for c in cols
    ]
    return out.select(*[F.col(k) for k in keep], *zcols)


def scale_features(
    df: DataFrame,
    cols: tuple[str, ...] = RFM_COLS,
    keep: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """fit + transform in one lazy plan (reference fit_transform, data.rs:56-60)."""
    return transform_scaler(df, fit_scaler(df, cols), cols, keep)


def scale_point(
    params_row: dict, point: tuple[float, ...], cols: tuple[str, ...] = RFM_COLS
) -> list[float]:
    """Scale one new (R, F, M) triple with fitted params (data.rs:78-87).

    Driver-side math on a collected 1-row params dict — the reference's
    scale_new_data validates len==3; we validate against ``cols``.
    """
    if len(point) != len(cols):
        raise ValueError(f"expected {len(cols)} values, got {len(point)}")
    return [
        (x - params_row[f"{c}_mean"]) / params_row[f"{c}_std"] for c, x in zip(cols, point)
    ]


#: quintile-score → business-segment rules (classic RFM playbook): keys
#: are (min_rf_avg, label) evaluated in order on (R_score+F_score)/2 and
#: M_score — deterministic CASE cascade.
RFM_SEGMENT_RULES: tuple[tuple[str, str], ...] = (
    ("champion", "r_score >= 4 AND f_score >= 4 AND m_score >= 4"),
    ("loyal", "f_score >= 4"),
    ("big_spender", "m_score >= 4"),
    ("at_risk", "r_score <= 2 AND f_score >= 3"),
    ("hibernating", "r_score <= 2"),
    ("regular", "true"),
)


def minmax_scaler(
    rfm: DataFrame,
    cols: tuple[str, ...] = RFM_COLS,
    keep: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Min-max scale features to [0, 1] — the bounded-range companion to
    the z-score scaler (data.rs:31-37 analog) that tree/embedding
    pipelines prefer when outliers shouldn't stretch the unit.

    Same shape as fit_scaler/transform_scaler: a 1-row min/max fit stays
    a DataFrame and broadcast-cross-joins onto the data, so the whole
    thing is one aggregate + one map-only stage, no driver round-trip.
    Range is floored at 1e-8 (the σ-floor convention) so constant
    columns scale to 0 instead of dividing by zero.

    Determinism: min/max are exact; (x − min)/range is one double
    subtract + divide on identical inputs in either engine; rounded 4dp
    per the avg/stddev-downstream rule.
    """
    from clusterforge_spark.functions.rounding import round_det

    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(
            F.greatest(F.max(c) - F.min(c), F.lit(1e-8)).alias(f"{c}_rng")
        )
    params = rfm.agg(*aggs)
    out = rfm.crossJoin(F.broadcast(params))
    mm = [
        round_det(
            (F.col(c) - F.col(f"{c}_min")) / F.col(f"{c}_rng"), 4
        ).alias(f"{c}_mm")
        for c in cols
    ]
    return out.select(*[F.col(k) for k in keep], *mm)


def robust_scaler(
    rfm: DataFrame,
    cols: tuple[str, ...] = RFM_COLS,
    keep: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Median/IQR robust scaling — the outlier-resistant third member of
    the scaler family (z-score data.rs:31-37, min-max above): heavy-tail
    features (monetary spend, recency) keep their bulk in a unit-ish
    range instead of letting one whale compress everyone else to ~0.

    Same one-aggregate + broadcast-map shape as minmax_scaler: the fit
    is exact sort-based ``percentile`` (shared linear-interpolation
    definition with quantile_cont), IQR floored at 1e-8 (the σ-floor
    convention) so constant columns scale to 0.

    Determinism: fit params are rounded 6dp BEFORE the map (percentile
    interpolation is the one place the engines' last ulp can differ);
    (x − med)/iqr is then one double subtract + divide on identical
    inputs, rounded 4dp per the avg/stddev-downstream rule.
    """
    from clusterforge_spark.functions.rounding import round_det

    aggs = []
    for c in cols:
        aggs.append(
            round_det(F.expr(f"percentile({c}, 0.5)"), 6).alias(f"{c}_med")
        )
        aggs.append(
            F.greatest(
                round_det(
                    F.expr(f"percentile({c}, 0.75)")
                    - F.expr(f"percentile({c}, 0.25)"),
                    6,
                ),
                F.lit(1e-8),
            ).alias(f"{c}_iqr")
        )
    params = rfm.agg(*aggs)
    out = rfm.crossJoin(F.broadcast(params))
    rs = [
        round_det(
            (F.col(c) - F.col(f"{c}_med")) / F.col(f"{c}_iqr"), 4
        ).alias(f"{c}_rs")
        for c in cols
    ]
    return out.select(*[F.col(k) for k in keep], *rs)


#: additive-smoothing pseudo-count for target encoding (the classic
#: "m-estimate": enc = (Σ_seg + m·global_mean) / (n_seg + m)).
TENC_SMOOTHING = 10


def target_encoding(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Smoothed target (mean) encoding of `c_mktsegment` against customer
    lifetime spend — the leakage-safe categorical feature a training
    pipeline materializes before model fit: segment → encoded value
    pulled toward the global mean by ``TENC_SMOOTHING`` pseudo-counts so
    rare categories don't memorize their few members.

    Plan: per-customer exact DECIMAL spend (one hash agg on orders),
    broadcast-joined segment labels (customer is the dim side), a
    per-segment aggregate, and a 1-row global broadcast — two shuffles
    total, both on aggregated data. Customers with no orders don't
    contribute (inner join), mirroring fit-time behavior.

    Determinism: spends accumulate in DECIMAL(18,2); means and the
    smoothed encoding are single double ops on exact sums, rounded 4dp.
    """
    from clusterforge_spark.functions.rounding import round_det

    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    seg = spend.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("seg_sum"),
    )
    glob = spend.agg(
        F.sum("spend").alias("g_sum"),
        F.count(F.lit(1)).cast("double").alias("g_n"),
    )
    m = F.lit(float(TENC_SMOOTHING))
    g_mean = F.col("g_sum").cast("double") / F.col("g_n")
    return (
        seg.crossJoin(F.broadcast(glob))
        .select(
            "c_mktsegment",
            "n_customers",
            round_det(
                F.col("seg_sum").cast("double") / F.col("n_customers").cast("double"),
                4,
            ).alias("mean_spend"),
            round_det(
                (F.col("seg_sum").cast("double") + m * g_mean)
                / (F.col("n_customers").cast("double") + m),
                4,
            ).alias("encoded"),
        )
    )


#: rfm_segments regime switch: below this many customers the shared
#: ntile window (single-task sort BOUNDED by this constant) beats the
#: distributed rank machinery's stage overhead
RFM_SEGMENTS_SMALL_N = 100_000


def rfm_segments(rfm: DataFrame, small_n: int = RFM_SEGMENTS_SMALL_N) -> DataFrame:
    """Rule-based RFM segmentation — the classic quintile-score playbook
    (Champions / Loyal / At-Risk...) that sits beside the K-means
    clustering as the interpretable alternative on the same features.

    Each of R/F/M is scored 1-5 by exact ntile semantics over a TOTAL
    order (metric + user_id tie-break, recency reversed so fresher =
    higher), then a deterministic CASE cascade assigns the first
    matching segment.

    Scale shape: size-adaptive, both regimes exact and bit-identical.
    Below ``small_n`` customers (one bounded count on the — typically
    cached — RFM frame) the three quintiles run as the classic shared
    ntile window: its single-task sort is bounded by the branch
    threshold, not by the data, and at that size it beats the
    distributed machinery's 12-stage overhead (measured 0.23 s vs
    1.7 s at 1 500 customers). Above it, each metric's global rank
    comes from partitioning.total_order_rank (histogram prefix sum +
    metric-local tie window, all stages parallel — the r5 version's
    three partition-less ntile windows each moved EVERY customer row
    through one task) and the quintile id is integer arithmetic via
    ntile_from_rank; the three rank passes re-join on user_id. The
    large regime's no-global-sort plan is pinned by
    tests/test_plans.py::test_rfm_segments_large_regime_plan.
    """
    from clusterforge_spark.functions.partitioning import (
        ntile_from_rank,
        total_order_rank,
    )

    n_customers = rfm.count()
    if n_customers <= small_n:
        from pyspark.sql.window import Window

        scored = rfm.select(
            "user_id",
            "recency",
            "frequency",
            "monetary",
            F.ntile(5)
            .over(Window.orderBy(F.col("recency").desc(), F.col("user_id")))
            .cast("long")
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy(F.col("frequency").asc(), F.col("user_id")))
            .cast("long")
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy(F.col("monetary").asc(), F.col("user_id")))
            .cast("long")
            .alias("m_score"),
        )
    else:

        def _rank_of(metric: str, out: str, descending: bool) -> DataFrame:
            return total_order_rank(
                rfm.select("user_id", metric),
                metric,
                "user_id",
                descending=descending,
                rank_name=out,
            ).select("user_id", out)

        # recency descends, and the small regime's window puts NULLs
        # LAST under DESC — but total_order_rank implements desc by
        # negating the key, which ranks NULL keys FIRST (its documented
        # caveat). Map NULL → -inf before ranking: -inf sorts below
        # every finite recency under DESC, and the NULL rows form one
        # tie group ordered by user_id — exactly the window's
        # DESC-NULLS-LAST placement, keeping both regimes bit-identical
        # even on NULL-recency input (precondition: finite recency,
        # which compute_rfm guarantees by construction).
        rec_keyed = rfm.select(
            "user_id",
            F.coalesce(
                F.col("recency").cast("double"), F.lit(float("-inf"))
            ).alias("_rkey"),
        )
        rr = total_order_rank(
            rec_keyed, "_rkey", "user_id", descending=True, rank_name="_rr"
        ).select("user_id", "_rr")
        # the branch decision already materialized the exact count —
        # reuse it as a literal instead of re-aggregating the frame
        n_lit = F.lit(int(n_customers)).cast("long").alias("_n")
        scored = (
            rfm.select("user_id", "recency", "frequency", "monetary", n_lit)
            .join(rr, "user_id")
            .join(_rank_of("frequency", "_fr", False), "user_id")
            .join(_rank_of("monetary", "_mr", False), "user_id")
            .select(
                "user_id",
                "recency",
                "frequency",
                "monetary",
                ntile_from_rank(F.col("_rr"), F.col("_n"), 5).alias("r_score"),
                ntile_from_rank(F.col("_fr"), F.col("_n"), 5).alias("f_score"),
                ntile_from_rank(F.col("_mr"), F.col("_n"), 5).alias("m_score"),
            )
        )
    seg = None
    for label, cond in reversed(RFM_SEGMENT_RULES):
        if seg is None:
            seg = F.lit(label)
        else:
            seg = F.when(F.expr(cond), F.lit(label)).otherwise(seg)
    return scored.withColumn("segment", seg)
