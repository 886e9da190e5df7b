"""Relational core: scan/project/filter/aggregate/having/top-k/join/window.

Covers reference operators O1-O12 (SURVEY.md §2.1) re-expressed on the
driver's TPC-H-ish tables, plus the join/sort/window surface the reference
lacks but any engine user needs (SURVEY.md §2.3). Everything here is pure
DataFrame API → Catalyst gets predicate pushdown, column pruning, constant
folding and join planning for free; no UDFs, no collect().

Every money expression goes through ``rounding.cents`` (exact bigint
cents; an amount with none raises). The decimal sufficient statistics
kept by design are listed in oracle_sql's determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clusterforge_spark.functions.partitioning import prefix_sum_before, source_bytes
from clusterforge_spark.functions.rounding import cents, cents_sql, round_det


def scan_project(lineitem: DataFrame) -> DataFrame:
    """O1+O4+O11: scan → computed column → pruned projection.

    revenue = l_extendedprice * (1 - l_discount), the TPC-H revenue
    expression (reference analog: TotalAmount = Quantity * UnitPrice,
    data.rs:124). Projecting only 4 columns lets Catalyst prune the parquet
    scan's ReadSchema to exactly these — verified in tests/test_plans.py
    (test_scan_project_prunes_columns).
    """
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
    )


def filter_conjunctive(lineitem: DataFrame) -> DataFrame:
    """O2: conjunctive predicate, pushed down to the scan.

    Mirrors the reference's row filter Quantity>0 ∧ UnitPrice>0 ∧
    CustomerID IS NOT NULL (data.rs:106-112) on lineitem columns, with one
    extra range predicate so the pushdown is non-trivial.
    """
    return lineitem.filter(
        (F.col("l_quantity") > 0)
        & (F.col("l_extendedprice") > 0)
        & F.col("l_orderkey").isNotNull()
        & (F.col("l_discount") < 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


def timestamp_parts(events: DataFrame, ref_date: str = "2024-07-01") -> DataFrame:
    """O3+O10: timestamp decomposition + day arithmetic vs a literal.

    All parts are extracted under the session's UTC timezone; day_diff is
    date-granularity (datediff), epoch_us is the µs-truncated epoch — both
    exactly reproducible by the DuckDB oracle.
    """
    # computed ints cast to long so schemas line up with the oracle's BIGINTs
    return events.select(
        "event_id",
        F.year("ts").cast("long").alias("ts_year"),
        F.month("ts").cast("long").alias("ts_month"),
        F.dayofmonth("ts").cast("long").alias("ts_day"),
        F.hour("ts").cast("long").alias("ts_hour"),
        F.minute("ts").cast("long").alias("ts_minute"),
        F.datediff(F.lit(ref_date).cast("date"), F.col("ts").cast("date"))
        .cast("long")
        .alias("day_diff"),
        F.unix_micros("ts").alias("epoch_us"),
    )


def having_filter(orders: DataFrame) -> DataFrame:
    """O6+O12: groupBy → agg → post-aggregation filter (HAVING).

    Catalyst plans this as Filter(Aggregate(...)) with a map-side partial
    aggregate before the shuffle on o_custkey.
    """
    return (
        orders.groupBy("o_custkey")
        .agg(
            # Money sums accumulate exact cents (rounding.cents): a double
            # sum's low bits depend on partial-agg order — not
            # reproducible across engines or even across runs at scale.
            (F.sum(cents("o_totalprice")) / 100.0).alias("total_spend"),
            F.count("*").alias("order_count"),
        )
        .filter((F.col("total_spend") > 100000.0) & (F.col("order_count") > 1))
    )


def count_distinct_exact(events: DataFrame) -> DataFrame:
    """O8: exact per-group COUNT(DISTINCT) (cast double, data.rs:158-161).

    Exact distinct is a two-phase shuffle (expand + final agg); fine when
    group cardinality is bounded. The 100 TB-friendly variant is
    :func:`count_distinct_approx`.
    """
    return events.groupBy("user_id").agg(
        F.countDistinct("event_id").cast("double").alias("distinct_events"),
        F.countDistinct("event_type").alias("distinct_types"),
    )


def count_distinct_approx(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """O8 scalable variant: HyperLogLog++ approx_count_distinct.

    One pass, fixed memory per group — the right default at 100 TB where
    exact distinct's expand-shuffle is the bottleneck.
    """
    return events.groupBy("user_id").agg(
        F.approx_count_distinct("event_id", rsd).alias("approx_events")
    )


def top_k(lineitem: DataFrame, k: int = 100) -> DataFrame:
    """Sort/limit/top-k (absent from the reference — SURVEY.md §2.3).

    Deterministic total order (revenue DESC, then keys) so the result set
    is unique. Spark plans orderBy+limit as TakeOrderedAndProject — each
    partition keeps only its top-k, then the driver merges k·p rows; no
    global sort materialization at any scale.
    """
    return (
        lineitem.select(
            "l_orderkey",
            "l_linenumber",
            # no rounding: a product of two doubles is bit-identical IEEE
            # arithmetic in any engine, so the sort order is reproducible
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .limit(k)
    )


#: exact line revenue in 1e-4-dollar integer units:
#: price_cents × (100 − discount_cents). Exact int64 per row (2dp money
#: domain), summed in decimal(38,0) — the sums are order-independent at
#: ANY row count, unlike a raw double Σ price·(1−disc), whose partial-agg
#: reorder error at ~10⁹ rows exceeds the 2dp rounding guard and makes
#: output nondeterministic across runs/engines.
REVENUE_E4 = f"{cents_sql('l_extendedprice')} * (100 - {cents_sql('l_discount')})"


def _round_half_up(x: float, d: int) -> float:
    """Driver-side mirror of functions/rounding.round_det (floor(x*10^d+0.5))."""
    import math

    s = float(10**d)
    return math.floor(x * s + 0.5) / s


def _revenue_sum(alias_src: str = "revenue_e4"):
    """round(Σ revenue_e4 / 1e4, 2) as an order-independent exact sum."""
    return round_det(
        F.expr(f"cast(sum(cast({alias_src} as decimal(38,0))) as double) / 10000.0"),
        2,
    )


def _star_join(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """The shared lineitem⋈orders⋈customer⋈nation star prologue used by
    join_enrich / rollup / cube / grouping-sets: facts pre-pruned to
    join keys + the exact e4 revenue, dimensions broadcast. One
    definition — a change to keys, hints, or the revenue expression
    cannot silently diverge the four consumers."""
    li = lineitem.select("l_orderkey", F.expr(f"{REVENUE_E4} as revenue_e4"))
    od = orders.select("o_orderkey", "o_custkey")
    cu = customer.select("c_custkey", "c_nationkey", "c_mktsegment")
    na = nation.select("n_nationkey", "n_name")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
    )


def join_enrich(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Star join + rollup: revenue per nation and market segment.

    lineitem ⋈ orders is the big fact-fact join: both sides shuffle on the
    order key (sort-merge or shuffled-hash, AQE decides; at 100 TB this is
    THE shuffle, so both sides are pre-pruned to join keys + needed
    columns). customer and nation are dimensions → explicit broadcast()
    hints make them map-side joins with no extra shuffle.
    """
    return _star_join(lineitem, orders, customer, nation).groupBy(
        "n_name", "c_mktsegment"
    ).agg(
        _revenue_sum().alias("total_revenue"),
        F.count("*").alias("lineitem_count"),
    )


def _with_session_seq(events: DataFrame, gap_minutes: int, cols: tuple[str, ...]):
    """user_id/ts/event_id + ``cols`` + the gap-session index
    ``session_seq`` — the ONE definition of the lag/cumsum session
    boundary (previous event more than ``gap_minutes`` away starts a new
    session). Shared by sessionize_gap, session-path mining, and
    session co-occurrence so a boundary-semantics change cannot
    silently desynchronize the sessionizers."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60_000_000
    with_new = events.select(
        "user_id", "ts", "event_id", *cols,
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            > F.lit(gap_us)
        )
        .cast("int")
        .alias("is_new"),
    ).fillna({"is_new": 1})
    return with_new.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def interarrival_profile(events: DataFrame) -> DataFrame:
    """Per-event-type inter-arrival-time profile: gap percentiles and
    the coefficient of variation of the gaps — CV ≈ 1 is Poisson-like
    arrivals, CV ≫ 1 is bursty (the bot/scripted-traffic signature a
    curation pipeline flags before training on behavioral data).

    Gaps are per-user consecutive-event deltas in exact integer µs
    (lag over the (ts, event_id) total order — same tie-break as the
    sessionizers); the profile is one hash agg over sufficient
    statistics, with Σgap² in decimal(38,0) (µs gaps square past
    int64). Percentiles are exact sort-based, 6dp; mean/CV are single
    double divisions of exact integers, 4dp — bit-deterministic
    cross-engine.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
                "gap_us"
            ),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    g = F.col("gap_us")
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(g).cast("double").alias("sg"),
        F.sum(g.cast("decimal(38,0)") * g.cast("decimal(38,0)"))
        .cast("double")
        .alias("sgg"),
        round_det(F.expr("percentile(gap_us, 0.5)"), 6).alias("p50_gap_us"),
        round_det(F.expr("percentile(gap_us, 0.9)"), 6).alias("p90_gap_us"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("sg") / n
    var = F.col("sgg") / n - mean * mean
    # try_divide + greatest-0: a single-gap type has variance 0; float
    # cancellation could drift a hair negative — clamp before sqrt
    cv = F.try_divide(F.sqrt(F.greatest(var, F.lit(0.0))), mean)
    return agg.select(
        "event_type",
        "n_gaps",
        round_det(mean, 4).alias("mean_gap_us"),
        "p50_gap_us",
        "p90_gap_us",
        round_det(cv, 4).alias("gap_cv"),
    )


def sessionize_gap(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """True sessionization by inactivity gap (window-function surface).

    session boundary = gap to previous event (per user, event-time order)
    exceeding ``gap_minutes``; session index = running count of
    boundaries (lag + cumulative sum — the classic formulation). One
    shuffle on user_id serves both window functions and the final
    per-session aggregate. The streaming analog with explicit state is
    streaming/sessionize.sessionize_gap_stream.
    """
    # session_idx keeps its historical 0-base (the helper's session_seq
    # counts each user's first event as a boundary, so it is exactly +1)
    with_idx = _with_session_seq(events, gap_minutes, ("value",)).select(
        "user_id",
        "ts",
        "value",
        (F.col("session_seq") - 1).cast("long").alias("session_idx"),
    )
    return with_idx.groupBy("user_id", "session_idx").agg(
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
        F.count("*").alias("n_events"),
        (F.sum(cents("value")) / 100.0).alias("session_value"),
    )


def window_sessionize(events: DataFrame) -> DataFrame:
    """Event-time tumbling window + per-user ranking (extension surface).

    Tumbling 1-hour windows via time bucketing (date_trunc) — the batch
    analog of Structured Streaming's window(ts, '1 hour') used in
    streaming/sessionize.py; plus a rank over each user's buckets.

    ONE shuffle total (asserted in tests/test_plans.py): the explicit
    repartition on user_id satisfies both the aggregate's clustered
    distribution on (user_id, hour_start) — a superset of the partition
    key co-locates — and the window's partitionBy(user_id), so neither
    adds an exchange. Trade-off vs letting the agg shuffle on its own
    compound key: this moves raw (narrow) event rows once instead of
    partially-aggregated rows twice; at the ~10:1 events-per-user-hour
    ratio of this data the single exchange wins, and the agg still runs
    as an in-partition hash aggregate.
    """
    from pyspark.sql.window import Window

    bucketed = events.select("user_id", "ts", "value").repartition("user_id").groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count("*").alias("events_in_hour"),
        (F.sum(cents("value")) / 100.0).alias("value_in_hour"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("events_in_hour").desc(), F.col("hour_start")
    )
    return bucketed.select(
        "user_id",
        F.unix_micros("hour_start").alias("hour_start_us"),
        "events_in_hour",
        "value_in_hour",
        F.row_number().over(w).cast("long").alias("busy_rank"),
    )


def window_funcs(events: DataFrame) -> DataFrame:
    """Window-function breadth on one per-user ordered frame: lag / lead
    / running cents sum / ntile / percent_rank / row_number.

    The order key (ts, event_id) is a total order (event_id unique), so
    every function is deterministic. ONE shuffle on user_id serves all
    six functions — they share the same window spec, and Spark plans a
    single Window operator over a single sort.
    """
    from pyspark.sql.window import Window

    from clusterforge_spark.functions.rounding import round_det

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        (F.sum(cents("value")).over(running) / 100.0).alias("running_value"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        round_det(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


def rollup_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """ROLLUP aggregation over the star join: revenue at (nation,
    segment), per-nation subtotal, and grand total in one pass.

    Sum/count are decomposable, so the rollup runs over a PRE-AGGREGATED
    (nation, segment) table — the Expand then multiplies ~|nations ×
    segments| rows instead of every fact row (Catalyst's Expand sits
    BELOW the partial aggregate, so without the pre-agg every grouping
    set re-processes the full join output)."""
    pre = _pre_agg_nation_segment(lineitem, orders, customer, nation)
    return pre.rollup("n_name", "c_mktsegment").agg(
        _rev_e4_final().alias("total_revenue"),
        F.sum("cnt").alias("lineitem_count"),
    )


def _pre_agg_nation_segment(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Finest-granularity partial aggregate shared by rollup/cube: one
    row per (nation, segment) with EXACT decimal partials (the /1e4 +
    2dp rounding happens only at the outer level, so re-aggregation
    stays bit-identical to a single-level sum)."""
    joined = _star_join(lineitem, orders, customer, nation)
    return joined.groupBy("n_name", "c_mktsegment").agg(
        F.expr("sum(cast(revenue_e4 as decimal(38,0)))").alias("rev_e4"),
        F.count("*").alias("cnt"),
    )


def _rev_e4_final():
    """round(Σ rev_e4 partials / 1e4, 2) — the outer fold of the exact
    decimal partials."""
    return round_det(
        F.expr("cast(sum(rev_e4) as double) / 10000.0"), 2
    )


def cube_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """CUBE over the same star join — all four grouping sets
    {(nation, segment), (nation), (segment), ()} over the shared
    (nation, segment) pre-aggregate (see rollup_revenue: the Expand
    multiplies ~125 partial rows, not 600k fact rows). grouping_id
    disambiguates the NULL-label rows exactly as SQL GROUPING() does
    (a real NULL group vs a subtotal row)."""
    pre = _pre_agg_nation_segment(lineitem, orders, customer, nation)
    return pre.cube("n_name", "c_mktsegment").agg(
        _rev_e4_final().alias("total_revenue"),
        F.sum("cnt").alias("lineitem_count"),
        F.grouping_id().cast("long").alias("gid"),
    )


def set_ops(events: DataFrame) -> DataFrame:
    """Set operations: users segmented by INTERSECT / EXCEPT of their
    event types (distinct semantics, like the SQL operators)."""
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erroring = events.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purchasers.intersect(erroring).withColumn("segment", F.lit("both"))
    only_p = purchasers.exceptAll(erroring).withColumn("segment", F.lit("purchase_only"))
    return both.unionByName(only_p)


def scalar_funcs(part: DataFrame) -> DataFrame:
    """Scalar-function breadth on one projection: string (upper/substr/
    lpad/trim/concat), math (sqrt/abs/ln/log10), conditional
    (case/coalesce/nullif). All whole-stage-codegen built-ins."""
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("p_brand"), 12, "_").alias("brand_padded"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.sqrt(F.col("p_retailprice")).alias("price_sqrt"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dev"),
        round_det(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        round_det(F.log10(F.col("p_retailprice")), 6).alias("price_log10"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.lit("OTHER")).alias(
            "brand_or_other"
        ),
        F.when(F.col("p_size") < 10, F.lit("small"))
        .when(F.col("p_size") < 30, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("size_class"),
    )


def json_extract_props(events: DataFrame) -> DataFrame:
    """Semi-structured access: pull a typed field out of the JSON-ish
    props column (at scale: get_json_object pushes no scan work to
    Python; for repeated access, from_json to a struct column once)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


def percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles (sort-based) per event type + global approx
    variant elsewhere; exact form is cross-engine deterministic
    (linear interpolation definition shared with quantile_cont)."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        round_det(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        round_det(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        round_det(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.max("value").alias("vmax"),
    )


def semi_anti_join(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Semi/anti join surface: customers tagged by order activity.

    left_semi and left_anti are the engine-level forms of EXISTS / NOT
    EXISTS — no row multiplication, the probe side never materializes
    matches. One broadcast of the orders keyset serves both.
    """
    keys = orders.select("o_custkey").distinct()
    active = customer.join(
        F.broadcast(keys), customer.c_custkey == keys.o_custkey, "left_semi"
    ).select("c_custkey", F.lit("active").alias("status"))
    inactive = customer.join(
        F.broadcast(keys), customer.c_custkey == keys.o_custkey, "left_anti"
    ).select("c_custkey", F.lit("inactive").alias("status"))
    return active.unionByName(inactive)


def left_join_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Left outer join with null-coalescing aggregate: per-order lineitem
    count, keeping orders with no lineitems at 0."""
    li = lineitem.groupBy("l_orderkey").agg(F.count("*").alias("li_count"))
    return (
        orders.select("o_orderkey")
        .join(li, orders.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("li_count", F.lit(0)).cast("long").alias("lineitem_count"),
        )
    )


def exists_subquery(spark, orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Correlated EXISTS through the SQL entry point — Catalyst rewrites
    it to a semi join; exercises the spark.sql surface end-to-end."""
    orders.createOrReplaceTempView("v_orders")
    lineitem.createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus
        FROM v_orders
        WHERE EXISTS (
          SELECT 1 FROM v_lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        """
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-mitigated equi-join: manual salting.

    A hot join key concentrates one reducer at 100 TB; salting splits
    each key's rows across ``n_salt`` shuffle partitions by joining on
    (key, salt), with the (smaller) right side replicated once per salt
    value. The salt is a deterministic hash of the whole left row, so
    results are reproducible. AQE's skew-join handles most cases
    automatically — this is the explicit form for when it can't (e.g.
    aggregation states, non-splittable stages).
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salt))
    salted_left = left.withColumn("__salt", salt)
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("__salt")
    salted_right = right.select("*", salts)
    out = salted_left.join(
        salted_right,
        (F.col(left_key) == F.col(right_key)) & (salted_left["__salt"] == salted_right["__salt"]),
    )
    return out.drop("__salt")


def asof_join_attribution(events: DataFrame) -> DataFrame:
    """As-of join: attribute each purchase to the user's most recent
    click at-or-before it (marketing attribution; the canonical
    time-series as-of join the reference family lacks natively).

    Spark-first implementation: instead of a non-equi range join (which
    would plan as a nested-loop), UNION both sides, sort once per user,
    and carry the latest click forward with ``last(..., ignorenulls)``
    over an unbounded-preceding row frame. ONE shuffle on user_id, one
    sort — the same shape a sort-merge as-of join would use, expressed
    with built-ins only. At 100 TB this is the scalable form: state per
    partition is a single carried value, never a buffered range.

    Order key (ts_us, kind, event_id): kind sorts clicks BEFORE a
    purchase at the same instant (as-of ``>=`` includes equality), and
    event_id breaks exact-time ties deterministically.
    """
    from pyspark.sql.window import Window

    ev = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    kind = F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", kind, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    carried = ev.select(
        "*",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(is_click, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("click_ts_us"),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("purchase_ts_us"),
        F.col("value").alias("purchase_value"),
        "click_id",
        "click_ts_us",
        (F.col("ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


#: Literal value bands for the range join: [lo, hi) half-open, covering
#: the full events.value domain (0 .. <1000 by construction).
VALUE_BANDS: list[tuple[int, float, float]] = [
    (0, 0.0, 5.0),
    (1, 5.0, 10.0),
    (2, 10.0, 20.0),
    (3, 20.0, 50.0),
    (4, 50.0, 100.0),
    (5, 100.0, 1000.0),
]

#: Bucket width used to turn the range join into an equi-join.
BAND_BUCKET_STEP = 5.0


def range_join_bands(events: DataFrame) -> DataFrame:
    """Range (interval) join of a fact value into banded intervals,
    planned as an EQUI-join via bucketing — never a nested loop.

    The naive formulation ``events JOIN bands ON value >= lo AND value
    < hi`` plans as BroadcastNestedLoopJoin: every row is tested against
    every band, O(n·bands) comparisons and no hash partitioning — the
    classic range-join scale trap. Instead each band is exploded to the
    fixed-width buckets it covers (floor(lo/step)..floor((hi-ε)/step)),
    the fact side computes its bucket with literal arithmetic in
    codegen, and the join is a broadcast HASH join on the bucket with
    the exact [lo, hi) predicate as a residual filter. Asserted in
    tests/test_plans.py (no BroadcastNestedLoopJoin in the plan). At
    100 TB the fact side stays map-only (no shuffle); band tables of any
    realistic size broadcast.
    """
    spark = events.sparkSession
    step = BAND_BUCKET_STEP
    bands = spark.createDataFrame(
        [
            (bid, lo, hi, bkt)
            for bid, lo, hi in VALUE_BANDS
            for bkt in range(int(lo // step), int((hi - 1e-9) // step) + 1)
        ],
        "band_id long, lo double, hi double, bucket long",
    )
    ev = events.select(
        "event_id", "value", F.floor(F.col("value") / step).alias("bucket")
    )
    joined = ev.join(F.broadcast(bands), "bucket").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return joined.groupBy("band_id", "lo", "hi").agg(
        F.count("*").alias("n_events"),
        (F.sum(cents("value")) / 100.0).alias("sum_value"),
    )


#: Explicit pivot domain — declared so Spark skips the distinct-values job
#: and the output schema is stable regardless of which types appear.
EVENT_TYPES: list[str] = ["click", "error", "purchase", "signup", "view"]


def pivot_event_counts(events: DataFrame) -> DataFrame:
    """PIVOT: one row per user, one column per event type.

    Explicit pivot values keep the schema deterministic and skip the
    distinct-values job. Spark's pivot otherwise plans TWO exchanges
    (pre-aggregate on (user_id, event_type), then pivotfirst on
    user_id); repartitioning by user_id first satisfies BOTH required
    distributions — hash(user_id) clusters (user_id, event_type) too —
    so the whole pivot runs on ONE shuffle (asserted in
    tests/test_plans.py).
    """
    p = (
        events.repartition("user_id")
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"{t}_n") for t in EVENT_TYPES],
    )


def unpivot_part_metrics(part: DataFrame) -> DataFrame:
    """UNPIVOT (melt): wide part metrics → long (key, metric, val) rows.

    Uses the native ``DataFrame.unpivot`` (Expand under the hood — one
    projection emitting N rows per input row, no shuffle, no union of
    re-scans; the oracle's UNION ALL re-reads the table once per metric,
    Spark reads it once total).
    """
    wide = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def time_bucket_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass producing the
    day → hour → 5-minute rollup hierarchy (the multi-granularity
    materialization a time-series store keeps per hypertable).

    The three bucket columns are derived in the projection (integer µs
    arithmetic — identical in any engine), then ROLLUP emits all four
    grouping sets {(d,h,m5),(d,h),(d),()} from a single Expand + one
    hash aggregate: one shuffle for the whole hierarchy, vs one
    aggregation job per granularity in the naive cascade. ``grain``
    (grouping_id) tags each row's level: 0=5min, 1=hour, 3=day, 7=total.
    """
    us = F.unix_micros("ts")
    day = F.lit(86_400_000_000)
    hour = F.lit(3_600_000_000)
    m5 = F.lit(300_000_000)
    b = events.select(
        (us - us % day).alias("day_us"),
        (us - us % hour).alias("hour_us"),
        (us - us % m5).alias("m5_us"),
        "value",
    )
    return b.rollup("day_us", "hour_us", "m5_us").agg(
        F.count("*").alias("n_events"),
        (F.sum(cents("value")) / 100.0).alias("sum_value"),
        F.grouping_id().cast("long").alias("grain"),
    )


def corr_subquery(spark, orders: DataFrame) -> DataFrame:
    """Correlated scalar subqueries through the SQL surface: orders
    beating their customer's average order value.

    Catalyst de-correlates both subqueries into aggregate+join — no
    per-row re-execution (asserted in tests/test_plans.py). The
    comparison is phrased sum/count instead of avg so both engines
    compare bit-identical doubles (cents sum, exact integer count,
    one correctly-rounded multiply each side).
    """
    orders.createOrReplaceTempView("v_orders_cs")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders_cs o
        WHERE o_totalprice * (SELECT COUNT(*) FROM v_orders_cs i
                              WHERE i.o_custkey = o.o_custkey)
              > (SELECT CAST(SUM({cents_sql("i.o_totalprice")}) AS DOUBLE) / 100.0D
                 FROM v_orders_cs i WHERE i.o_custkey = o.o_custkey)
        """
    )


def interval_join(events: DataFrame, max_gap_minutes: int = 60) -> DataFrame:
    """Batch interval join: ALL clicks within ``max_gap_minutes`` before
    each purchase by the same user (the multi-match companion to
    :func:`asof_join_attribution`; its streaming twin is
    streaming/sessionize.click_purchase_join_stream).

    The equality on user_id makes this a hash-partitionable join — the
    interval predicate rides along as a residual filter, so the plan is
    a plain shuffled equi-join, not a nested loop.
    """
    gap_us = max_gap_minutes * 60_000_000
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_ts_us"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_ts_us"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts_us") >= F.col("purchase_ts_us") - gap_us)
            & (F.col("click_ts_us") <= F.col("purchase_ts_us")),
        )
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts_us",
            "click_id",
            "click_ts_us",
            (F.col("purchase_ts_us") - F.col("click_ts_us")).alias("gap_us"),
        )
    )


def funnel(events: DataFrame) -> DataFrame:
    """Ordered funnel analysis: view → click → purchase per user, each
    stage's timestamp constrained to follow the previous stage's.

    The stage times are dependent conditional minima — t_click is the
    first click AFTER t_view, not the first click overall. Expressed as
    three stacked unbounded windows over the SAME user partitioning
    (no order key → no sort; Spark fuses them onto ONE shuffle,
    asserted in tests/test_plans.py), then one reduce to a row per
    user. ``stage`` = how deep the user got (0-3).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    us = F.unix_micros("ts")
    et = F.col("event_type")
    d = events.select("user_id", us.alias("us"), et.alias("et"))
    d = d.withColumn("t_view", F.min(F.when(F.col("et") == "view", F.col("us"))).over(w))
    d = d.withColumn(
        "t_click",
        F.min(
            F.when((F.col("et") == "click") & (F.col("us") > F.col("t_view")), F.col("us"))
        ).over(w),
    )
    d = d.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("et") == "purchase") & (F.col("us") > F.col("t_click")), F.col("us")
            )
        ).over(w),
    )
    return d.groupBy("user_id").agg(
        F.max("t_view").alias("t_view_us"),
        F.max("t_click").alias("t_click_us"),
        F.max("t_purchase").alias("t_purchase_us"),
        (
            F.max("t_view").isNotNull().cast("int")
            + F.max("t_click").isNotNull().cast("int")
            + F.max("t_purchase").isNotNull().cast("int")
        )
        .cast("long")
        .alias("stage"),
    )


#: One week in microseconds (cohort bucketing unit).
WEEK_US = 7 * 86_400_000_000


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, then
    distinct actives per (cohort_week, week_offset).

    First-seen comes from an unbounded min window on the user partition
    (no sort); the retention matrix is one count-distinct aggregate.
    Integer µs week arithmetic — engine-exact. At scale: the window
    shuffle is on user_id (even spread), the matrix aggregate on the
    tiny (cohort, offset) key space — countDistinct expands by user but
    each group is bounded by cohort size.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    us = F.unix_micros("ts")
    d = events.select("user_id", us.alias("us"))
    d = d.withColumn("first_us", F.min("us").over(w))
    cohort = F.floor(F.col("first_us") / WEEK_US).cast("long")
    offset = (F.floor(F.col("us") / WEEK_US) - F.floor(F.col("first_us") / WEEK_US)).cast(
        "long"
    )
    return (
        d.select("user_id", cohort.alias("cohort_week"), offset.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


def topn_per_group(orders: DataFrame, n: int = 3) -> DataFrame:
    """Top-N per group: the ``n`` biggest orders within each order
    priority.

    A rank-filter over a per-group window — which Spark's
    InferWindowGroupLimit rule rewrites into WindowGroupLimit (each map
    task keeps only its local top-n per group BEFORE the shuffle,
    asserted in tests/test_plans.py). At 100 TB that pre-shuffle prune is
    the difference between shuffling n·groups rows and shuffling the
    whole table. Order key includes o_orderkey so ranks are total.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= n)
    )


def session_window_agg(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window — the same
    semantics as :func:`sessionize_gap` (boundary when the inter-event
    gap exceeds ``gap_minutes``) expressed as a session-window aggregate
    instead of lag+cumsum. This is the form that runs incrementally
    under Structured Streaming with watermark-driven state cleanup;
    batch-wise it plans one shuffle + merging session aggregation.

    window.end is the last event + gap by definition; the oracle mirrors
    it as max(ts)+gap. (Boundary fine print: session_window merges an
    event at delta < gap strictly, lag+cumsum keeps delta == gap in the
    same session — indistinguishable on µs-resolution data.)
    """
    gap_us = gap_minutes * 60_000_000
    return (
        events.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )


def grouping_sets_revenue(
    spark,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Arbitrary GROUPING SETS — the per-dimension marginals
    {(n_name), (c_mktsegment)} WITHOUT the cross cells, which neither
    ROLLUP nor CUBE can express. Runs over the shared (nation, segment)
    pre-aggregate (decomposable partials — see rollup_revenue), so the
    Expand multiplies ~125 rows, not the fact table; the SQL surface is
    the point of this variant, so the grouping itself stays literal
    GROUPING SETS."""
    pre = _pre_agg_nation_segment(lineitem, orders, customer, nation)
    pre.createOrReplaceTempView("v_gs_pre")
    return spark.sql(
        """
        SELECT n_name, c_mktsegment,
               CAST(FLOOR((CAST(SUM(rev_e4) AS DOUBLE)
                           / 10000.0) * 100 + 0.5) AS DOUBLE) / 100 AS total_revenue,
               SUM(cnt) AS lineitem_count,
               CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid
        FROM v_gs_pre
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
        """
    )


def arg_minmax(events: DataFrame) -> DataFrame:
    """ORDERED-ARGUMENT aggregates: the value at each user's first/last
    event plus extremal-value timestamps — min_by/max_by (SQL arg_min /
    arg_max). One hash aggregate; deterministic because (user_id, ts)
    is unique in the data. The extremal-VALUE lookups go through
    min/max over a (value, us) STRUCT (lexicographic compare): min_by
    on value alone is "any match" on ties (42 duplicate (user, value)
    groups in this data alone), and an engine-dependent tie-break would
    poison the oracle hash."""
    us = F.unix_micros("ts")
    vkey = F.struct(F.col("value").alias("v"), F.col("us").alias("u"))
    return (
        events.select("user_id", us.alias("us"), "value")
        .groupBy("user_id")
        .agg(
            F.min_by("value", "us").alias("first_value"),
            F.max_by("value", "us").alias("last_value"),
            F.min(vkey).getField("u").alias("cheapest_ts_us"),
            F.max(vkey).getField("u").alias("dearest_ts_us"),
        )
    )


def tpch_pricing_summary(
    lineitem: DataFrame, ship_cutoff: str = "2001-08-06"
) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical scan→filter→wide-agg
    benchmark shape (reference's agg surface at OLAP breadth).

    One hash aggregate over 6 groups — map-side partial agg does almost
    all the work, the shuffle moves 6 rows per partition regardless of
    input size, so the plan is scan-bound at any scale. All sums
    accumulate in EXACT integer units (cents for money/qty, 1e-4 for
    disc_price, 1e-6 for charge — per-row products fit int64 in the 2dp
    money domain, sums in decimal(38,0)), so results are bit-identical
    under any partial-agg order at any row count; a raw double Σ's
    reorder error at ~10⁹ rows exceeds the 2dp rounding guard. Averages
    are written as exact-sum/count and rounded at 4dp."""
    f = lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
    qc, pc, dc, tc = (
        cents_sql(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )

    def _esum(expr: str):
        return F.expr(f"cast(sum(cast({expr} as decimal(38,0))) as double)")

    cnt = F.count(F.lit(1))
    cntd = cnt.cast("double")
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        round_det(_esum(qc) / F.lit(100.0), 2).alias("sum_qty"),
        round_det(_esum(pc) / F.lit(100.0), 2).alias("sum_base_price"),
        round_det(_esum(f"{pc} * (100 - {dc})") / F.lit(1e4), 2).alias(
            "sum_disc_price"
        ),
        round_det(
            _esum(f"{pc} * (100 - {dc}) * (100 + {tc})") / F.lit(1e6), 2
        ).alias("sum_charge"),
        round_det(_esum(qc) / F.lit(100.0) / cntd, 4).alias("avg_qty"),
        round_det(_esum(pc) / F.lit(100.0) / cntd, 4).alias("avg_price"),
        round_det(_esum(dc) / F.lit(100.0) / cntd, 4).alias("avg_disc"),
        cnt.cast("long").alias("count_order"),
    )


def tpch_forecast_revenue(
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: the canonical SELECTIVE
    filter + single-agg shape — every predicate must reach the parquet
    scan (PushedFilters carries shipdate/discount/quantity), and the
    aggregate is one map-side-combinable sum with a 1-row shuffle.

    revenue = Σ l_extendedprice·l_discount over the qualifying rows, in
    exact integer ten-thousandths (price_cents × discount_cents,
    decimal(38,0) accumulate) — bit-stable across engines and
    partitionings.
    """
    f = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        & (F.col("l_discount") >= disc_lo)
        & (F.col("l_discount") <= disc_hi)
        & (F.col("l_quantity") < max_qty)
    )
    rev_e4 = f"{cents_sql('l_extendedprice')} * {cents_sql('l_discount')}"
    return f.agg(
        round_det(
            F.expr(f"cast(sum(cast({rev_e4} as decimal(38,0))) as double) / 10000.0"),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def tpch_local_supplier_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    r_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the canonical 6-way star join.

    Scale shape: region/nation are broadcast unconditionally (tiny by
    schema); supplier-with-nation is small after the region filter and
    left for AQE to broadcast; lineitem⋈orders is the one genuinely
    big-big join (shuffle on orderkey) and the o_orderdate filter is
    pushed into the orders scan to shrink its side first. The
    same-nation constraint (customer nation == supplier nation) is a
    post-join filter exactly as in the spec query."""
    na = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == r_name)),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey", "n_name")
    )
    su = supplier.join(
        F.broadcast(na), supplier.s_nationkey == na.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")
    od = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cu = customer.select("c_custkey", "c_nationkey")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        F.expr(f"{REVENUE_E4} as revenue_e4"),
    )
    j = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy("n_name").agg(
        _revenue_sum().alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


def rolling_window_value(events: DataFrame) -> DataFrame:
    """Time-RANGE sliding aggregate: per user, the sum/count of `value`
    over the trailing 1 hour at every event (RANGE frame on event time,
    not a row frame — late-arriving dense bursts widen the frame
    correctly).

    One shuffle (hash by user) + one sort per partition serves the whole
    frame family; the trailing sum is an exact cents fold
    (rounding.cents), divided back to dollars at the edge. At 100 TB this is the
    standard feature-backfill shape: partition by entity, range frame on
    time, all computed in one pass without self-joins.
    """
    from pyspark.sql.window import Window

    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        (F.sum(cents("value")).over(w) / 100.0).alias("value_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events_1h"),
    )


UPSERT_BUMP_MOD = 10
UPSERT_NEW_OFFSET = 90_000_000


def upsert_orders(orders: DataFrame) -> DataFrame:
    """Key-based UPSERT (MERGE semantics on plain parquet tables):
    update matched keys, insert unmatched — the SCD-1 maintenance step
    lakehouse formats run under ``MERGE INTO``, expressed as one
    full-outer join + coalesce so it runs on any Spark.

    The updates feed is synthesized deterministically from orders
    itself: every key ≡0 (mod 10) gets a 10% price bump + priority
    rewrite, and a shifted-key copy of those rows is inserted as new.
    Scale: a single shuffle on the merge key; with both sides bucketed
    on the key (sources/sinks.write_bucketed) the join is exchange-free.
    """
    bump = orders.filter(F.col("o_orderkey") % UPSERT_BUMP_MOD == 0)
    updates = bump.select(
        "o_orderkey",
        "o_custkey",
        F.lit("P").alias("o_orderstatus"),
        round_det(F.col("o_totalprice") * F.lit(1.1), 2).alias("o_totalprice"),
        "o_orderdate",
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    inserts = updates.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(UPSERT_NEW_OFFSET)
    )
    ups = updates.unionByName(inserts)
    cols = orders.columns
    merged = orders.alias("b").join(
        ups.alias("u"), F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer"
    )
    out = merged.select(
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
            for c in cols
        ]
    )
    # timestamps hash cross-engine as epoch micros (same convention as
    # every ts-bearing query in this repo)
    return out.withColumn(
        "o_orderdate", F.unix_micros("o_orderdate")
    ).withColumnRenamed("o_orderdate", "o_orderdate_us")


def linreg_price_vs_qty(lineitem: DataFrame) -> DataFrame:
    """Closed-form simple linear regression (extendedprice ~ quantity)
    via the normal equations — regression as a pure aggregation.

    All five sufficient statistics (n, Σx, Σy, Σxy, Σx²) come from ONE
    map-side-combinable aggregate over the scan; slope/intercept are
    O(1) arithmetic on the 1-row result. This is how regression runs on
    100 TB: no iteration, no collect, one pass. The sums are computed in
    DECIMAL (2dp inputs → 4dp products, all exact), so the statistics
    are order-independent and the derived coefficients bit-match any
    engine; only the final coefficients are rounded (6dp).
    """
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = lineitem.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    # try_divide: identical IEEE division on real data, NULL instead of
    # an ANSI DIVIDE_BY_ZERO on a zero-variance or empty input
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        round_det(slope, 6).alias("slope"),
        round_det(
            F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n")), 6
        ).alias("intercept"),
    )


def resample_daily(events: DataFrame) -> DataFrame:
    """Time-series gap filling: a dense per-user DAILY spine from each
    user's first to last active day, zero-filled where no events exist.

    The spine is generated distributively — sequence() + explode per
    user (no driver loop, no cross join against a calendar table), then
    a left join pulls the sparse daily aggregates in. Day keys are epoch
    days (pure integer arithmetic). At 100 TB the join is on
    (user_id, day) — same key as the aggregation, so AQE plans it
    without an extra exchange of the big side.
    """
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long")
    daily = (
        events.select("user_id", day.alias("day"), "value")
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("day_value"),
        )
    )
    spine = (
        events.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
        )
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
        )
    )


def hll_mergeable_distinct(events: DataFrame) -> DataFrame:
    """Two-level MERGEABLE distinct-count sketches (Datasketches HLL):
    build per-(event_type, day) sketches, then union them up to
    per-event_type totals WITHOUT touching the raw data again.

    This is the sketch property that matters at 100 TB: daily sketch
    builds are incremental (new day = new partial), and any rollup
    (weekly, all-time, cross-region) is a cheap union of byte blobs —
    never a rescan. rows-only vs the oracle by design: sketch binaries
    are implementation-specific (DuckDB's HLL differs); the pytest
    asserts the estimates against exact distinct counts instead.
    """
    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long")
    daily = (
        events.select("event_type", day.alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    return (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").cast("long").alias("approx_users"),
        )
    )


def grouped_linreg(lineitem: DataFrame) -> DataFrame:
    """Per-segment closed-form regression: one (slope, intercept) model
    per l_returnflag, fitted simultaneously in a single grouped
    aggregate — the "thousands of small models in one pass" pattern
    (per-tenant / per-SKU forecasting) that iterative fitters cannot do
    without a per-group job.

    Same decimal-exact sufficient statistics as linreg_price_vs_qty
    (2dp inputs -> exact 4dp products, order-independent sums), keyed by
    the group column: one map-side-combinable shuffle at any scale.
    """
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        round_det(slope, 6).alias("slope"),
        round_det(
            F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n")), 6
        ).alias("intercept"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next_type | prev_type) with exact counts — the
    sequence-analytics primitive behind next-action prediction and
    funnel leak analysis.

    lead() over (user_id, ts, event_id) pairs consecutive events in ONE
    window pass (same sort the sessionizer uses); the matrix is a
    grouped count plus a partition-total window on the already-tiny
    type×type result. Scale: the heavy shuffle is keyed by user_id —
    the natural even key; the matrix itself is O(|types|^2).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        round_det(
            F.col("n").cast("double") / F.sum("n").over(wt).cast("double"), 4
        ).alias("prob"),
    )


#: columns of the pairwise correlation matrix query
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def corr_matrix(lineitem: DataFrame, cols: tuple[str, ...] = CORR_COLS) -> DataFrame:
    """Pairwise Pearson correlation matrix of the numeric columns in ONE
    aggregate pass — the feature-analysis step before any modeling.

    All sufficient statistics (n, per-column sums/sum-squares, per-pair
    cross-products) come from a single map-side-combinable aggregate;
    the C(k,2) correlations are O(1) arithmetic unpivoted from the 1-row
    result. The 2dp inputs are converted to integer CENTS
    (rounding.cents: the true value is exactly 2dp, so the rounding
    only corrects float representation error — exact), products are exact
    int64 arithmetic, and the sums accumulate in decimal(38,0), so the
    doubles derived from them are bit-identical on any engine. Pearson
    correlation is scale-invariant, so the uniform ×100 leaves the
    result unchanged. ~3× cheaper than 2-dp decimal products, whose
    37-digit results take the BigDecimal slow path per row. One scan at
    any scale, no per-pair jobs.
    """
    e2 = {c: cents_sql(c) for c in cols}
    aggs = [F.expr("cast(count(*) as double) as n")]
    for c in cols:
        aggs.append(
            F.expr(
                f"cast(sum(cast({e2[c]} as decimal(38,0))) as double) as s_{c}"
            )
        )
        aggs.append(
            F.expr(
                f"cast(sum(cast({e2[c]} * {e2[c]} as decimal(38,0))) "
                f"as double) as ss_{c}"
            )
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.expr(
                f"cast(sum(cast({e2[a]} * {e2[b]} as decimal(38,0))) "
                f"as double) as sp_{a}__{b}"
            )
        )
    one = lineitem.agg(*aggs)

    def _corr(a: str, b: str):
        n, sa, sb = F.col("n"), F.col(f"s_{a}"), F.col(f"s_{b}")
        cov = n * F.col(f"sp_{a}__{b}") - sa * sb
        va = n * F.col(f"ss_{a}") - sa * sa
        vb = n * F.col(f"ss_{b}") - sb * sb
        # NULL (not DIVIDE_BY_ZERO) when a column is constant
        return F.try_divide(cov, F.sqrt(va) * F.sqrt(vb))

    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        round_det(_corr(a, b), 6).alias("corr"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


def spearman_matrix(
    lineitem: DataFrame,
    cols: tuple[str, ...] = CORR_COLS,
    large_domain: tuple[str, ...] = ("l_extendedprice",),
    materialize_bytes: int = 8 << 20,
) -> DataFrame:
    """Pairwise SPEARMAN rank correlation — the outlier-robust companion
    to :func:`corr_matrix` (monotone association instead of linear).

    Ranks are built from each column's VALUE HISTOGRAM, not a global
    sort: per column, one grouped count over distinct cent values, a
    cumulative window over that (distinct-value-sized, bounded for 2dp
    money domains) yields the doubled average tie rank
    r2 = 2·cum_before + cnt + 1 — an exact BIGINT. Rows join their ranks
    back by value (AQE-sized equi-joins), and Pearson-on-ranks runs as
    the same single sufficient-statistics aggregate as corr_matrix,
    with decimal(38,0) sums. Doubling the ranks keeps every tie-average
    integral, and correlation is scale-invariant, so the result equals
    textbook average-rank Spearman exactly. int64 rank products are
    exact to ~1.5e9 rows per table; beyond that, widen the product term
    to decimal — noted here so the limit is explicit.
    """
    from pyspark.sql.window import Window

    e2 = {c: cents_sql(c) for c in cols}
    # complete-case analysis: rows with a NULL in ANY column are dropped
    # up front — engines disagree on NULL placement in window ordering
    # (Spark nulls-first vs DuckDB nulls-last), so a NULL histogram group
    # would shift every rank on one engine only
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    base = lineitem.filter(F.expr(notnull)).select(
        *[F.expr(f"{e2[c]} as v_{c}") for c in cols]
    )
    # The plan references base 1 + len(cols) times. Whether to
    # materialize it is SIZE-DEPENDENT: below ``materialize_bytes`` of
    # source scan the re-scan is noise-free and avoids pinning storage
    # until GC; above it the lazily localCheckpointed cent projection
    # (narrow, computed once at first use, each later reference reads
    # the materialized blocks) wins — measured 1.7 s vs 2.3-3.3 s at
    # sf0.1's 10.8 MB lineitem, and the gap only widens with scale
    # (1 + len(cols) passes over a 100 TB fact table is the wrong side
    # of the trade by construction). Falls back to re-scan when the
    # input isn't a plain file scan (size unknown ⇒ already in-memory).
    src = source_bytes(lineitem)
    if src is not None and src > materialize_bytes:
        base = base.localCheckpoint(eager=False)
    joined = base
    for c in cols:
        vc = base.groupBy(f"v_{c}").agg(F.count(F.lit(1)).alias("cnt"))
        if c in large_domain:
            # data-proportional histogram (583k distinct price cents at
            # sf0.1; millions at real SF): distributed two-level prefix —
            # a single-partition ORDER BY window here was the one
            # data-proportional serial stage in the whole rank family
            cum = prefix_sum_before(vc, f"v_{c}", ["cnt"])
        else:
            # bounded 2dp domain (≤ a few thousand distinct values at ANY
            # scale — quantity/discount/tax): the global window runs over
            # a fixed-size table; the distributed form's extra exchange +
            # broadcast join is pure overhead here
            w = Window.orderBy(F.col(f"v_{c}")).rowsBetween(
                Window.unboundedPreceding, -1
            )
            cum = vc.withColumn(
                "cum_cnt", F.coalesce(F.sum("cnt").over(w), F.lit(0))
            )
        ranks = cum.select(
            f"v_{c}",
            (F.lit(2) * F.col("cum_cnt") + F.col("cnt") + F.lit(1))
            .cast("long")
            .alias(f"r2_{c}"),
        )
        joined = joined.join(ranks, f"v_{c}")

    aggs = [F.expr("cast(count(*) as double) as n")]
    for c in cols:
        aggs.append(
            F.expr(f"cast(sum(cast(r2_{c} as decimal(38,0))) as double) as s_{c}")
        )
        aggs.append(
            F.expr(
                f"cast(sum(cast(r2_{c} * r2_{c} as decimal(38,0))) as double) as ss_{c}"
            )
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.expr(
                f"cast(sum(cast(r2_{a} * r2_{b} as decimal(38,0))) as double) "
                f"as sp_{a}__{b}"
            )
        )
    one = joined.agg(*aggs)

    def _corr(a: str, b: str):
        n, sa, sb = F.col("n"), F.col(f"s_{a}"), F.col(f"s_{b}")
        cov = n * F.col(f"sp_{a}__{b}") - sa * sb
        va = n * F.col(f"ss_{a}") - sa * sa
        vb = n * F.col(f"ss_{b}") - sb * sb
        return F.try_divide(cov, F.sqrt(va) * F.sqrt(vb))

    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        round_det(_corr(a, b), 6).alias("rho"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")


def _session_path_counts(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Top-k session paths: the ordered event_type sequence of each gap
    session, counted across all sessions — the navigation-mining query
    behind "what do users do before purchasing".

    Builds on the same gap-sessionization window as sessionize_gap, then
    forms each session's path with sort_array(collect_list(struct(ts,
    event_id, type))) — the struct sort makes the aggregation
    order-INDEPENDENT (collect_list alone is partition-order dependent),
    so the path strings are deterministic anywhere. Top-k lands as
    TakeOrderedAndProject. Shuffles: one by user (window), one by
    session key, one by path — all narrow keys.
    """
    sess = _with_session_seq(events, gap_minutes, ("event_type",))
    paths = (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    lambda s: s.getField("et"),
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).cast("long").alias("path_len"),
        )
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("path_len").cast("long").alias("path_len"),
    )


def session_paths(events: DataFrame, gap_minutes: int = 30, k: int = 20) -> DataFrame:
    """Top-k session paths (see _session_path_counts for the path
    construction); top-k lands as TakeOrderedAndProject."""
    return (
        _session_path_counts(events, gap_minutes=gap_minutes)
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def decile_stats(events: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Equal-frequency value buckets (ntile semantics) with per-bucket
    aggregates — the quantile-bucketing feature transform (score
    banding, risk deciles). The ordering is made total with the
    event_id tie-break, so bucket membership is deterministic;
    per-bucket sums are exact cents (rounding.cents).

    Scale shape: NO partition-less window. The global rank comes from
    partitioning.total_order_rank (histogram prefix sum + value-local
    tie window, all stages parallel) and the ntile bucket id is integer
    arithmetic on (rank, n) via ntile_from_rank — bit-identical to
    ``ntile() OVER (ORDER BY value, event_id)`` without the
    one-task global sort that window plans.
    """
    from clusterforge_spark.functions.partitioning import (
        ntile_from_rank,
        total_order_rank,
    )

    ranked = total_order_rank(
        events.select("value", "event_id"), "value", "event_id"
    )
    n_df = F.broadcast(
        events.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    bucketed = ranked.crossJoin(n_df).select(
        "value",
        ntile_from_rank(F.col("_rank"), F.col("_n"), n_buckets).alias("decile"),
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        round_det(
            F.sum(cents("value")) / 100.0 / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("mean_value"),
    )


def tpch_shipping_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    cutoff: str = "1998-06-01",
    segment: str = "BUILDING",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shipping priority: top-k unshipped orders of one market
    segment by outstanding revenue — the selective-dim + date-band +
    top-k join benchmark shape.

    Both date predicates push to the parquet scans; the filtered
    customer segment is small and broadcast (with the runtime bloom
    filter pruning the fact side when it is not); top-k plans as
    TakeOrderedAndProject, so only k rows leave each partition. Ties
    broken by orderkey — deterministic.
    """
    cut = F.lit(cutoff).cast("timestamp")
    j = (
        lineitem.filter(F.col("l_shipdate") > cut)
        .withColumn("revenue_e4", F.expr(REVENUE_E4))
        .join(
            orders.filter(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.filter(F.col("c_mktsegment") == segment),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_sum().alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate_us"), F.asc("l_orderkey"))
        .limit(k)
    )


def tpch_large_volume_customer(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: float = 207.0,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q18 large-volume customer: orders whose total quantity
    exceeds a threshold, with their customer — the aggregate-driven
    semi-join shape (HAVING subquery feeding a join).

    The qualifying-orderkey set is a grouped HAVING aggregate that
    Catalyst feeds into the join as a plain equi-join (tiny build side,
    auto-broadcast); the big lineitem aggregation shuffles once on
    l_orderkey. Decimal quantity sums keep the threshold test and
    output exact.
    """
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(min_qty))
    )
    j = (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate_us"), F.asc("o_orderkey"))
        .limit(k)
    )


def scd2_build(orders: DataFrame) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    feed: each customer's orders become consecutive versions with
    [valid_from, valid_to) intervals and an is_current flag — the
    warehouse pattern that lets any fact row join the dimension AS OF
    its event time (the as-of join operator consumes exactly this
    shape).

    One window pass per customer (lead() for the closing bound,
    row_number() for the version) — single shuffle on the natural key;
    timestamps leave as epoch-us BIGINTs for engine-neutral output.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        F.row_number().over(w).cast("long").alias("version"),
        F.unix_micros("o_orderdate").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    )


#: EWMA smoothing factor (s_1 = x_1; s_t = 0.3*x_t + 0.7*s_{t-1})
EWMA_ALPHA = 0.3


def ewma_per_user(events: DataFrame) -> DataFrame:
    """Exponentially weighted moving average of each user's value
    series — the classic smoothing statistic that is a RECURSIVE
    (order-dependent) fold, which grouped SQL aggregates cannot express
    directly.

    Shape: per-user ordered array via sort_array(collect_list(struct))
    (order-independent construction), then ONE left fold with
    F.aggregate seeded by the first element. Both engines run the
    identical IEEE ops in the identical order (DuckDB: list(... ORDER
    BY) + list_reduce), so the smoothed value is bit-stable. State per
    user is its event list — bounded by the per-user series; for
    unbounded streams the same recurrence runs incrementally in the
    stateful streaming path.
    """
    ordered = (
        events.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("us"),
                            F.col("event_id").alias("eid"),
                            F.col("value").alias("v"),
                        )
                    )
                ),
                lambda s: s.getField("v"),
            ).alias("vs")
        )
    )
    a = F.lit(EWMA_ALPHA)
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: acc * (F.lit(1.0) - a) + x * a,
    )
    return ordered.select(
        "user_id",
        F.size("vs").cast("long").alias("n_events"),
        round_det(fold, 6).alias("ewma"),
    )


def session_cooccurrence(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Market-basket association over gap sessions: for every pair of
    event types that co-occur in a session, the co-occurrence count and
    pointwise mutual information — "users who do A in a session also do
    B" without a dedicated mining library.

    Sessions come from the same lag/cumsum window as sessionize_gap;
    each session folds into ONE sorted distinct-type array
    (collect_set + sort_array), and both the marginals and the
    unordered pairs are generated by exploding that array — the
    previous self-equi-join on the session key shuffled the
    (session, type) table twice and re-ran the sessionization window
    for each alias; in-array pair generation is map-only above a
    single aggregate, and the per-session pair fan-out is bounded by
    the (small, fixed) event-type alphabet, never by session length.
    PMI = log2(N·n_ab / (n_a·n_b)) on exact integer counts, rounded
    6dp.
    """
    sess = _with_session_seq(events, gap_minutes, ("event_type",))
    sess_sets = sess.groupBy("user_id", "session_seq").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    )
    # total session count as a broadcast 1-row frame: keeps the operator
    # fully lazy (no driver-side action at plan-build time)
    nsess = sess_sets.agg(F.count(F.lit(1)).cast("double").alias("n_sessions"))
    singles = (
        sess_sets.select(F.explode("ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sess"))
    )
    pairs = (
        sess_sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "y -> struct(x as type_a, y as type_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_sess").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_sess").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nsess))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            round_det(
                F.log2(
                    F.col("n_sessions")
                    * F.col("n_ab").cast("double")
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


#: path-pattern funnels counted per session (anchored regex over the
#: '>'-joined event-type path)
PATH_PATTERNS: tuple[tuple[str, str], ...] = (
    ("view_then_purchase", "view>.*purchase"),
    ("starts_signup", "^signup"),
    ("pure_browse", "^(view|click)(>(view|click))*$"),
)


def path_pattern_match(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """MATCH_RECOGNIZE-lite: count gap sessions whose event-type path
    matches each declared regex — sequence-pattern analytics (did the
    user view then later purchase within one session?) without a
    dedicated CEP engine.

    Builds the same deterministic per-session path string as
    session_paths, then one map-only regex pass per pattern (ASCII
    regexes — Java and RE2 dialects agree). Output: pattern,
    n_sessions_matched, pct of all sessions (4dp).
    """
    paths = _session_path_counts(events, gap_minutes=gap_minutes).select(
        "path", "n_sessions"
    )
    agg_cols = [F.sum("n_sessions").cast("long").alias("n_total")]
    for name, pat in PATH_PATTERNS:
        agg_cols.append(
            F.sum(F.when(F.col("path").rlike(pat), F.col("n_sessions")).otherwise(0))
            .cast("long")
            .alias(f"n_{name}")
        )
    one = paths.agg(*agg_cols)
    entries = [
        F.struct(
            F.lit(name).alias("pattern"),
            F.col(f"n_{name}").alias("n_matched"),
            round_det(
                F.col(f"n_{name}").cast("double") / F.col("n_total").cast("double"), 4
            ).alias("pct"),
        )
        for name, _ in PATH_PATTERNS
    ]
    return one.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


def user_growth(events: DataFrame) -> DataFrame:
    """Growth accounting: per day, active users, NEW users (first ever
    seen that day), returning users, and the cumulative unique-user
    count — the DAU/new/returning curve every product dashboard leads
    with.

    Two aggregates (per-(user, day) activity, per-user first day) and
    one small per-day window for the running total — the cumulative
    count comes from summing the new-user counts, NOT from a cumulative
    distinct (which would need O(users) window state). All integer
    arithmetic.
    """
    from pyspark.sql.window import Window

    day = F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long")
    user_days = events.select("user_id", day.alias("day")).distinct()
    first_day = user_days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active_users")
    )
    new_daily = first_day.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(new_daily, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0).cast("long")).alias("new_users"),
        )
        .withColumn(
            "returning_users", (F.col("active_users") - F.col("new_users")).cast("long")
        )
        .withColumn("cum_users", F.sum("new_users").over(w).cast("long"))
    )


def skyline_orders(orders: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not dominated on
    (newer o_orderdate, higher o_totalprice) — "most recent AND most
    valuable" trade-off analysis without scoring weights.

    The scalable formulation is two-phase: (1) a DISTRIBUTED per-date
    pre-prune — within one date, only the max-price row (tie → lowest
    key) can possibly survive the strictly-greater dominance test, so
    one keyed aggregate reduces the corpus to one candidate per
    DISTINCT date (bounded by the calendar, not the row count);
    (2) the running-max window then sorts only those candidates. A
    single unpartitioned window over the RAW table would move every row
    to one task — the exact single-partition bottleneck the per-date
    aggregate removes. Deterministic output, identical to the one-pass
    form.
    """
    from pyspark.sql.window import Window

    # phase 1: per-date champion via min(struct(-price, key)) — one
    # map-side-combinable aggregate, no sort over the raw table
    cand = (
        orders.groupBy("o_orderdate")
        .agg(
            F.min(
                F.struct(
                    (-F.col("o_totalprice")).alias("np"),
                    F.col("o_orderkey").alias("k"),
                )
            ).alias("b")
        )
        .select(
            F.col("b.k").alias("o_orderkey"),
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            (-F.col("b.np")).alias("o_totalprice"),
        )
    )
    w = (
        Window.orderBy(F.col("o_orderdate_us").desc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = F.max("o_totalprice").over(w)
    return (
        cand.select(
            "o_orderkey",
            "o_orderdate_us",
            "o_totalprice",
            running.alias("best_newer"),
        )
        .filter(
            F.col("best_newer").isNull()
            | (F.col("o_totalprice") > F.col("best_newer"))
        )
        .select("o_orderkey", "o_orderdate_us", "o_totalprice")
    )


def cohort_ltv(events: DataFrame) -> DataFrame:
    """Cohort lifetime value: cumulative revenue per first-seen-week
    cohort as it ages — the revenue companion to cohort_retention
    (retention says who comes back; LTV says what they're worth).

    Same cohort/offset derivation (min window on the user partition,
    integer µs week arithmetic); revenue accumulates in DECIMAL per
    (cohort, offset), then one tiny running-sum window over the matrix
    yields cumulative LTV — exact at every cell.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id")
    us = F.unix_micros("ts")
    d = events.select("user_id", us.alias("us"), "value")
    d = d.withColumn("first_us", F.min("us").over(w))
    cohort = F.floor(F.col("first_us") / WEEK_US).cast("long")
    offset = (
        F.floor(F.col("us") / WEEK_US) - F.floor(F.col("first_us") / WEEK_US)
    ).cast("long")
    cell = (
        d.select(
            cohort.alias("cohort_week"),
            offset.alias("week_offset"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("v").alias("week_value"))
    )
    wc = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cell.select(
        "cohort_week",
        "week_offset",
        F.col("week_value").cast("double").alias("week_value"),
        F.sum("week_value").over(wc).cast("double").alias("cum_value"),
    )


def order_reconciliation(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Numeric reconciliation: does each order's header total match the
    sum of its line net amounts? Reports only mismatching orders with
    the exact DECIMAL delta — the financial-close check that FK
    expectations don't cover (keys can resolve while amounts drift).

    One keyed aggregate + one equi-join; amounts travel as exact
    integer TEN-THOUSANDTHS of a dollar (price_cents × (100 −
    discount_cents) — int64 products of the 2dp inputs, summed in
    decimal(38,0)), so the mismatch SET is exact while skipping the
    per-row BigDecimal slow path of 2-dp decimal products. (The
    synthetic data generates o_totalprice independently of lineitem, so
    at any SF this reports nearly every order — the query's value is
    the exact delta audit.)
    """
    line_tot = lineitem.groupBy("l_orderkey").agg(
        F.expr(f"sum(cast({REVENUE_E4} as decimal(38,0))) as line_net_e4")
    )
    # LEFT join + coalesce-to-0: an order with NO lineitem rows is the
    # most severe header/detail mismatch there is — an inner join would
    # silently drop it from the very report meant to catch it
    j = orders.join(
        line_tot, orders.o_orderkey == line_tot.l_orderkey, "left"
    ).withColumn(
        "line_net_e4",
        F.coalesce(F.col("line_net_e4"), F.lit(0).cast("decimal(38,0)")),
    )
    delta_e4 = (cents("o_totalprice") * 100).cast("decimal(38,0)") - F.col("line_net_e4")
    return (
        j.select(
            "o_orderkey",
            F.col("o_totalprice"),
            (F.col("line_net_e4").cast("double") / F.lit(10000.0)).alias("line_net"),
            (delta_e4.cast("double") / F.lit(10000.0)).alias("delta"),
        )
        .filter(F.col("delta") != 0.0)
    )


def order_backlog(orders: DataFrame) -> DataFrame:
    """Order backlog curve: per week, orders entering the book, orders
    in terminal state ('F' filled), and the running open backlog —
    the operations dashboard's supply/demand balance.

    One grouped aggregate over integer week keys + one ordered window
    over the tiny weekly series. Status semantics: 'F' is terminal;
    'O'/'P' stay open. All integer arithmetic.
    """
    from pyspark.sql.window import Window

    week = F.floor(F.unix_micros("o_orderdate") / F.lit(WEEK_US)).cast("long")
    weekly = orders.groupBy(week.alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum((F.col("o_orderstatus") == "F").cast("long"))
        .cast("long")
        .alias("n_filled"),
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return weekly.withColumn(
        "open_backlog",
        (F.sum("n_orders").over(w) - F.sum("n_filled").over(w)).cast("long"),
    )


def dow_seasonality(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality per event type: activity share and value
    index by weekday — the weekly-cycle profile behind staffing, anomaly
    baselines, and traffic-mix decisions.

    dow is computed ARITHMETICALLY ((epoch_days + 4) % 7, 0 = Sunday)
    instead of with calendar functions, whose numbering conventions
    differ across engines (Spark's dayofweek is 1-based-Sunday, DuckDB's
    dow is 0-based). One grouped aggregate over (event_type, dow) plus a
    per-type total joined back — both keyed, map-side combinable; the
    output is ≤ 7·|event types| rows at any scale. Value sums accumulate
    in exact cents; the seasonality index is (dow mean / type mean),
    identical IEEE arithmetic on both engines.
    """
    dow = F.expr(
        "cast((div(unix_micros(ts), 86400000000) + 4) % 7 as bigint)"
    )
    per = events.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents("value").cast("decimal(38,0)")).alias("sum_cents"),
    )
    tot = per.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("n_total"),
        F.sum("sum_cents").alias("cents_total"),
    )
    dmean = F.col("sum_cents").cast("double") / F.col("n_events").cast("double")
    tmean = F.col("cents_total").cast("double") / F.col("n_total").cast("double")
    return per.join(tot, "event_type").select(
        "event_type",
        "dow",
        "n_events",
        round_det(
            F.col("n_events").cast("double") / F.col("n_total").cast("double"), 4
        ).alias("share_of_type"),
        round_det(dmean / F.lit(100.0), 4).alias("avg_value"),
        round_det(F.try_divide(dmean, tmean), 4).alias("value_index"),
    )


def time_to_convert(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: minutes from each user's FIRST
    'view' to their FIRST LATER 'purchase', summarized as nearest-rank
    deciles — the activation-latency curve a growth team tracks.

    Per-user firsts are conditional min aggregates in ONE pass over
    events (no join, no window over the event stream); the decile
    summary runs over the (one-row-per-converting-user) delta table
    with the same ntile-free nearest-rank construction as decile_stats:
    rank from a cumulative window over DISTINCT delta values — exact
    integers, no global row sort.
    """
    from pyspark.sql.window import Window

    firsts = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("first_view_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase_us"),
    )
    deltas = (
        firsts.filter(
            F.col("first_view_us").isNotNull()
            & F.col("first_purchase_us").isNotNull()
            & (F.col("first_purchase_us") > F.col("first_view_us"))
        )
        .select(
            F.expr(
                "div(first_purchase_us - first_view_us, 60000000)"
            ).alias("delta_min")
        )
    )
    hist = deltas.groupBy("delta_min").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("delta_min")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "delta_min", F.sum("cnt").over(w).alias("cum"), F.col("cnt")
    )
    # the total rides along as a broadcast 1-row frame — fully lazy, no
    # driver-side action at plan-build time, and the delta lineage runs
    # once instead of once for a count() and again for the histogram
    total = cum.agg(F.max("cum").cast("long").alias("n"))
    spark = events.sparkSession
    targets = spark.createDataFrame(
        [(d * 10,) for d in range(1, 10)], "pct int"
    )
    matched = (
        targets.crossJoin(F.broadcast(total))
        .crossJoin(cum)
        # nearest-rank percentile: smallest value with cum >= ceil(p·n/100)
        # (exact integer division — a float divide would shift the rank
        # threshold off the oracle's (pct·n + 99) // 100)
        .filter(F.col("cum") >= F.expr("div(pct * n + 99, 100)"))
        .groupBy("pct")
        .agg(F.min("delta_min").alias("delta_min"))
    )
    return matched.select(
        F.col("pct").cast("long").alias("pct"),
        F.col("delta_min").cast("long").alias("minutes_to_convert"),
    )


#: regressors (plus intercept) and target for the normal-equations query
MULTIREG_X = ("l_quantity", "l_discount", "l_tax")
MULTIREG_Y = "l_extendedprice"


def normal_equations(
    lineitem: DataFrame,
    x_cols: tuple[str, ...] = MULTIREG_X,
    y_col: str = MULTIREG_Y,
) -> DataFrame:
    """Multi-feature linear-regression SUFFICIENT STATISTICS: every
    XᵀX and Xᵀy entry (intercept included) as exact integer cent
    products — the distributed half of the closed-form solve. The
    driver-side β = (XᵀX)⁻¹Xᵀy inversion is O(k³) on a k×k matrix and
    belongs off-cluster; shipping the exact sums keeps the whole
    distributed computation oracle-checkable (matrix inversion is not
    SQL) and is precisely how production photon-style regressions
    aggregate. One scan, one map-side-combinable aggregate, k(k+3)/2+1
    output rows for k features.

    Output: (term_a, term_b, sum_e4) where sum_e4 = Σ a·b in exact
    1e-4-dollar² units ('1' denotes the intercept column) — solved and
    validated against numpy.lstsq in the pytest.
    """
    terms = {"1": "cast(100 as bigint)"}
    for c in (*x_cols, y_col):
        terms[c] = cents_sql(c)
    names = ["1", *x_cols]
    pairs = []
    for i, a in enumerate(names):
        for b in names[i:]:
            pairs.append((a, b))
    for a in names:
        pairs.append((a, y_col))
    # one codegen aggregate with k(k+3)/2+1 sum columns, unpivoted AFTER
    # the agg: the explode-then-group form shipped |pairs|× the row count
    # through the shuffle (8.4M rows at sf0.1 — measured 1.9 s vs 0.4 s);
    # here the scan's map-side partials are the whole job and the explode
    # runs on ONE row
    aggs = [
        F.expr(
            f"cast(sum(cast({terms[a]} * {terms[b]} as decimal(38,0))) "
            f"as double) as s_{i}"
        )
        for i, (a, b) in enumerate(pairs)
    ]
    one = lineitem.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("term_a"),
                        F.lit(b).alias("term_b"),
                        F.col(f"s_{i}").alias("sum_e4"),
                    )
                    for i, (a, b) in enumerate(pairs)
                ]
            )
        ).alias("p")
    ).select("p.*")


def tpch_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 promotion effect, per ship month: the share of revenue
    coming from PROMO-type parts — the selective-dim-attribute join +
    conditional-aggregate benchmark shape.

    One fact-dim equi-join (part is the small side — broadcast / bloom-
    pruned at scale) and one grouped aggregate with a conditional sum.
    Revenue accumulates in exact 1e-4-dollar integer units
    (decimal(38,0)); the promo share is ONE final IEEE division per
    month, so the output is bit-stable across engines and partitionings.
    """
    j = lineitem.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        # integer yyyymm key: cross-engine stable (a timestamp-typed
        # month column invites tz/dtype drift between engines)
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_month"),
        F.expr(f"cast({REVENUE_E4} as decimal(38,0))").alias("rev_e4"),
        (F.col("p_type") == "PROMO").alias("is_promo"),
    )
    g = j.groupBy("ship_month").agg(
        F.sum(F.when(F.col("is_promo"), F.col("rev_e4")).otherwise(F.lit(0))).alias(
            "promo_e4"
        ),
        F.sum("rev_e4").alias("total_e4"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )
    return g.select(
        "ship_month",
        round_det(
            F.lit(100.0)
            * F.try_divide(
                F.col("promo_e4").cast("double"), F.col("total_e4").cast("double")
            ),
            4,
        ).alias("promo_pct"),
        round_det(F.col("total_e4").cast("double") / F.lit(1e4), 2).alias("revenue"),
        "n_lineitems",
    )


#: Q19-shape OR-of-conjunction bands: (brand, size range, quantity range)
TPCH_BRAND_BANDS = (
    ("Brand#1", 1, 15, 1.0, 20.0),
    ("Brand#2", 10, 30, 10.0, 30.0),
    ("Brand#3", 20, 50, 20.0, 40.0),
)


def tpch_brand_volume(
    lineitem: DataFrame,
    part: DataFrame,
    bands: tuple = TPCH_BRAND_BANDS,
) -> DataFrame:
    """TPC-H Q19-shape discounted revenue under an OR of per-brand
    (size, quantity) band conjunctions — the benchmark's disjunctive
    multi-table predicate.

    The OR references both sides of the join, so Catalyst cannot push it
    below the join by itself; the IMPLIED single-table envelopes
    (brand ∈ {bands}, size/quantity within the union of ranges) are
    added explicitly — the classic OR-expansion pre-filter — so both
    scans prune before the join and only candidate rows shuffle. The
    exact disjunction then runs post-join. Revenue in exact 1e-4-dollar
    decimal units; one row per matched band keeps the output stable.
    """
    brands = [b[0] for b in bands]
    min_size = min(b[1] for b in bands)
    max_size = max(b[2] for b in bands)
    min_qty = min(b[3] for b in bands)
    max_qty = max(b[4] for b in bands)
    p = part.filter(
        F.col("p_brand").isin(brands)
        & F.col("p_size").between(min_size, max_size)
    )
    li = lineitem.filter(F.col("l_quantity").between(min_qty, max_qty))
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    band_case = F.coalesce(
        *[
            F.when(
                (F.col("p_brand") == b)
                & F.col("p_size").between(slo, shi)
                & F.col("l_quantity").between(qlo, qhi),
                F.lit(b),
            )
            for b, slo, shi, qlo, qhi in bands
        ]
    )
    return (
        j.withColumn("band", band_case)
        .filter(F.col("band").isNotNull())
        .groupBy("band")
        .agg(
            round_det(
                F.sum(F.expr(f"cast({REVENUE_E4} as decimal(38,0))")).cast("double")
                / F.lit(1e4),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


#: Q21-shape lateness threshold: a line is LATE when it ships more than
#: this many days after its order date.
Q21_LATE_DAYS = 60
Q21_TOPK = 25


def tpch_waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = Q21_LATE_DAYS,
    k: int = Q21_TOPK,
) -> DataFrame:
    """TPC-H Q21-shape "suppliers who kept orders waiting": count, per
    supplier, the multi-supplier orders where THIS supplier shipped late
    (> ``late_days`` after the order date) and NO OTHER supplier did —
    the benchmark's correlated EXISTS / NOT EXISTS + 4-way join stress
    test, adapted to this schema's date columns (l_shipdate vs
    o_orderdate stands in for receipt-vs-commit).

    Spark shape: the correlated subqueries become ONE per-order
    aggregate over the joined lineitem (distinct supplier count, late
    supplier set size, the late supplier when unique) — a single
    shuffle on the order key instead of two correlated re-scans of
    lineitem, which is exactly how Catalyst would decorrelate the
    EXISTS pair anyway, written explicitly so the plan is pinned. The
    supplier dim broadcasts; top-k is TakeOrderedAndProject.
    """
    j = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("long")
            - F.col("o_orderdate").cast("long")
            > F.lit(late_days * 86400)
        ).alias("is_late"),
    )
    # two-level aggregate instead of two count_distincts in one agg: the
    # multi-distinct form plans a 3-way Expand over the joined fact rows
    # (measured 2.6 s vs 1.2 s at sf0.1, and 3× the 100 TB scan through
    # the partial agg); per-(order, supplier) first, then plain counts
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("supp_late").cast("long")).alias("n_late_supp"),
        F.min(F.when(F.col("supp_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    culpable = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    ).select(F.col("late_supp").alias("s_suppkey"))
    counts = culpable.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("numwait")
    )
    return (
        counts.join(F.broadcast(supplier.select("s_suppkey", "s_name")), "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# TPC-H shapes Q4 / Q7 / Q8 / Q9 / Q10 / Q13 / Q15 / Q17 / Q22
# (this schema has no partsupp table, so Q2/Q11/Q16/Q20 — the four
# shapes defined on it — have no faithful adaptation here)
# ---------------------------------------------------------------------------

Q4_WINDOW = ("1997-01-01", "1997-04-01")
Q4_LATE_DAYS = 45


def tpch_priority_check(
    orders: DataFrame,
    lineitem: DataFrame,
    window: tuple = Q4_WINDOW,
    late_days: int = Q4_LATE_DAYS,
) -> DataFrame:
    """TPC-H Q4-shape order-priority checking: orders placed in a
    quarter that had AT LEAST ONE late line (shipped > ``late_days``
    after the order date — this schema's stand-in for
    commitdate < receiptdate), counted per priority.

    Spark shape: the correlated EXISTS becomes a LEFT SEMI hash join on
    the order key with the lateness predicate as its residual — one
    shuffle, no distinct, no double-scan of lineitem; the quarter filter
    is a pushed parquet range scan on orders.
    """
    lo, hi = window
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    lines = lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        lines,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate").cast("long")
            > F.col("o_orderdate").cast("long") + F.lit(late_days * 86400)
        ),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


Q7_NATIONS = ("NATION_1", "NATION_2")
Q7_SHIP_WINDOW = ("1996-01-01", "1998-01-01")


def tpch_volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nations: tuple = Q7_NATIONS,
    window: tuple = Q7_SHIP_WINDOW,
) -> DataFrame:
    """TPC-H Q7-shape volume shipping: revenue flowing between two
    nations (supplier nation ≠ customer nation, both directions), per
    ship year.

    Spark shape: the two-nation filter is applied to supplier and
    customer BEFORE their joins — at 100 TB that prunes both sides to
    2/N of their rows ahead of any shuffle. supplier⋈nation and the
    nation dim itself broadcast; lineitem⋈orders and orders⋈customer
    shuffle on their keys with AQE sizing. Revenue is the exact e4-unit
    decimal sum.
    """
    lo, hi = window
    n = nation.filter(F.col("n_name").isin(list(nations))).select(
        "n_nationkey", "n_name"
    )
    supp = supplier.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = customer.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("l_year"),
        F.expr(f"{REVENUE_E4} as revenue_e4"),
    )
    j = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_revenue_sum().alias("revenue"))
    )


Q8_NATION = "NATION_3"
Q8_REGION = "EUROPE"
Q8_TYPE = "ECONOMY"
Q8_ORDER_WINDOW = ("1996-01-01", "1998-01-01")


def tpch_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = Q8_NATION,
    target_region: str = Q8_REGION,
    part_type: str = Q8_TYPE,
    window: tuple = Q8_ORDER_WINDOW,
) -> DataFrame:
    """TPC-H Q8-shape market share: the fraction of a region's revenue
    (for one part type, customers in the region, order-date window)
    supplied by one nation, per order year.

    Spark shape: part is filtered to the type and customer to the
    region BEFORE joining (both prune the fact early); nation/region/
    supplier-side lookups broadcast. The share is a conditional exact
    e4 sum over the total exact sum — one aggregate, no second pass.
    """
    lo, hi = window
    p = part.filter(F.col("p_type") == part_type).select("p_partkey")
    rkey = region.filter(F.col("r_name") == target_region).select("r_regionkey")
    cust_nat = nation.join(
        F.broadcast(rkey), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    cust = customer.join(
        F.broadcast(cust_nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year"))
    j = (
        lineitem.select(
            "l_orderkey", "l_partkey", "l_suppkey", F.expr(f"{REVENUE_E4} as revenue_e4")
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "leftsemi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    target = F.sum(
        F.when(
            F.col("supp_nation") == target_nation,
            F.expr("cast(revenue_e4 as decimal(38,0))"),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))
    )
    total = F.sum(F.expr("cast(revenue_e4 as decimal(38,0))"))
    return j.groupBy("o_year").agg(
        round_det(target.cast("double") / total.cast("double"), 6).alias("mkt_share"),
        round_det(total.cast("double") / F.lit(1e4), 2).alias("total_revenue"),
    )


#: e4-unit profit: revenue minus a retail-cost proxy (this schema has no
#: partsupp.ps_supplycost; p_retailprice·quantity stands in).
PROFIT_E4 = (
    f"({REVENUE_E4}) - {cents_sql('p_retailprice')} * {cents_sql('l_quantity')}"
)


def tpch_product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q9-shape product-type profit by supplier nation and order
    year. Profit per line = discounted revenue − retail cost proxy
    (no partsupp in this schema), both in exact e4 integer units so the
    nation/year sums are order-independent at any scale.

    Spark shape: lineitem⋈part and lineitem⋈orders shuffle on their
    keys (part may auto-broadcast at small SF — AQE's call, not a
    hint); supplier⋈nation broadcasts. One aggregate, decimal-exact.
    """
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    j = (
        lineitem.join(part.select("p_partkey", "p_retailprice"),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("supp_nation", "o_year", F.expr(f"{PROFIT_E4} as profit_e4"))
    )
    return j.groupBy("supp_nation", "o_year").agg(
        round_det(
            F.expr("cast(sum(cast(profit_e4 as decimal(38,0))) as double) / 10000.0"),
            2,
        ).alias("sum_profit")
    )


Q10_WINDOW = ("1996-10-01", "1997-01-01")
Q10_TOPK = 20


def tpch_returned_items(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    window: tuple = Q10_WINDOW,
    k: int = Q10_TOPK,
) -> DataFrame:
    """TPC-H Q10-shape returned-item losses: top customers by revenue of
    lines they returned (l_returnflag = 'R') for orders placed in a
    quarter.

    Spark shape: the quarter filter prunes orders at the scan; the
    returnflag filter prunes lineitem at the scan; revenue aggregates
    per customer BEFORE joining the customer/nation dims, so the dim
    join sees one row per customer, not per line. Top-k with a
    deterministic custkey tie-break is TakeOrderedAndProject.
    """
    lo, hi = window
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", F.expr(f"{REVENUE_E4} as revenue_e4")
    )
    per_cust = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(_revenue_sum().alias("revenue"))
    )
    dim = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        per_cust.join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


Q13_EXCLUDE_PRIORITY = "1-URGENT"


def tpch_customer_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = Q13_EXCLUDE_PRIORITY,
) -> DataFrame:
    """TPC-H Q13-shape customer distribution: how many customers placed
    exactly c_count qualifying orders (priority filter standing in for
    the comment NOT LIKE), INCLUDING zero-order customers via the left
    outer join.

    Spark shape: two hash aggregates back-to-back — per-customer count
    over the left join, then the count histogram whose key space is
    tiny (≤ max orders per customer). No window, no distinct.
    """
    o = orders.filter(F.col("o_orderpriority") != exclude_priority).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


Q15_WINDOW = ("1996-01-01", "1996-04-01")


def tpch_top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    window: tuple = Q15_WINDOW,
) -> DataFrame:
    """TPC-H Q15-shape top supplier: the supplier(s) whose quarter
    revenue equals the maximum over all suppliers.

    Spark shape: the revenue view aggregates once; the scalar MAX comes
    from a 1-row aggregate cross-joined back (broadcast by construction
    — never a single-partition window over all suppliers). Exact e4
    revenue makes the equality tie-proof across engines.
    """
    lo, hi = window
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi))
        )
        .select("l_suppkey", F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as revenue_e4"))
        .groupBy("l_suppkey")
        .agg(F.sum("revenue_e4").alias("total_e4"))
    )
    mx = rev.agg(F.max("total_e4").alias("max_e4"))
    return (
        rev.join(F.broadcast(mx), F.col("total_e4") == F.col("max_e4"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            round_det(F.col("total_e4").cast("double") / F.lit(1e4), 2).alias(
                "total_revenue"
            ),
        )
    )


Q17_BRAND = "Brand#23"
Q17_QTY_FRACTION = 0.2


def tpch_small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = Q17_BRAND,
    fraction: float = Q17_QTY_FRACTION,
) -> DataFrame:
    """TPC-H Q17-shape small-quantity order revenue: average yearly
    revenue lost if small orders (quantity < ``fraction``·avg for the
    part) of one brand's parts were not filled.

    Spark shape: the correlated per-part AVG subquery decorrelates into
    one grouped aggregate over the SAME brand-pruned join, joined back
    by part key — Catalyst's standard decorrelation, written explicitly.
    The brand filter prunes part at the scan and the join prunes
    lineitem before any aggregation. avg(quantity) is exact here
    (integral quantities, one division) so the threshold compare is
    engine-stable.
    """
    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = li.join(
        avg_qty, F.col("l_partkey") == F.col("a_partkey")
    ).filter(F.col("l_quantity") < F.lit(fraction) * F.col("avg_qty"))
    return small.agg(
        round_det(
            F.sum(cents("l_extendedprice").cast("decimal(38,0)")).cast("double")
            / F.lit(100.0)
            / F.lit(7.0),
            2,
        ).alias("avg_yearly")
    )


Q22_NATIONKEYS = (1, 2, 3, 4, 5, 6, 7)
Q22_LAPSE_DATE = "2001-01-01"


def tpch_global_sales_opportunity(
    customer: DataFrame,
    orders: DataFrame,
    nationkeys: tuple = Q22_NATIONKEYS,
    lapse_date: str = Q22_LAPSE_DATE,
) -> DataFrame:
    """TPC-H Q22-shape global sales opportunity: per nation (standing in
    for the phone country code), the count and total balance of
    above-average-balance customers with NO orders since ``lapse_date``
    (every customer here has SOME order, so the classic no-orders-ever
    anti-join would be vacuous).

    Spark shape: the positive-balance average is a 1-row aggregate
    broadcast back (scalar subquery); the NOT EXISTS is a left anti hash
    join against the date-pruned orders projection. Balances sum in
    exact cents.
    """
    keys = list(nationkeys)
    cust = customer.filter(F.col("c_nationkey").isin(keys)).select(
        "c_custkey",
        "c_nationkey",
        cents("c_acctbal").alias("bal_e2"),
    )
    avg_bal = cust.filter(F.col("bal_e2") > 0).agg(
        (F.sum(F.expr("cast(bal_e2 as decimal(38,0))")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avg_e2")
    )
    rich = cust.join(F.broadcast(avg_bal), F.col("bal_e2").cast("double") > F.col("avg_e2"))
    recent = orders.filter(F.col("o_orderdate") >= F.lit(lapse_date)).select("o_custkey")
    lapsed = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return lapsed.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        round_det(
            F.expr("cast(sum(cast(bal_e2 as decimal(38,0))) as double) / 100.0"), 2
        ).alias("totacctbal"),
    )


Q2_SIZE = 15
Q2_REGION = "EUROPE"
#: unit cost in exact cents: price_cents // qty. l_quantity is
#: integer-valued in this corpus (asserted by the oracle's identical
#: floor-division), so the division is engine-exact integer arithmetic.
UNIT_COST_E2 = (
    f"{cents_sql('l_extendedprice')} div cast(floor(l_quantity + 0.5) as bigint)"
)


def tpch_min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    size: int = Q2_SIZE,
    region_name: str = Q2_REGION,
) -> DataFrame:
    """TPC-H Q2-shape minimum-cost supplier: for every size-``size``
    part, the supplier(s) in ``region_name`` offering it at the minimum
    observed unit cost. The corpus has no partsupp table, so the supply
    relation is the OBSERVED one — distinct (l_partkey, l_suppkey) pairs
    with cost = min unit price over their lineitems (exact integer
    cents, UNIT_COST_E2).

    Spark shape (Q2's correlated MIN decorrelated): the part-size and
    supplier-region filters ride BROADCAST joins BELOW the aggregate —
    the (part, supplier) min-cost hash agg runs on the ~1/|size-domain|
    slice of lineitem, not the full fact table (the offers subtree is
    consumed twice, so pre-agg pruning pays double); the per-part
    minimum is a second aggregate joined back by (partkey, cost)
    equality — no window over suppliers, both aggregates partial-agg
    friendly. Ref shape: TPC-H Q2 (minimum cost supplier).
    """
    supp_region = (
        supplier.join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    sized = part.filter(F.col("p_size") == size).select("p_partkey", "p_name")
    offers = (
        lineitem.select(
            "l_partkey", "l_suppkey", F.expr(f"{UNIT_COST_E2} as unit_e2")
        )
        .join(F.broadcast(sized), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_region), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("unit_e2").alias("cost_e2"))
    )
    best = offers.groupBy(F.col("p_partkey").alias("bk")).agg(
        F.min("cost_e2").alias("min_e2")
    )
    return offers.join(
        best,
        (F.col("p_partkey") == F.col("bk")) & (F.col("cost_e2") == F.col("min_e2")),
    ).select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        "p_name",
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        "n_name",
        round_det(F.col("s_acctbal").cast("double"), 2).alias("s_acctbal"),
        round_det(F.col("cost_e2").cast("double") / F.lit(100.0), 2).alias(
            "min_unit_cost"
        ),
    )


Q11_NATION = "NATION_8"
Q11_MEAN_MULT = 2


def tpch_important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = Q11_NATION,
    mean_mult: int = Q11_MEAN_MULT,
) -> DataFrame:
    """TPC-H Q11-shape important stock: parts whose supply value from
    ``nation_name`` suppliers exceeds ``mean_mult``× the nation's MEAN
    per-part supply value. Supply value per part = exact-e4 revenue of
    its lineitems from those suppliers (the observed-supply stand-in for
    availqty·supplycost). Q11's spec fraction is 0.0001/SF — explicitly
    scale-dependent; anchoring to the mean share keeps the selectivity
    stable as part cardinality grows with scale.

    Spark shape: one filtered hash aggregate per part; the HAVING
    threshold is a 1-row (total, n_parts) aggregate broadcast back, and
    the comparison stays in exact integers
    (value·n_parts > mult·total) — no float fraction, so the boundary
    part set is engine-identical. Ref shape: TPC-H Q11 (important stock
    identification).
    """
    nkeys = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    supp = supplier.join(
        F.broadcast(nkeys), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    vals = (
        lineitem.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"))
        .groupBy("l_partkey")
        .agg(F.sum("rev_e4").alias("value_e4"))
    )
    total = vals.agg(
        F.sum("value_e4").alias("total_e4"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        vals.join(
            F.broadcast(total),
            F.col("value_e4") * F.col("n_parts")
            > F.col("total_e4") * F.lit(mean_mult),
        )
        .select(
            F.col("l_partkey").cast("long").alias("p_partkey"),
            round_det(
                F.col("value_e4").cast("double") / F.lit(1e4), 2
            ).alias("stock_value"),
        )
    )


Q16_EXCLUDED_BRAND = "Brand#23"


def tpch_parts_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excluded_brand: str = Q16_EXCLUDED_BRAND,
) -> DataFrame:
    """TPC-H Q16-shape parts/supplier relationship: how many distinct
    suppliers can provide each (brand, type, size) combination,
    excluding one brand and excluding "complaint" suppliers (negative
    account balance — the corpus stand-in for Q16's comment-LIKE
    filter), over the observed supply pairs.

    Spark shape: the supply relation collapses to DISTINCT
    (partkey, suppkey) first (the heavy reduction happens before any
    dim join), complaint suppliers leave via a broadcast LEFT ANTI join,
    part attributes ride a broadcast join, and the count-distinct groups
    on the 3-attribute key. Ref shape: TPC-H Q16.
    """
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    complainers = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    clean = pairs.join(
        F.broadcast(complainers),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    parts = part.filter(F.col("p_brand") != excluded_brand).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        clean.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


Q20_PTYPE = "PROMO"
Q20_WINDOW = ("1995-01-01", "1996-01-01")


def tpch_excess_supply(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    ptype: str = Q20_PTYPE,
    window: tuple = Q20_WINDOW,
) -> DataFrame:
    """TPC-H Q20-shape excess supply: suppliers who shipped more than
    half of their all-time quantity of some ``ptype`` part inside one
    year — the concentration probe Q20 runs against availqty (which this
    corpus lacks; the observed in-window vs all-time split carries the
    same nested-aggregate-threshold shape).

    Spark shape: Q20's nested IN subqueries collapse into ONE
    conditional aggregate per (suppkey, partkey) — window quantity and
    total quantity in the same pass, exact integer sums — followed by an
    integer threshold filter, a per-supplier excess-part count (sparse
    supply pairs make "has ≥1 excess part" near-universal; the COUNT is
    the discriminating signal), and a broadcast join to names. Two
    shuffles: pair key, then supplier key. Ref shape: TPC-H Q20
    (potential part promotion).
    """
    lo, hi = window
    promo = part.filter(F.col("p_type") == ptype).select("p_partkey")
    qty = (
        lineitem.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_suppkey",
            "l_partkey",
            F.expr("cast(floor(l_quantity + 0.5) as bigint) as qty"),
            (
                (F.col("l_shipdate") >= F.lit(lo))
                & (F.col("l_shipdate") < F.lit(hi))
            ).alias("in_win"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(F.col("in_win"), F.col("qty")).otherwise(F.lit(0))).alias(
                "win_qty"
            ),
            F.sum("qty").alias("tot_qty"),
        )
    )
    excess = (
        qty.filter(F.col("win_qty") * 2 > F.col("tot_qty"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_excess_parts"),
            F.sum("win_qty").alias("excess_win_qty"),
        )
    )
    return (
        excess.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "s_name", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "n_name",
            "n_excess_parts",
            F.col("excess_win_qty").cast("long").alias("excess_win_qty"),
        )
    )


#: TPC-H Q12 adaptation: the observed lineitem has no l_shipmode /
#: l_commitdate / l_receiptdate, so (like Q2/Q11/Q16/Q20's observed-supply
#: adaptation) the missing columns are DERIVED deterministically from
#: existing integer keys — identical arithmetic in both engines.
Q12_MODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
Q12_TARGET_MODES = ("MAIL", "SHIP")
#: receipt-day window [1996-01-01, 1998-01-01) as epoch-day indexes
Q12_RECEIPT_DAYS = (9496, 10227)
Q12_HIGH = ("1-URGENT", "2-HIGH")


def tpch_shipmode_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shipmode priority: per ship mode, how many LATE lines
    (commit < receipt, ship < commit, receipt in a 2-year window) belong
    to high- vs low-priority orders — the "does cheap shipping delay
    urgent orders" audit.

    Derived columns (public Q12 semantics on the observed schema):
      shipmode    = Q12_MODES[(31·l_orderkey + l_linenumber) mod 7]
      commit_day  = ship_day + ((l_orderkey + 3·l_linenumber) mod 60 − 30)
      receipt_day = ship_day + ((5·l_orderkey + 7·l_linenumber) mod 90 − 30)
    with ship_day = unix_micros/86400e6 — all exact integer arithmetic,
    so both engines derive identical rows.

    Spark shape: the mode + lateness + window predicates apply BEFORE
    the join (map-side, ~2/7 × window selectivity on the fact table),
    one hash join on orderkey, one 2-row conditional aggregate with
    map-side partials. No window, no global sort.
    Ref shape: public TPC-H Q12 (shipping modes and order priority).
    """
    d_lo, d_hi = Q12_RECEIPT_DAYS
    mode_arr = F.array(*[F.lit(m) for m in Q12_MODES])
    idx = (
        F.pmod(F.col("l_orderkey") * F.lit(31) + F.col("l_linenumber"), F.lit(7))
        .cast("int")
        + F.lit(1)
    )
    ship_day = F.expr("div(unix_micros(l_shipdate), 86400000000)")
    commit_day = ship_day + F.pmod(
        F.col("l_orderkey") + F.lit(3) * F.col("l_linenumber"), F.lit(60)
    ) - F.lit(30)
    receipt_day = ship_day + F.pmod(
        F.lit(5) * F.col("l_orderkey") + F.lit(7) * F.col("l_linenumber"), F.lit(90)
    ) - F.lit(30)
    late = (
        lineitem.select(
            "l_orderkey",
            F.element_at(mode_arr, idx).alias("l_shipmode"),
            ship_day.alias("_sd"),
            commit_day.alias("_cd"),
            receipt_day.alias("_rd"),
        )
        .filter(
            F.col("l_shipmode").isin(*Q12_TARGET_MODES)
            & (F.col("_cd") < F.col("_rd"))
            & (F.col("_sd") < F.col("_cd"))
            & (F.col("_rd") >= d_lo)
            & (F.col("_rd") < d_hi)
        )
        .select("l_orderkey", "l_shipmode")
    )
    high = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        late.join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# classical statistics: one-way ANOVA, autocorrelation, CUSUM changepoint
# ---------------------------------------------------------------------------


def anova_f(orders: DataFrame) -> DataFrame:
    """One-way ANOVA F-statistic for order value across priority classes
    — "does order priority explain any of the price variance", the
    categorical-effect screen run before modeling on a feature.

    Distributed shape: ONE hash aggregate collects the per-group
    sufficient statistics (n, Σx, Σx²) with exact cent/cent² integers in
    decimal(38,0) — order-independent at any scale — and the k-row
    reduction to SSB/SSW/F is arithmetic on a bounded tiny frame. No
    second pass, no window. F is rounded to 4dp per the repo's
    downstream-of-division convention.
    """
    g = orders.select(
        "o_orderpriority",
        cents("o_totalprice").alias("v_e2"),
    ).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.expr("cast(v_e2 as decimal(38,0))")).alias("sum_g"),
        F.sum(F.expr("cast(v_e2 as decimal(38,0)) * cast(v_e2 as decimal(38,0))")).alias(
            "sumsq_g"
        ),
    )
    # k-row reduction: exact decimals cast to double only at the final
    # ratio; SSW_g = Σx² − (Σx)²/n per group, SSB from group vs grand mean
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sum_g").alias("sum_all"),
        F.sum(
            F.col("sumsq_g").cast("double")
            - F.col("sum_g").cast("double") * F.col("sum_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("ssw_e4"),
        F.sum(
            F.col("sum_g").cast("double") * F.col("sum_g").cast("double")
            / F.col("n_g").cast("double")
        ).alias("sq_means_e4"),
    )
    ssb = F.col("sq_means_e4") - (
        F.col("sum_all").cast("double") * F.col("sum_all").cast("double")
        / F.col("n").cast("double")
    )
    f_stat = (ssb / (F.col("k") - 1).cast("double")) / (
        F.col("ssw_e4") / (F.col("n") - F.col("k")).cast("double")
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        round_det(f_stat, 4).alias("f_stat"),
    )


ACF_MAX_LAG = 7


def weekly_churn(events: DataFrame) -> DataFrame:
    """Weekly churn series: of the users active in week w, how many
    came back in week w+1 — the retention complement of the cohort
    matrix, reported as the per-week churn rate a growth dashboard
    tracks.

    Weeks are integer epoch-weeks (floor(epoch_day/7) — identical
    arithmetic in any engine; calendar-week TRUNC conventions differ
    between engines and would make the buckets themselves ambiguous).
    Plan: one distinct (user, week) aggregate, a self equi-join on
    (user, week+1) as a left_semi probe, a per-week count — all keyed
    shuffles, no windows. The final week has no lookahead and is
    excluded (bounded 1-row broadcast of max week).
    """
    wk = F.expr(
        "cast(floor(floor(unix_micros(ts) / 86400000000) / 7) as bigint)"
    ).alias("wk")
    active = events.select("user_id", wk).distinct()
    nxt = active.select(
        F.col("user_id").alias("u2"), (F.col("wk") - F.lit(1)).alias("wk2")
    )
    retained = active.join(
        nxt, (F.col("user_id") == F.col("u2")) & (F.col("wk") == F.col("wk2")),
        "left_semi",
    )
    max_wk = active.agg(F.max("wk").alias("max_wk"))
    per = (
        active.groupBy("wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(
            retained.groupBy("wk").agg(
                F.count(F.lit(1)).cast("long").alias("n_retained")
            ),
            "wk",
            "left",
        )
        .fillna({"n_retained": 0})
        .crossJoin(F.broadcast(max_wk))
        .filter(F.col("wk") < F.col("max_wk"))
    )
    return per.select(
        "wk",
        "n_active",
        "n_retained",
        (F.col("n_active") - F.col("n_retained")).alias("n_churned"),
        round_det(
            (F.col("n_active") - F.col("n_retained")).cast("double")
            / F.col("n_active").cast("double"),
            4,
        ).alias("churn_rate"),
    )


#: half-width of the rolling-median frame (±3 days ⇒ a 7-day window)
ROLLMED_HALF = 3


def rolling_median_daily(lineitem: DataFrame, half: int = ROLLMED_HALF) -> DataFrame:
    """7-day rolling MEDIAN smoother over the daily-revenue series plus
    the residual — the robust trend/anomaly decomposition (a median
    filter ignores single-day spikes that drag a rolling mean, so the
    residual isolates exactly those spikes).

    Same scale posture as acf_daily_revenue: one exact-cent hash
    aggregate over the fact table, then every window runs on the
    DAY-COUNT-bounded series (calendar-bounded, not data-bounded). The
    frame is positional (ROWS ±half) over the unique day key, so both
    engines see identical frames; the median interpolates exact-e4
    integers and is rounded 6dp before the residual subtraction.
    """
    from pyspark.sql.window import Window

    daily = (
        lineitem.select(
            F.expr(
                "cast(floor(unix_micros(date_trunc('day', l_shipdate))"
                " / 86400000000) as bigint)"
            ).alias("day"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("day")
        .agg(F.sum("rev_e4").cast("long").alias("x_e4"))
    )
    w = Window.orderBy("day").rowsBetween(-half, half)
    m = daily.withColumn("med_e4", F.expr("percentile(x_e4, 0.5)").over(w))
    med = round_det(F.col("med_e4") / F.lit(1e4), 6)
    return m.select(
        "day",
        round_det(F.col("x_e4").cast("double") / F.lit(1e4), 4).alias("revenue"),
        med.alias("med7"),
        round_det(
            F.col("x_e4").cast("double") / F.lit(1e4) - med, 6
        ).alias("residual"),
    )


def acf_daily_revenue(lineitem: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Sample autocorrelation of the daily-revenue series at lags
    1..``max_lag`` — the seasonality screen behind "is revenue weekly-
    periodic".

    Scale note: the heavy part — the daily aggregate — is one exact-cent
    hash aggregate over the fact table; everything after runs on the
    DAY-COUNT-bounded series (a 100 TB corpus has more rows, not more
    calendar days), so the single ordered window over it is bounded by
    time, not data, the same justification as spearman's small-domain
    branch. r_k uses the standard biased estimator
    Σ(x_t−x̄)(x_{t−k}−x̄)/Σ(x_t−x̄)² over positional lags of the
    date-ordered series.
    """
    from pyspark.sql.window import Window

    daily = (
        lineitem.select(
            F.date_trunc("day", F.col("l_shipdate")).alias("d"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("d")
        .agg(F.sum("rev_e4").alias("x_e4"))
    )
    # the day totals stay exact e4 decimals all the way to the per-row
    # deviation, so every dev value is one identical double op on exact
    # inputs in either engine
    mean = daily.agg(
        (F.sum("x_e4").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "xbar_e4"
        )
    )
    w = Window.orderBy("d")
    lagged = daily.crossJoin(F.broadcast(mean)).select(
        "d",
        ((F.col("x_e4").cast("double") - F.col("xbar_e4")) / F.lit(1e4)).alias("dev"),
        *[
            (
                (F.lag("x_e4", k).over(w).cast("double") - F.col("xbar_e4"))
                / F.lit(1e4)
            ).alias(f"dev_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    aggs = [F.sum(F.col("dev") * F.col("dev")).alias("den")] + [
        F.sum(F.col("dev") * F.col(f"dev_{k}")).alias(f"num_{k}")
        for k in range(1, max_lag + 1)
    ]
    one = lagged.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        round_det(F.col(f"num_{k}") / F.col("den"), 4).alias("acf"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("p")
    ).select("p.*")


def cusum_changepoint(lineitem: DataFrame) -> DataFrame:
    """CUSUM changepoint over the daily-revenue series: the day k
    maximizing |S_k − (k/n)·S_n| (cumulative sum vs the no-change
    line) — the standard level-shift detector for a monitored metric.

    Same time-bounded shape as :func:`acf_daily_revenue`: one exact-cent
    daily aggregate over the facts, then a calendar-bounded cumulative
    window. S_k stays an exact decimal; only the k/n projection goes
    through double, so the argmax (earliest-date tie-break) is
    engine-stable.
    """
    from pyspark.sql.window import Window

    daily = (
        lineitem.select(
            F.date_trunc("day", F.col("l_shipdate")).alias("d"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("d")
        .agg(F.sum("rev_e4").alias("day_e4"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum("day_e4").over(w).alias("s_k"),
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
    )
    total = daily.agg(
        F.sum("day_e4").alias("s_n"), F.count(F.lit(1)).cast("long").alias("n")
    )
    stat = cum.crossJoin(F.broadcast(total)).select(
        "d",
        F.abs(
            (F.col("s_k").cast("double")
             - F.col("k").cast("double") / F.col("n").cast("double")
             * F.col("s_n").cast("double"))
            / F.lit(1e4)
        ).alias("stat"),
    )
    best = stat.agg(F.max("stat").alias("max_stat"))
    return (
        stat.join(F.broadcast(best), F.col("stat") == F.col("max_stat"))
        .select("d", round_det(F.col("stat"), 2).alias("cusum_stat"))
        .orderBy("d")
        .limit(1)
        # ISO string: timestamp physical types differ across engines
        # (ns vs µs pandas units), strings compare exactly
        .select(F.date_format("d", "yyyy-MM-dd").alias("change_date"), "cusum_stat")
    )


#: centered moving-average half-width: 7-point MA over the daily series
STL_HALF = 3


def stl_decompose(lineitem: DataFrame) -> DataFrame:
    """Classical additive decomposition of the daily-revenue series:
    trend (centered 7-point moving average), seasonal (per-weekday mean
    of the detrended series), residual — the trend/seasonality split run
    before anomaly thresholds or forecasting.

    Scale note (the ACF/CUSUM argument): the heavy step is one
    exact-cent hash aggregate over the fact table; everything after runs
    on the DAY-COUNT-bounded series, so the single ordered window is
    bounded by calendar time, not data volume.

    Determinism: the detrended series stays an exact integer —
    det7_e4 = 7·rev_e4 − Σ₇rev_e4 (both decimal(38,0)) — so the per-dow
    seasonal numerator is an exact integer sum and every emitted double
    is one identical division on exact inputs in both engines; the
    weekday is arithmetic ((day+4) % 7, 0 = Sunday — the
    :func:`dow_seasonality` convention). Edge days without a full
    7-point window are excluded (trend undefined there).
    """
    from pyspark.sql.window import Window

    daily = (
        lineitem.select(
            F.expr("div(unix_micros(l_shipdate), 86400000000)").alias("day"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("day")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    w = Window.orderBy("day").rowsBetween(-STL_HALF, STL_HALF)
    det = (
        daily.select(
            "day",
            "rev_e4",
            F.sum("rev_e4").over(w).alias("sum7_e4"),
            F.count(F.lit(1)).over(w).alias("n7"),
        )
        .filter(F.col("n7") == 2 * STL_HALF + 1)
        .select(
            "day",
            "rev_e4",
            "sum7_e4",
            (F.col("rev_e4") * (2 * STL_HALF + 1) - F.col("sum7_e4")).alias(
                "det7_e4"
            ),
            F.expr("cast((day + 4) % 7 as bigint)").alias("dow"),
        )
    )
    seas = det.groupBy("dow").agg(
        F.sum("det7_e4").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("n_dow"),
    )
    scale = float((2 * STL_HALF + 1) * 10_000)
    seasonal = F.col("s_num").cast("double") / (
        F.lit(scale) * F.col("n_dow").cast("double")
    )
    return det.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("long").alias("day"),
        round_det(F.col("rev_e4").cast("double") / F.lit(1e4), 2).alias("revenue"),
        round_det(F.col("sum7_e4").cast("double") / F.lit(scale), 4).alias("trend"),
        round_det(seasonal, 4).alias("seasonal"),
        round_det(
            F.col("det7_e4").cast("double") / F.lit(scale) - seasonal, 4
        ).alias("residual"),
    )


def mann_kendall(lineitem: DataFrame) -> DataFrame:
    """Mann-Kendall nonparametric trend test on the daily-revenue
    series: S = Σ_{i<j} sign(x_j − x_i), tie-corrected variance, and the
    normal-approximation Z — "is revenue monotonically trending"
    without assuming linearity or normality (the robust complement to
    :func:`linreg_price_vs_qty`'s OLS).

    Scale note (the ACF/CUSUM/STL argument): the heavy step is the
    exact-cent daily aggregate; the O(days²) pair comparison runs on the
    CALENDAR-bounded series (~10³ rows ⇒ ~10⁶ comparisons — a broadcast
    nested-loop join over metadata-sized frames at any corpus size).

    Determinism: x values are exact e4 integers, so S, n and the tie
    term are integers; var = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 and
    Z = (S∓1)/√var are single identical double ops on exact inputs.
    """
    daily = (
        lineitem.select(
            F.expr("div(unix_micros(l_shipdate), 86400000000)").alias("day"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("day")
        .agg(F.sum("rev_e4").alias("x"))
    ).cache()
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
    s = a.join(b, F.col("d1") < F.col("d2")).agg(
        F.sum(F.signum(F.col("x2") - F.col("x1")).cast("long")).alias("s_stat"),
    )
    nties = daily.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
    tie_term = nties.filter(F.col("t") > 1).agg(
        F.coalesce(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("tie_sum")
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    var_num = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_sum")
    ).cast("double") / F.lit(18.0)
    z = F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double")).when(
        F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double")
    ).otherwise(F.lit(0.0)) / F.sqrt(var_num)
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tie_term))
        .select(
            "n_days",
            "s_stat",
            round_det(var_num, 4).alias("var_s"),
            round_det(z, 4).alias("z"),
        )
    )


def theil_sen(lineitem: DataFrame, _probe: dict | None = None) -> DataFrame:
    """Theil-Sen robust trend estimate for the daily-revenue series:
    slope = median of all pairwise slopes (x_j−x_i)/(d_j−d_i), intercept
    = median of (x_i − slope·d_i) — the outlier-resistant line that
    pairs with :func:`mann_kendall` (MK answers "is there a trend",
    Theil-Sen answers "how steep").

    Scale note: same calendar-bounded argument — the O(days²) pair set
    (~10⁶ rows for years of data) exists only above the exact-cent daily
    aggregate; the exact medians buffer a metadata-sized series, never
    row data.

    Determinism: every pairwise slope is ONE double division of exact
    integers (e4 revenue delta / integer day delta), so both engines
    sort identical doubles; medians interpolate identically (linear,
    the percentile/quantile_cont convention), computed by the
    DISTRIBUTED exact-quantile selection
    (functions/partitioning.exact_quantile — Spark's ``percentile``
    aggregate buffers all 3M pair slopes into one reducer: 9.3 s
    measured vs ~1 s, and an OOM magnet at real SF).
    """
    from clusterforge_spark.functions.partitioning import exact_quantile

    daily = (
        lineitem.select(
            F.expr("div(unix_micros(l_shipdate), 86400000000)").alias("day"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("day")
        .agg(F.sum("rev_e4").alias("x"))
    ).cache()
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
    # try_divide, not /: Catalyst folds downstream IsNotNull filters into
    # the join condition, where the division would evaluate on d2 == d1
    # pairs before the < predicate — an ANSI DIVIDE_BY_ZERO on rows the
    # join was about to drop. try_divide is total; the d1 < d2 condition
    # guarantees no null actually survives.
    slopes = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            F.try_divide(
                (F.col("x2") - F.col("x1")).cast("double"),
                (F.col("d2") - F.col("d1")).cast("double"),
            )
            / F.lit(1e4)
        ).alias("slope")
    )
    # _probe: plan-capture hook (r12 verdict item 6) — records the real
    # distributed frames (the pairwise-slope join and the selection's
    # internal aggregates) for scripts/explain_plans.py; None in every
    # query path.
    if _probe is not None:
        _probe.setdefault("pair_slopes", slopes)
    slope = exact_quantile(slopes, "slope", 0.5, probe=_probe)
    spark = lineitem.sparkSession
    if slope is None:
        # degenerate series (< 2 distinct days): no pairwise slope
        # exists, so the estimator is undefined — return the one-row
        # report with null slope/intercept rather than crashing in
        # _round_half_up(None).
        n_days = daily.count()
        return spark.createDataFrame(
            [(int(n_days), 0, None, None)],
            "n_days long, n_pairs long, slope_per_day double, intercept double",
        )
    resid = daily.select(
        (
            F.col("x").cast("double") / F.lit(1e4)
            - F.lit(slope) * F.col("day").cast("double")
        ).alias("r")
    )
    icept = exact_quantile(resid, "r", 0.5)
    n_days = daily.count()
    row = [
        (
            int(n_days),
            int(n_days * (n_days - 1) // 2),
            _round_half_up(slope, 6),
            _round_half_up(icept, 4),
        )
    ]
    return spark.createDataFrame(
        row, "n_days long, n_pairs long, slope_per_day double, intercept double"
    )


GAPFILL_BRAND = "Brand#23"


def gap_fill_daily_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = GAPFILL_BRAND
) -> DataFrame:
    """Calendar gap-fill + linear interpolation of a sparse daily-revenue
    series (one brand's parts ship on ~60% of days) — the standard
    time-series regularization step before any windowed model.

    Shape: one exact-cent daily aggregate over the brand-pruned join,
    the full calendar generated from the min/max bounds (sequence
    explode off a 1-row aggregate), a left join, and two
    calendar-bounded ignore-nulls windows (last-before / first-after)
    for the bracketing observations. Interpolation arithmetic runs on
    exact e4 integers and integer day distances, so the doubles are
    identical cross-engine. Day count is time-bounded, not data-bounded
    (same argument as :func:`acf_daily_revenue`).
    """
    from pyspark.sql.window import Window

    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    daily = (
        lineitem.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.floor(F.unix_micros(F.col("l_shipdate")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("day")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    cal = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = cal.join(daily, "day", "left")
    w_back = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("rev_e4").isNotNull(), F.col("day"))
    br = j.select(
        "day",
        "rev_e4",
        F.last("rev_e4", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_d"),
        F.first("rev_e4", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_d"),
    )
    interp = (
        F.col("prev_v").cast("double")
        + (F.col("next_v").cast("double") - F.col("prev_v").cast("double"))
        * (F.col("day") - F.col("prev_d")).cast("double")
        / (F.col("next_d") - F.col("prev_d")).cast("double")
    ) / F.lit(1e4)
    actual = F.col("rev_e4").cast("double") / F.lit(1e4)
    return br.select(
        "day",
        round_det(F.when(F.col("rev_e4").isNotNull(), actual).otherwise(interp), 4).alias(
            "revenue"
        ),
        F.col("rev_e4").isNull().alias("is_interpolated"),
    )


def mutual_information(events: DataFrame) -> DataFrame:
    """Mutual information (and marginal entropies) between event type and
    day-of-week — the dependence screen behind "is behavior weekday-
    structured", and the categorical-feature-selection primitive.

    One hash aggregate builds the exact joint histogram (≤ |types|·7
    cells); marginals reduce from it; MI = Σ p(x,y)·ln(p(x,y)·n /
    (n_x·n_y)) evaluates on the tiny cell frame with exact integer
    counts feeding identical doubles in both engines. dow is derived
    from epoch days (engine-neutral, unlike dayofweek()'s differing
    conventions).
    """
    dow = F.pmod(F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)), F.lit(7)).cast(
        "long"
    )
    joint = (
        events.select(F.col("event_type").alias("x"), dow.alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    nx = joint.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    ny = joint.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    n = joint.agg(F.sum("n_xy").alias("n"))
    cells = (
        joint.join(F.broadcast(nx), "x")
        .join(F.broadcast(ny), "y")
        .crossJoin(F.broadcast(n))
    )
    nd = F.col("n").cast("double")
    p_xy = F.col("n_xy").cast("double") / nd
    mi_term = p_xy * F.log(
        F.col("n_xy").cast("double") * nd
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    mi = cells.agg(F.sum(mi_term).alias("mi_raw"))
    # marginal entropies reduce over their own tiny frames (never the
    # joint cells — a cell-level sum would count each marginal once per
    # partner value)
    ent = lambda cnt: -F.sum(  # noqa: E731
        (F.col(cnt).cast("double") / nd) * F.log(F.col(cnt).cast("double") / nd)
    )
    hx = nx.crossJoin(F.broadcast(n)).agg(ent("n_x").alias("hx_raw"))
    hy = ny.crossJoin(F.broadcast(n)).agg(ent("n_y").alias("hy_raw"))
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            round_det(F.col("mi_raw"), 6).alias("mi_nats"),
            round_det(F.col("hx_raw"), 6).alias("entropy_type"),
            round_det(F.col("hy_raw"), 6).alias("entropy_dow"),
        )
    )


#: churn horizon: a customer whose last order is further than this many
#: days from the end of the observation window is an observed churn
#: ("event"); closer ones are right-censored (still possibly active).
KM_CHURN_DAYS = 90


def kaplan_meier(orders: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve of customer lifetime (days between a
    customer's first and last order), right-censoring customers whose
    last order falls within ``KM_CHURN_DAYS`` of the dataset's end —
    the standard churn-analysis estimator: S(t) = Π_{t_i ≤ t}
    (1 − d_i / n_i) with d_i = churns at lifetime t_i and n_i = at-risk
    (everyone whose lifetime ≥ t_i).

    Scale shape: one per-customer min/max aggregate over orders is the
    only pass touching row data; everything after runs on the
    DISTINCT-LIFETIME table, bounded by the calendar span (a 100 TB
    corpus has more customers, not more distinct day-counts), so the
    single ordered window over it is time-bounded — the same argument
    as acf/stl/mann_kendall.

    Determinism: d_i, c_i, n_i are exact integers; each KM factor is ONE
    double division; the running product is exp(Σ ln factor) — written
    identically on both engines — with an explicit zero-factor flag
    (n_i == d_i kills the curve to exactly 0.0 rather than routing
    through ln(0), which Spark nulls and DuckDB -infs). Rounded 4dp.
    """
    from pyspark.sql.window import Window

    day = F.expr("div(unix_micros(o_orderdate), 86400000000)")
    per = orders.groupBy("o_custkey").agg(
        F.min(day).alias("first_d"), F.max(day).alias("last_d")
    )
    horizon = per.agg((F.max("last_d") - F.lit(KM_CHURN_DAYS)).alias("cut_d"))
    life = per.crossJoin(F.broadcast(horizon)).select(
        (F.col("last_d") - F.col("first_d")).alias("t"),
        F.when(F.col("last_d") < F.col("cut_d"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    tbl = life.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    w_all = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    n_total = tbl.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    stepped = (
        tbl.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            (
                F.col("n_total")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_all), F.lit(0))
            ).cast("long"),
        )
        .withColumn(
            "factor",
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double"),
        )
    )
    survival = F.when(
        F.max(F.when(F.col("factor") <= F.lit(0.0), 1).otherwise(0)).over(w_cum)
        == 1,
        F.lit(0.0),
    ).otherwise(
        F.exp(F.sum(F.log(F.greatest(F.col("factor"), F.lit(1e-300)))).over(w_cum))
    )
    return stepped.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        round_det(survival, 4).alias("survival"),
    )


#: train fraction of the temporal split (integer arithmetic: the cutoff
#: date is the smallest day whose cumulative order count reaches
#: ⌊n·4/5⌋, so both engines pick the identical calendar day).
TSPLIT_TRAIN_NUM, TSPLIT_TRAIN_DEN = 4, 5


def temporal_split(orders: DataFrame) -> DataFrame:
    """Leakage-safe temporal train/test split of orders: the cutoff is
    the smallest order DATE at which the cumulative order count reaches
    80% — time-ordered, never hash-random, because a model trained on
    rows from the future of its eval window is leakage (the companion
    to q_hash_split / q_kfold_split, which cover the i.i.d. case).

    Plan: one date-histogram aggregate (distinct days, calendar-bounded)
    + a tiny cumulative window to find the cutoff day, broadcast back
    onto orders for the split label — the fact table is scanned once
    and never sorted.

    Output is the audit summary per split (counts, date range, exact
    cents revenue), not the labeled rows — the labeling expression is
    the operator; the summary is what a pipeline asserts on.
    """
    from pyspark.sql.window import Window

    day = F.expr("div(unix_micros(o_orderdate), 86400000000)")
    hist = orders.groupBy(day.alias("dy")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("dy").rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(F.sum("cnt").alias("n_all"))
    cut = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("cnt").over(w))
        .filter(
            F.col("cum")
            >= F.expr(f"div(n_all * {TSPLIT_TRAIN_NUM}, {TSPLIT_TRAIN_DEN})")
        )
        .agg(F.min("dy").alias("cut_d"))
    )
    lab = orders.crossJoin(F.broadcast(cut)).select(
        F.when(day <= F.col("cut_d"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
        day.alias("dy"),
        cents("o_totalprice").alias("p"),
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.date_format(F.date_from_unix_date(F.min("dy").cast("int")), "yyyy-MM-dd")
        .alias("min_date"),
        F.date_format(F.date_from_unix_date(F.max("dy").cast("int")), "yyyy-MM-dd")
        .alias("max_date"),
        (F.sum("p") / 100.0).alias("total_price"),
    )


#: market-basket thresholds: pairs must co-occur in ≥ MIN_SUP orders;
#: report the TOP_K pairs by lift.
BASKET_MIN_SUP = 3
BASKET_TOP_K = 20
#: basket-array materialize gate (spearman-style re-scan trade): module
#: constant so the stress harness can reproduce the pre-gate shape
#: (STRESS_GATE_OFF) for old-vs-new scale measurements
BASKET_MATERIALIZE_BYTES = 8 << 20


def market_basket(lineitem: DataFrame) -> DataFrame:
    """Association-rule mining over order baskets: for part pairs
    co-occurring in ≥ ``BASKET_MIN_SUP`` orders, support / directional
    confidence / lift, top ``BASKET_TOP_K`` by lift — the classic
    "frequently bought together" miner.

    Scale shape: the pair expansion is a self-join of the DISTINCT
    (order, part) basket relation on the order key with p1 < p2, so the
    blowup per order is C(basket_size, 2) — bounded by the largest
    basket (≤ ~7 lines in this schema), NOT by data volume; it
    co-locates on the order key with no skew (one order = one basket).
    Item frequencies join back on part keys (dim-sized; AQE broadcasts).

    Determinism: support/confidence/lift are single double ops on exact
    integer counts, rounded 6dp; the top-k order is total
    (lift desc, then the unique pair key), so LIMIT is stable.
    """
    from clusterforge_spark.functions.partitioning import source_bytes

    # ONE shuffle builds the per-order sorted basket arrays (collect_set
    # dedups (ok, pk) exactly like the previous DISTINCT pass); the order
    # count, item frequencies and the C(m,2) pair expansion all derive
    # from the compact arrays with JVM higher-order functions — the r12
    # optimization round replaced the basket self-join here (guide
    # §2.4/§3.3: the join shuffled the basket relation a second time and
    # re-ran the distinct per consumer; 5 exchanges of row data → 1).
    # sort_array makes x < y structural: x pairs only with later slice
    # elements. Arrays are basket-sized (≤ ~7 lines per order in this
    # schema) — never a skew surface.
    grouped = (
        lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("parts"))
    )
    src = source_bytes(lineitem)
    if src is not None and src > BASKET_MATERIALIZE_BYTES:
        # three consumers below — materialize the arrays once above the
        # spearman-style re-scan gate
        grouped = grouped.localCheckpoint(eager=False)
    n_orders = grouped.agg(F.count(F.lit(1)).alias("n_ord"))
    item = grouped.select(F.explode("parts").alias("pk")).groupBy("pk").agg(
        F.count(F.lit(1)).alias("icnt")
    )
    pair_arr = F.expr(
        "flatten(transform(parts, (x, i) -> transform("
        "slice(parts, i + 2, size(parts)), y -> named_struct('p1', x, 'p2', y))))"
    )
    pairs = (
        grouped.select(F.explode(pair_arr).alias("pr"))
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pcnt"))
        .filter(F.col("pcnt") >= BASKET_MIN_SUP)
    )
    enriched = (
        pairs.join(item.select(F.col("pk").alias("p1"), F.col("icnt").alias("c1")), "p1")
        .join(item.select(F.col("pk").alias("p2"), F.col("icnt").alias("c2")), "p2")
        .crossJoin(F.broadcast(n_orders))
    )
    nd = F.col("n_ord").cast("double")
    out = enriched.select(
        "p1",
        "p2",
        F.col("pcnt").cast("long").alias("n_both"),
        round_det(F.col("pcnt").cast("double") / nd, 6).alias("support"),
        round_det(
            F.col("pcnt").cast("double") / F.col("c1").cast("double"), 6
        ).alias("confidence"),
        round_det(
            F.col("pcnt").cast("double") * nd
            / (F.col("c1").cast("double") * F.col("c2").cast("double")),
            6,
        ).alias("lift"),
    )
    return out.orderBy(F.col("lift").desc(), "p1", "p2").limit(BASKET_TOP_K)


def user_behavior_profile(events: DataFrame) -> DataFrame:
    """Per-user behavioral profile: modal event type (deterministic
    tie-break: higher count, then lexicographically smaller type), its
    share, and the Shannon entropy of the user's type mix — the
    diversity-vs-specialization signal behind bot heuristics (a scripted
    account hammers one type: share→1, entropy→0).

    One (user, type) count aggregate; the mode comes from a row_number
    window PARTITIONED by user (parallel, group size ≤ #types); entropy
    is −Σ(c/n)·log2(c/n) over ≤ #types exact ratios, 6dp (the LM/KL
    family's accepted log determinism).
    """
    from pyspark.sql.window import Window

    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id")
    ut = ut.withColumn("n_events", F.sum("cnt").over(w)).withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.col("cnt").desc(), F.col("event_type").asc())
        ),
    )
    p = F.col("cnt").cast("double") / F.col("n_events").cast("double")
    per = ut.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.min(F.when(F.col("rn") == 1, F.col("event_type"))).alias("top_type"),
        F.max(F.when(F.col("rn") == 1, F.col("cnt"))).cast("long").alias("top_cnt"),
        F.sum(-p * F.log2(p)).alias("h"),
    )
    return per.select(
        "user_id",
        "n_events",
        "n_types",
        "top_type",
        round_det(
            F.col("top_cnt").cast("double") / F.col("n_events").cast("double"), 4
        ).alias("top_share"),
        round_det(F.col("h"), 6).alias("type_entropy"),
    )


def fulfillment_latency(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Order-to-ship latency SLA report per order priority: exact
    day-count latency distribution (mean / p50 / p90 / max) — the
    fulfillment dashboard every TPC-H-shaped retail schema wants.

    Latency is an exact integer day difference; one fact-fact equi-join
    on orderkey (the orders side projects two columns before the
    shuffle), one hash aggregate with the exact sort-based percentile.
    """
    lat = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("lat_days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        round_det(
            F.sum("lat_days").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mean_days"),
        round_det(F.expr("percentile(lat_days, 0.5)"), 6).alias("p50_days"),
        round_det(F.expr("percentile(lat_days, 0.9)"), 6).alias("p90_days"),
        F.max("lat_days").alias("max_days"),
    )


def longest_streak(events: DataFrame) -> DataFrame:
    """Per-user longest run of consecutive active days — the classic
    gaps-and-islands operator (streak badges, habit metrics), which the
    reference's fixed pipeline has no analog for but any engagement
    schema needs.

    Days are integer epoch-days (floor(epoch_us/86400e6) — identical
    arithmetic in any engine). The island key is day − row_number()
    PARTITIONED by user (constant within a consecutive run): one
    distinct aggregate, one user-partitioned window (group size = the
    user's active-day count, never global), one re-aggregate — all
    keyed shuffles, deterministic integers end to end.
    """
    from pyspark.sql.window import Window

    day = F.expr(
        "cast(floor(unix_micros(ts) / 86400000000) as bigint)"
    ).alias("day")
    ud = events.select("user_id", day).distinct()
    grp = (
        F.col("day")
        - F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    ).alias("grp")
    runs = ud.select("user_id", "day", grp).groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("run_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("run_len").cast("long").alias("longest_streak"),
    )


def rolling_active_users(events: DataFrame) -> DataFrame:
    """Daily active users (DAU) and 7-day rolling active users (WAU)
    with the DAU/WAU stickiness ratio, on a gap-filled calendar spine —
    the growth dashboard's headline series.

    Exact rolling distinct WITHOUT a range join or a count-distinct
    window (neither is exact-and-scalable): each distinct (user, day)
    row is exploded to the ≤7 spine days whose trailing window covers
    it (sequence(day, day+6)), deduped, and counted per spine day — a
    keyed shuffle whose size is bounded by 7 × |user-days|. The spine
    is the full [min_day, max_day] calendar (one-row sequence explode,
    calendar-bounded at any SF).
    """
    day = F.expr(
        "cast(floor(unix_micros(ts) / 86400000000) as bigint)"
    ).alias("day")
    ud = events.select("user_id", day).distinct()
    bounds = ud.agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("epoch_day")
    )
    dau = ud.groupBy(F.col("day").alias("epoch_day")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    cover = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(6))
            ).alias("epoch_day"),
        )
        .distinct()
        .groupBy("epoch_day")
        .agg(F.count(F.lit(1)).cast("long").alias("wau_7d"))
    )
    out = (
        spine.join(dau, "epoch_day", "left")
        .join(cover, "epoch_day", "left")
        .fillna({"dau": 0, "wau_7d": 0})
    )
    return out.select(
        "epoch_day",
        "dau",
        "wau_7d",
        F.when(
            F.col("wau_7d") > 0,
            round_det(
                F.col("dau").cast("double") / F.col("wau_7d").cast("double"), 4
            ),
        ).otherwise(F.lit(0.0)).alias("stickiness"),
    )


def returns_rate_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Return-rate report per part brand: line share and exact revenue
    share flagged RETURNED (l_returnflag = 'R') — the merchandising
    quality dashboard over the TPC-H-shaped retail schema.

    Facts pre-pruned to (partkey, flag, exact e4 revenue) before the
    join; the part dimension is broadcast (projected to 2 columns), so
    the only shuffle is the final ≤|brands| hash aggregate. Money sums
    are order-independent exact integers (REVENUE_E4 rules).
    """
    li = lineitem.select(
        "l_partkey",
        (F.col("l_returnflag") == "R").alias("is_ret"),
        F.expr(f"{REVENUE_E4} as revenue_e4"),
    )
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    e4 = "cast(revenue_e4 as decimal(38,0))"
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.expr("case when is_ret then 1 else 0 end")).cast("long").alias(
            "n_returned"
        ),
        round_det(
            F.expr(
                "cast(sum(case when is_ret then 1 else 0 end) as double)"
                " / count(1)"
            ),
            4,
        ).alias("return_rate"),
        round_det(
            F.expr(f"cast(sum({e4}) as double) / 10000.0"), 2
        ).alias("revenue"),
        round_det(
            F.expr(
                f"cast(sum(case when is_ret then {e4} else cast(0 as decimal(38,0)) end) as double)"
                " / 10000.0"
            ),
            2,
        ).alias("returned_revenue"),
    )


def kendall_daily(lineitem: DataFrame) -> DataFrame:
    """Kendall tau-b between the daily revenue and daily quantity
    series — completing the correlation family (Pearson corr_matrix,
    Spearman spearman_matrix, Kendall) with the rank-concordance
    member that is robust to any monotone transform.

    Both daily series are exact integers (e4 revenue, e2 quantity), so
    every pair comparison is exact and the concordant/discordant/tie
    counts are deterministic. The all-pairs stage is a self-join of the
    DAILY aggregate with itself — calendar-bounded (n days ≈ 2.4k for
    7 years at ANY raw-data scale, ~3M pairs), so the quadratic is on
    the calendar, never on the fact table. tau_b =
    (C−D)/sqrt((C+D+Ty)·(C+D+Tx)) from exact integer counts.
    """
    daily = (
        lineitem.select(
            F.expr(
                "cast(floor(unix_micros(l_shipdate) / 86400000000) as bigint)"
            ).alias("day"),
            F.expr(f"{REVENUE_E4} as revenue_e4"),
            cents("l_quantity").alias("qty_e2"),
        )
        .groupBy("day")
        .agg(
            F.sum(F.expr("cast(revenue_e4 as decimal(38,0))")).alias("rev"),
            F.sum(F.expr("cast(qty_e2 as decimal(38,0))")).alias("qty"),
        )
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("rev").alias("r1"), F.col("qty").alias("q1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("rev").alias("r2"), F.col("qty").alias("q2")
    )
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    cnt = pairs.agg(
        F.sum(
            F.expr(
                "case when (r1 < r2 and q1 < q2) or (r1 > r2 and q1 > q2)"
                " then 1 else 0 end"
            )
        ).cast("long").alias("concordant"),
        F.sum(
            F.expr(
                "case when (r1 < r2 and q1 > q2) or (r1 > r2 and q1 < q2)"
                " then 1 else 0 end"
            )
        ).cast("long").alias("discordant"),
        F.sum(
            F.expr("case when r1 = r2 and q1 <> q2 then 1 else 0 end")
        ).cast("long").alias("ties_rev"),
        F.sum(
            F.expr("case when q1 = q2 and r1 <> r2 then 1 else 0 end")
        ).cast("long").alias("ties_qty"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return cnt.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        "n_pairs",
        "concordant",
        "discordant",
        "ties_rev",
        "ties_qty",
        round_det(
            F.expr(
                "cast(concordant - discordant as double) / "
                "sqrt(cast(concordant + discordant + ties_qty as double) * "
                "cast(concordant + discordant + ties_rev as double))"
            ),
            6,
        ).alias("tau_b"),
    )


def latency_moments(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Higher-moment profile of the order-to-ship latency per priority:
    population variance, skewness and excess kurtosis from EXACT
    integer power sums — completing the distribution-profile family
    (percentiles in fulfillment_latency; moments here).

    Latencies are small integers, so S1..S4 = Σ lat^k accumulate in
    decimal(38,0) (HUGEINT on the oracle side): order-independent and
    exact at any row count — the double-Σ reorder hazard that motivates
    REVENUE_E4 applies to x⁴ sums even harder. The final double
    arithmetic is the same IEEE expression in both engines on identical
    exact inputs. skew = m3/(m2·√m2) (sqrt, not pow(·,1.5) — pow is
    libm-dependent, sqrt is IEEE-exact).
    """
    lat = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.expr(
            "cast(datediff(cast(l_shipdate as date), cast(o_orderdate as date))"
            " as decimal(38,0))"
        ).alias("x"),
    )
    s = lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
        F.sum(F.expr("x * x * x")).alias("s3"),
        F.sum(F.expr("x * x * x * x")).alias("s4"),
    )
    mu = "(cast(s1 as double) / n)"
    r2 = "(cast(s2 as double) / n)"
    r3 = "(cast(s3 as double) / n)"
    r4 = "(cast(s4 as double) / n)"
    m2 = f"({r2} - {mu} * {mu})"
    m3 = f"({r3} - 3 * {mu} * {r2} + 2 * {mu} * {mu} * {mu})"
    m4 = (
        f"({r4} - 4 * {mu} * {r3} + 6 * {mu} * {mu} * {r2}"
        f" - 3 * {mu} * {mu} * {mu} * {mu})"
    )
    return s.select(
        "o_orderpriority",
        "n",
        round_det(F.expr(mu), 6).alias("mean_days"),
        round_det(F.expr(m2), 6).alias("var_pop"),
        round_det(F.expr(f"{m3} / ({m2} * sqrt({m2}))"), 6).alias("skewness"),
        round_det(F.expr(f"{m4} / ({m2} * {m2}) - 3"), 6).alias("kurtosis_excess"),
    )


def new_vs_returning(orders: DataFrame) -> DataFrame:
    """Monthly revenue split between NEW customers (their first-ever
    order month) and RETURNING ones — the acquisition-vs-retention
    decomposition every revenue dashboard leads with.

    The first-order month per customer is a keyed aggregate (partial
    map-side combine), joined back on custkey — both shuffles are on
    the customer key; the final aggregate is ≤ |months|. Money is
    exact integer cents summed in decimal(38,0).
    """
    ym = F.expr(
        "cast(year(o_orderdate) * 100 + month(o_orderdate) as int)"
    ).alias("ym")
    o = orders.select("o_custkey", ym, cents("o_totalprice").alias("cents"))
    first = o.groupBy("o_custkey").agg(F.min("ym").alias("first_ym"))
    j = o.join(first, "o_custkey").withColumn(
        "is_new", F.col("ym") == F.col("first_ym")
    )
    dec = "cast(cents as decimal(38,0))"
    zero = "cast(0 as decimal(38,0))"
    out = j.groupBy("ym").agg(
        F.sum(F.expr("case when is_new then 1 else 0 end")).cast("long").alias(
            "n_new"
        ),
        F.sum(F.expr("case when is_new then 0 else 1 end")).cast("long").alias(
            "n_returning"
        ),
        F.sum(F.expr(f"case when is_new then {dec} else {zero} end")).alias(
            "rev_new_c"
        ),
        F.sum(F.expr(f"case when is_new then {zero} else {dec} end")).alias(
            "rev_ret_c"
        ),
    )
    return out.select(
        "ym",
        "n_new",
        "n_returning",
        round_det(F.expr("cast(rev_new_c as double) / 100.0"), 2).alias(
            "rev_new"
        ),
        round_det(F.expr("cast(rev_ret_c as double) / 100.0"), 2).alias(
            "rev_returning"
        ),
        round_det(
            F.expr(
                "cast(rev_new_c as double) / "
                "(cast(rev_new_c as double) + cast(rev_ret_c as double))"
            ),
            4,
        ).alias("new_rev_share"),
    )


def _daily_revenue_e4(lineitem: DataFrame) -> DataFrame:
    """Shared first stage of the time-series diagnostics family: one
    exact-cent hash aggregate collapsing the fact table to the daily
    revenue series (d, x_e4) with x_e4 an exact decimal(38,0) in 1e-4
    currency units. Everything downstream of this runs on a
    CALENDAR-bounded series (more data means more rows per day, never
    more days), the scale argument shared with acf_daily_revenue.
    """
    return (
        lineitem.select(
            F.date_trunc("day", F.col("l_shipdate")).alias("d"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("d")
        .agg(F.sum("rev_e4").alias("x_e4"))
    )


#: seasonal period for the naive-forecast error baseline (weekly)
SEASONAL_LAG = 7


def seasonal_naive_mase(lineitem: DataFrame) -> DataFrame:
    """Forecast-quality floor for the daily-revenue series: MAE of the
    seasonal-naive forecast (x̂_t = x_{t−7}) against MAE of the one-step
    naive (x̂_t = x_{t−1}), and their ratio — the MASE denominator
    convention (Hyndman & Koehler 2006). Any real forecasting model has
    to beat the seasonal-naive row before it earns cluster time; this
    query computes the bar.

    Both error sums are exact BIGINT e4 sums of |lag differences| of the
    exact daily series (positional lags of the date-ordered observed
    series, the acf_daily_revenue convention), so the MAEs and their
    ratio are single identical IEEE divisions on exact inputs —
    engine-stable without any tolerance.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy("d")
    lagged = _daily_revenue_e4(lineitem).select(
        "x_e4",
        F.lag("x_e4", 1).over(w).alias("l1"),
        F.lag("x_e4", SEASONAL_LAG).over(w).alias("l7"),
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("x_e4") - F.col("l7"))).alias("s7"),
        F.count("l7").cast("long").alias("n7"),
        F.sum(F.abs(F.col("x_e4") - F.col("l1"))).alias("s1"),
        F.count("l1").cast("long").alias("n1"),
    )
    mae7 = F.col("s7").cast("double") / F.lit(1e4) / F.col("n7").cast("double")
    mae1 = F.col("s1").cast("double") / F.lit(1e4) / F.col("n1").cast("double")
    return agg.select(
        "n_days",
        round_det(mae7, 2).alias("mae_seasonal"),
        round_det(mae1, 2).alias("mae_naive"),
        round_det(mae7 / mae1, 4).alias("mase"),
    )


def pettitt_changepoint(lineitem: DataFrame) -> DataFrame:
    """Pettitt (1979) rank-based changepoint on the daily-revenue
    series — the distribution-free companion to cusum_changepoint
    (which assumes a level shift in the MEAN; Pettitt detects any
    stochastic dominance shift and is immune to outlier days).

    U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i) is computed WITHOUT the n²
    pair join via the midrank identity U_t = t(n+1) − 2·Σ_{i≤t} r_i
    (r_i = average rank): doubled midranks 2r_i = 2·rank_min + ties − 1
    stay exact BIGINTs, so K = max|U_t| and its argmax date are exact
    integer arithmetic end-to-end; only the approximate significance
    p ≈ 2·exp(−6K²/(n³+n²)) goes through double, rounded 6dp.
    """
    from pyspark.sql.window import Window

    daily = _daily_revenue_e4(lineitem)
    by_val = daily.join(
        daily.groupBy(F.col("x_e4").alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("ties")
        ),
        F.col("x_e4") == F.col("v"),
    ).select(
        "d",
        "x_e4",
        (
            F.lit(2) * F.rank().over(Window.orderBy("x_e4")).cast("long")
            + F.col("ties")
            - F.lit(1)
        ).alias("r2"),
    )
    wd = Window.orderBy("d")
    cum = by_val.select(
        "d",
        F.row_number().over(wd).cast("long").alias("t"),
        F.sum("r2").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias("cr2"),
    )
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    u = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "d",
            "n",
            F.col("t"),
            (F.col("t") * (F.col("n") + 1) - F.col("cr2")).alias("u_t"),
        )
        # U_n ≡ 0 by construction; the candidate changepoints are t < n
        .filter(F.col("t") < F.col("n"))
    )
    best = u.agg(F.max(F.abs(F.col("u_t"))).alias("k"))
    out = (
        u.join(F.broadcast(best), F.abs(F.col("u_t")) == F.col("k"))
        .orderBy("d")
        .limit(1)
    )
    kk = F.col("k").cast("double")
    nn = F.col("n").cast("double")
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("change_date"),
        F.col("k").cast("long").alias("k_stat"),
        round_det(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(F.lit(-6.0) * kk * kk / (nn * nn * nn + nn * nn)),
            ),
            6,
        ).alias("p_approx"),
    )


#: Bollinger window width (trailing days, inclusive) and band half-width
BOLLINGER_W = 7
BOLLINGER_K = 2


def bollinger_breaches(lineitem: DataFrame) -> DataFrame:
    """Bollinger-band breach calendar for the daily-revenue series:
    days where revenue leaves the trailing-7-day mean ± 2σ envelope,
    counted per month — the volatility-aware alerting rule (a fixed
    threshold pages on seasonality; a band scaled by local σ does not).

    The breach predicate is EXACT INTEGER arithmetic end-to-end — no
    floats anywhere: with S = Σ window x_e4 and S₂ = Σ window x_e4²
    (both decimal(38,0)-exact), x > m + kσ ⇔ 7x − S > 0 ∧
    (7x − S)² > k²·(7·S₂ − S²), the mean/σ comparison cleared of
    divisions and the sqrt squared away. Worst-case magnitude at
    100 TB (daily e4 totals ~5e14): 7·S₂ ≈ 1e31 and (7x−S)² ≈ 1e31,
    both far inside decimal(38,0) — the determinism does not decay
    with scale.
    """
    from pyspark.sql.window import Window

    w = (
        Window.orderBy("d").rowsBetween(-(BOLLINGER_W - 1), 0)
    )
    sq = F.expr("cast(x_e4 as decimal(19,0)) * cast(x_e4 as decimal(19,0))")
    base = _daily_revenue_e4(lineitem).select(
        "d",
        "x_e4",
        F.count(F.lit(1)).over(w).alias("wn"),
        F.sum("x_e4").over(w).alias("s"),
        F.sum(sq).over(w).alias("s2"),
    ).filter(F.col("wn") == BOLLINGER_W)
    d7 = F.expr(f"cast({BOLLINGER_W} as decimal(38,0)) * x_e4 - s")
    disc = F.expr(
        f"cast({BOLLINGER_K * BOLLINGER_K} as decimal(38,0))"
        f" * (cast({BOLLINGER_W} as decimal(38,0)) * s2 - s * s)"
    )
    flagged = base.select(
        F.date_format("d", "yyyy-MM").alias("ym"),
        d7.alias("d7"),
        disc.alias("disc"),
    ).select(
        "ym",
        ((F.col("d7") > 0) & (F.col("d7") * F.col("d7") > F.col("disc"))).alias(
            "up"
        ),
        ((F.col("d7") < 0) & (F.col("d7") * F.col("d7") > F.col("disc"))).alias(
            "dn"
        ),
    )
    return flagged.groupBy("ym").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("up").cast("long")).cast("long").alias("n_upper"),
        F.sum(F.col("dn").cast("long")).cast("long").alias("n_lower"),
    )


#: Ljung-Box lag depth (one week, matching the ACF screen)
LJUNG_BOX_LAGS = 7


def ljung_box(lineitem: DataFrame) -> DataFrame:
    """Ljung-Box portmanteau test on the daily-revenue series:
    Q = n(n+2)·Σ_{k=1..m} r_k²/(n−k) over the first m=7 sample
    autocorrelations — the standard "is there ANY autocorrelation left"
    diagnostic run on model residuals; here on the raw series it
    quantifies how far revenue is from white noise (it is very far:
    weekly seasonality shows up as a huge Q).

    Reuses the acf_daily_revenue sufficient-statistics shape: one daily
    exact-cent aggregate, one ordered window building the m positional
    lag columns, one global aggregate of dev·dev_k products. r_k stays
    unrounded through Q; only the final statistic is rounded (4dp),
    the ACF family's summation-headroom convention.
    """
    from pyspark.sql.window import Window

    daily = _daily_revenue_e4(lineitem)
    mean = daily.agg(
        (F.sum("x_e4").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "xbar_e4"
        )
    )
    w = Window.orderBy("d")
    lags = range(1, LJUNG_BOX_LAGS + 1)
    lagged = daily.crossJoin(F.broadcast(mean)).select(
        ((F.col("x_e4").cast("double") - F.col("xbar_e4")) / F.lit(1e4)).alias(
            "dev"
        ),
        *[
            (
                (F.lag("x_e4", k).over(w).cast("double") - F.col("xbar_e4"))
                / F.lit(1e4)
            ).alias(f"dev_{k}")
            for k in lags
        ],
    )
    one = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"dev_{k}")).alias(f"num_{k}")
            for k in lags
        ],
    )
    nn = F.col("n").cast("double")
    q = (
        nn
        * (nn + F.lit(2.0))
        * sum(
            (F.col(f"num_{k}") / F.col("den"))
            * (F.col(f"num_{k}") / F.col("den"))
            / (nn - F.lit(float(k)))
            for k in lags
        )
    )
    return one.select(
        F.col("n").alias("n_days"),
        F.lit(LJUNG_BOX_LAGS).cast("long").alias("m_lags"),
        round_det(q, 4).alias("q_stat"),
    )


def runs_test(lineitem: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue series: is the
    above/below-median sign sequence random, or does it cluster (trend /
    regime persistence)? Completes the nonparametric-diagnostics family
    (Mann-Kendall monotone trend, Pettitt changepoint, runs randomness).

    The threshold is the LOWER MEDIAN — the ⌈n/2⌉-th smallest daily
    e4 total, an exact order statistic via one calendar-bounded sort
    window, never an interpolated percentile (which is float-fragile
    across engines). Days exactly equal to the median are dropped (the
    classical treatment), runs are counted from sign flips in date
    order, and only the final z = (R − μ_R)/σ_R goes through double
    (identical IEEE ops on exact integer counts), rounded 4dp.
    """
    from pyspark.sql.window import Window

    daily = _daily_revenue_e4(lineitem)
    ranked = daily.select(
        "d",
        "x_e4",
        F.row_number().over(Window.orderBy("x_e4", "d")).cast("long").alias("pos"),
    )
    n_tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    med = (
        ranked.crossJoin(F.broadcast(n_tot))
        .filter(F.col("pos") == F.expr("(n_tot + 1) div 2"))
        .select(F.col("x_e4").alias("med"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x_e4") != F.col("med"))
        .select("d", (F.col("x_e4") > F.col("med")).alias("up"))
    )
    w = Window.orderBy("d")
    flips = signs.select(
        F.col("up").cast("long").alias("up"),
        F.when(
            F.lag("up").over(w).isNull() | (F.lag("up").over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.agg(
        F.sum("up").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("up")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    nn = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    sig2 = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    return agg.select(
        "n_above",
        "n_below",
        "n_runs",
        round_det((F.col("n_runs").cast("double") - mu) / F.sqrt(sig2), 4).alias(
            "z_stat"
        ),
    )


def grubbs_outlier(lineitem: DataFrame) -> DataFrame:
    """Grubbs' maximum-normed-residual test on the daily-revenue
    series: the single most anomalous day and its G = max|x−x̄|/s
    statistic (sample stddev) — the classical "is the worst day a real
    outlier" screen that complements the batch z-score/MAD/Tukey
    outlier family with a test-statistic formulation.

    Sufficient statistics (n, Σx, Σx², max|n·x−Σx|) are all exact
    decimal(38,0) on e4 units — n·Var·n(n−1) = n·Σx²·(n) − ... is
    cleared of divisions the same way as bollinger_breaches, so the
    ARGMAX day is an exact integer comparison; only G itself goes
    through double (identical IEEE ops on exact inputs), rounded 4dp.
    """
    daily = _daily_revenue_e4(lineitem)
    sq = F.expr("cast(x_e4 as decimal(19,0)) * cast(x_e4 as decimal(19,0))")
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_e4").alias("s"),
        F.sum(sq).alias("s2"),
    )
    dev = F.expr("abs(cast(n as decimal(38,0)) * x_e4 - s)")
    with_dev = daily.crossJoin(F.broadcast(stats)).select(
        "d", "n", "s", "s2", dev.alias("ndev")
    )
    best = with_dev.agg(F.max("ndev").alias("max_ndev"))
    top = (
        with_dev.join(F.broadcast(best), F.col("ndev") == F.col("max_ndev"))
        .orderBy("d")
        .limit(1)
    )
    nn = F.col("n").cast("double")
    # s² (sample) in e8 units × n²(n−1): n·S2 − S² all exact, then one
    # sqrt; G = (max|n·x−S|/n) / sqrt((n·S2−S²)/(n(n−1))) rearranged to
    # G = max|n·x−S| · sqrt((n−1)) / sqrt(n·(n·S2−S²))
    g = (
        F.col("ndev").cast("double")
        * F.sqrt(nn - F.lit(1.0))
        / F.sqrt(nn * (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast("double"))
    )
    return top.select(
        F.date_format("d", "yyyy-MM-dd").alias("outlier_date"),
        F.col("n").alias("n_days"),
        round_det(g, 4).alias("g_stat"),
    )


#: candidate periods (days) scanned by the revenue periodogram
PERIODOGRAM_PERIODS = tuple(range(2, 15))
#: day-index anchor for the periodogram phase (any fixed date works;
#: it must only be IDENTICAL in both engines)
PERIODOGRAM_ANCHOR = "1992-01-01"


def periodogram_tables(periods=PERIODOGRAM_PERIODS):
    """cos/sin lookup tables per candidate period, as Python float
    literals injected into BOTH engines. cos()/sin() are NOT guaranteed
    bit-identical between the JVM (StrictMath-adjacent) and libm — so
    neither engine ever calls them: for period p the phase angle only
    takes p distinct values 2πj/p (j = day_index mod p), and the j-th
    table entry is computed ONCE here with Python's libm and shipped to
    both engines as the same literal double.
    """
    import math

    return {
        p: (
            [math.cos(2.0 * math.pi * j / p) for j in range(p)],
            [math.sin(2.0 * math.pi * j / p) for j in range(p)],
        )
        for p in periods
    }


def periodogram_daily(lineitem: DataFrame) -> DataFrame:
    """Periodogram scan of the daily-revenue series at candidate
    periods 2..14 days: power_frac(p) = (C_p² + S_p²) / (n·Σdev²) with
    C_p = Σ dev_t·cos(2πt/p), S_p likewise — the spectral "which cycle
    length explains the series" reading that complements the lag-domain
    ACF (acf_daily_revenue flags THAT it's weekly; the periodogram ranks
    7 against every other candidate period).

    Scale shape: identical to the ACF family — one exact-cent daily
    aggregate over the fact table, then a single k-column aggregate over
    the CALENDAR-bounded series. The trig values come from
    :func:`periodogram_tables` literals (p distinct phases per period),
    so both engines multiply identical doubles; sums are plain doubles
    over the bounded day count with the ratio rounded 4dp (the repo's
    downstream-of-division convention).
    """
    tables = periodogram_tables()
    daily = _daily_revenue_e4(lineitem)
    mean = daily.agg(
        (F.sum("x_e4").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "xbar_e4"
        )
    )
    t = F.expr(
        f"datediff(cast(d as date), date'{PERIODOGRAM_ANCHOR}')"
    ).alias("t")
    dev = daily.crossJoin(F.broadcast(mean)).select(
        t,
        ((F.col("x_e4").cast("double") - F.col("xbar_e4")) / F.lit(1e4)).alias(
            "dev"
        ),
    )
    cols = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
    ]
    for p, (cos_t, sin_t) in tables.items():
        j = (F.col("t") % F.lit(p)).cast("int") + F.lit(1)
        carr = F.array(*[F.lit(v) for v in cos_t])
        sarr = F.array(*[F.lit(v) for v in sin_t])
        cols.append(
            F.sum(F.col("dev") * F.element_at(carr, j)).alias(f"c_{p}")
        )
        cols.append(
            F.sum(F.col("dev") * F.element_at(sarr, j)).alias(f"s_{p}")
        )
    one = dev.agg(*cols)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("period_days"),
                        round_det(
                            (
                                F.col(f"c_{p}") * F.col(f"c_{p}")
                                + F.col(f"s_{p}") * F.col(f"s_{p}")
                            )
                            / (F.col("n").cast("double") * F.col("den")),
                            6,
                        ).alias("power_frac"),
                    )
                    for p in tables
                ]
            )
        ).alias("r")
    ).select("r.*")


#: PACF depth (same weekly horizon as ACF_MAX_LAG)
PACF_MAX_LAG = 7


def pacf_exprs(max_lag: int = PACF_MAX_LAG) -> list[tuple[str, str]]:
    """Durbin-Levinson recursion as an ordered list of (column, SQL
    expression) steps over input columns r_1..r_max_lag — the SHARED
    plan both the Spark operator and the DuckDB oracle execute, so the
    two engines run the exact same IEEE op DAG (each step only
    references earlier names; only +,-,*,/ appear).

    phi_k_k is the lag-k partial autocorrelation:
      phi_1_1 = r_1
      phi_k_k = (r_k − Σ_j phi_{k-1}_j·r_{k−j}) / (1 − Σ_j phi_{k-1}_j·r_j)
      phi_k_j = phi_{k-1}_j − phi_k_k·phi_{k-1}_{k−j}
    with the Σ folds written left-to-right in j order.
    """
    steps: list[tuple[str, str]] = [("phi_1_1", "r_1")]
    for k in range(2, max_lag + 1):
        num = f"r_{k}"
        den = "1.0"
        for j in range(1, k):
            num = f"({num} - phi_{k-1}_{j} * r_{k-j})"
            den = f"({den} - phi_{k-1}_{j} * r_{j})"
        steps.append((f"phi_{k}_{k}", f"{num} / {den}"))
        for j in range(1, k):
            steps.append(
                (
                    f"phi_{k}_{j}",
                    f"(phi_{k-1}_{j} - phi_{k}_{k} * phi_{k-1}_{k-j})",
                )
            )
    return steps


def pacf_daily(lineitem: DataFrame, max_lag: int = PACF_MAX_LAG) -> DataFrame:
    """Partial autocorrelation of the daily-revenue series at lags
    1..7 via the Durbin-Levinson recursion — "is the weekly spike a
    direct lag-7 effect or just propagated lag-1 correlation", the
    question the raw ACF can't answer.

    The heavy stage is the same exact-cent daily aggregate as
    acf_daily_revenue; the r_k sufficient ratios reduce to ONE row, and
    the O(max_lag²) recursion runs as a fixed expression DAG on that
    row (:func:`pacf_exprs` — literally the same SQL text the oracle
    executes, so cross-engine bit-equality is by construction, not by
    care). Output: (lag, pacf 4dp), max_lag rows.
    """
    from pyspark.sql.window import Window

    daily = _daily_revenue_e4(lineitem)
    mean = daily.agg(
        (F.sum("x_e4").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "xbar_e4"
        )
    )
    w = Window.orderBy("d")
    lagged = daily.crossJoin(F.broadcast(mean)).select(
        ((F.col("x_e4").cast("double") - F.col("xbar_e4")) / F.lit(1e4)).alias(
            "dev"
        ),
        *[
            (
                (F.lag("x_e4", k).over(w).cast("double") - F.col("xbar_e4"))
                / F.lit(1e4)
            ).alias(f"dev_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    one = lagged.agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"dev_{k}")).alias(f"num_{k}")
            for k in range(1, max_lag + 1)
        ],
    ).select(
        *[
            (F.col(f"num_{k}") / F.col("den")).alias(f"r_{k}")
            for k in range(1, max_lag + 1)
        ]
    )
    for name, expr in pacf_exprs(max_lag):
        one = one.withColumn(name, F.expr(expr))
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        round_det(F.col(f"phi_{k}_{k}"), 4).alias("pacf"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("r")
    ).select("r.*")


#: cross-correlation window: order-count leads/lags revenue by up to a week
CCF_MAX_LAG = 7


def ccf_revenue_orders(
    lineitem: DataFrame, orders: DataFrame, max_lag: int = CCF_MAX_LAG
) -> DataFrame:
    """Cross-correlation between daily revenue (x, by ship date) and
    daily order count (y, by order date) at lags −7..+7:
    ccf(l) = Σ_t dx_t·dy_{t+l} / √(Σdx²·Σdy²) — "do order spikes LEAD
    revenue spikes, and by how many days" (they should, by the
    order→ship fulfillment delay; the argmax lag estimates it).

    Shape: two independent exact-integer daily aggregates (revenue e4
    decimals / order counts), means over each full series, then the
    y-side fans out ×(2L+1) via a lag explode on its CALENDAR-bounded
    daily table and equi-joins x on integer day index — one keyed join
    of two tiny series, no window, no cross join. Deviations are
    identical IEEE doubles on exact inputs; the final ratio is rounded
    4dp. Alignment convention: products are summed over the INNER
    overlap of the two date ranges at each lag, normalized by the
    full-series variance product (the textbook sample-CCF denominator).
    """
    xd = (
        lineitem.select(
            F.expr(
                f"datediff(cast(l_shipdate as date), date'{PERIODOGRAM_ANCHOR}')"
            ).alias("t"),
            F.expr(f"cast({REVENUE_E4} as decimal(38,0)) as rev_e4"),
        )
        .groupBy("t")
        .agg(F.sum("rev_e4").alias("x_e4"))
    )
    yd = (
        orders.select(
            F.expr(
                f"datediff(cast(o_orderdate as date), date'{PERIODOGRAM_ANCHOR}')"
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    xstat = xd.agg(
        (F.sum("x_e4").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "xbar_e4"
        )
    )
    ystat = yd.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias("ybar")
    )
    dx = xd.crossJoin(F.broadcast(xstat)).select(
        "t",
        ((F.col("x_e4").cast("double") - F.col("xbar_e4")) / F.lit(1e4)).alias("dx"),
    )
    dy = yd.crossJoin(F.broadcast(ystat)).select(
        "t", (F.col("y").cast("double") - F.col("ybar")).alias("dy")
    )
    den = dx.agg(F.sum(F.col("dx") * F.col("dx")).alias("sxx")).crossJoin(
        dy.agg(F.sum(F.col("dy") * F.col("dy")).alias("syy"))
    )
    lags = list(range(-max_lag, max_lag + 1))
    fan = dy.select(
        F.explode(F.array(*[F.lit(l) for l in lags])).alias("lag"), "t", "dy"
    ).select("lag", (F.col("t") - F.col("lag")).alias("t_join"), "dy")
    prods = dx.join(fan, F.col("t") == F.col("t_join")).groupBy("lag").agg(
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
    )
    return (
        prods.crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_overlap",
            round_det(
                F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 4
            ).alias("ccf"),
        )
    )
