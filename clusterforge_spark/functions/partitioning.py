"""Partitioning helpers.

``spread_partitions`` exists because the local testdata arrives as
single-row-group parquet files (scan parallelism 1): CPU-heavy per-row
stages (interpreted md5 hashing, shingling, pandas decode) must
repartition *before* computing or they serialize onto one core. At real
scale the sources are already split, and the repartition is a cheap
small-row shuffle either way.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, functions as F


def spread_partitions(
    df: DataFrame, col: str | None = None, bytes_per_task: int | None = None
) -> DataFrame:
    """Repartition to the session's full core count (by ``col`` if given).

    With ``bytes_per_task`` the partition count is instead derived from
    the SOURCE bytes of the scan, clamped to [1, defaultParallelism] —
    the sizing for Python-boundary stages (``mapInPandas``/
    ``mapInArrow``): each partition costs a Python-worker dispatch and
    an Arrow stream setup, so fanning a few hundred KB across 32 workers
    pays 32 fixed costs to move crumbs (r12 verdict item 4:
    q_multimodal_decode ran 2× FASTER on 8 cores than 32). Deriving the
    count from bytes keeps small inputs on few, full batches — and the
    SAME plan at any core count — while large inputs (bytes ≫
    cores·bytes_per_task) still spread to every core. Falls back to the
    full spread when the input isn't a simple file scan."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task is not None:
        src = source_bytes(df)
        if src is not None:
            n = max(1, min(n, (src + bytes_per_task - 1) // bytes_per_task))
    return df.repartition(n, col) if col else df.repartition(n)


def source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of ``df``'s file scan, or None when the input
    isn't a simple file scan (cached relation, in-memory DataFrame, …).

    Used for size-dependent plan decisions (materialize vs re-scan):
    file-footer metadata is free to read and is the same signal Spark's
    own statistics estimation starts from.
    """
    files = df.inputFiles()
    try:
        total = sum(os.path.getsize(urlparse(p).path or p) for p in files)
    except OSError:  # not on the local file system (s3a://, hdfs://, …)
        return None
    return total if files else None


def suggest_agg_partitions(
    df: DataFrame,
    bytes_per_partition: int = 16 << 20,
    floor: int = 4,
) -> int | None:
    """Size a pre-aggregation repartition by SOURCE bytes, clamped to
    [floor, spark.sql.shuffle.partitions].

    The static shuffle conf is always wrong for somebody: a conf sized
    for the big tables makes a megabyte-scale aggregate pay per-task
    scheduling + per-task Arrow collect overhead for near-empty
    partitions (measured: the RFM probe at sf0.1 runs 283 ms with 4
    reduce tasks vs 462 ms with the session's 8). AQE solves this for
    plans it re-optimizes, but explicit ``repartition(col)`` counts are
    fixed at plan time — so derive the count from the scan's file sizes.
    Returns None (caller keeps the conf default) when the input isn't a
    simple file scan — including when the scan has been CACHED
    (CacheManager substitution empties ``inputFiles()``), where the
    exchange is over the in-memory relation and the conf is the right
    size anyway.
    """
    total = source_bytes(df)
    if total is None:
        return None
    conf = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    want = (total + bytes_per_partition - 1) // bytes_per_partition
    return int(max(min(floor, conf), min(conf, want)))


def prefix_sum_before(
    hist: DataFrame,
    order_col: str,
    cnt_cols: tuple[str, ...] | list[str],
    bucket_shift: int = 16,
    prescale: float | None = None,
    part_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exclusive prefix sum(s) over an ordered histogram, distributed.

    ``hist`` must have one row per DISTINCT ``order_col`` value (a
    grouped value histogram). Adds, for every ``c`` in ``cnt_cols``, a
    ``cum_{c}`` column = Σ of ``c`` over all rows with a strictly
    smaller ``order_col`` — the building block of the whole rank/ECDF
    family (average tie ranks, Mann-Whitney, Gini, Kolmogorov-Smirnov).
    With ``part_cols`` (r8) the prefix restarts per partition-key group
    — one row per DISTINCT (part_cols…, order_col) — and every level
    below is keyed by the group too, so even ONE pathologically
    dominant group never serializes beyond a single bucket's bounded
    sort (the token_budget_mix per-source fill).

    The naive form — ``sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING
    TO -1)`` with no PARTITION BY — plans as an exchange into ONE
    partition and a single-task sort: fine for a 50-value quantity
    histogram, a scale-killer when the histogram is data-proportional
    (583k distinct price cents at sf0.1; millions at real SF). Instead,
    a two-level cumulative:

    1. bucket ``_b = v >> bucket_shift`` — arithmetic shift, so the
       mapping is order-preserving for negatives too, and bucketing
       needs NO data pass or sampled boundaries;
    2. within-bucket exclusive prefix via a window PARTITIONED by
       bucket (parallel hash shuffle, each bucket sorts independently);
    3. bucket totals (one tiny agg, rows = #buckets ≈ domain/2^shift)
       get the same exclusive prefix via a global window over that
       small table, and broadcast-join back as per-bucket offsets.

    cum = bucket_offset + within_bucket, exact integer arithmetic —
    bit-identical to the single-partition form, with the unbounded sort
    replaced by #bucket-parallel bounded sorts. Every level's row count
    is either data-proportional-but-parallel or tiny-and-global; no
    stage is both.
    """
    from pyspark.sql.window import Window

    cnt_cols = list(cnt_cols)
    # bucket id: arithmetic shift of the value clamped into int64 — the
    # clamp keeps the ANSI cast abort-free for wide decimal order keys
    # (gini's per-user cent sums are decimal(38,0)); everything beyond
    # the int64 range collapses into the extreme buckets, which is still
    # an order-preserving range coarsening, the only property needed.
    # ``prescale`` (a positive multiplier, applied before the clamp)
    # widens SMALL-RANGE keys so the shift still yields many buckets:
    # a double in [0, 600) lands entirely in bucket 0 at shift 16, but
    # prescale 2**16 makes the bucket id floor(value) — the multiply is
    # monotone non-decreasing, the only property bucketing needs.
    v = F.col(order_col)
    if prescale is not None:
        v = v.cast("double") * F.lit(float(prescale))
    lo, hi = F.lit(-(2**63)).cast("decimal(38,0)"), F.lit(2**63 - 1).cast(
        "decimal(38,0)"
    )
    clamped = F.when(v >= hi, F.lit(2**63 - 1)).when(v <= lo, F.lit(-(2**63))).otherwise(
        v.cast("long")
    )
    part = list(part_cols)
    b = hist.withColumn("_b", F.shiftright(clamped, bucket_shift))
    w_in = (
        Window.partitionBy(*part, "_b")
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for c in cnt_cols:
        b = b.withColumn(f"_in_{c}", F.coalesce(F.sum(c).over(w_in), F.lit(0)))
    totals = b.groupBy(*part, "_b").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in cnt_cols]
    )
    # the bucket-offset window is global only in the partition-less
    # case; with part_cols it is keyed by the group (rows = #buckets per
    # group — tiny and parallel across groups either way)
    w_b = (
        (Window.partitionBy(*part) if part else Window)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *[F.col(p).alias(f"_p2_{p}") for p in part],
        F.col("_b").alias("_b2"),
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_b), F.lit(0)).alias(f"_off_{c}")
            for c in cnt_cols
        ],
    )
    # null-safe: a NULL order key lands in a NULL bucket (sorted FIRST,
    # the window NULLS FIRST convention) and must still receive its
    # offset — a plain equi-join would silently drop those rows (same
    # for NULL partition keys)
    cond = F.col("_b").eqNullSafe(F.col("_b2"))
    for p in part:
        cond = cond & F.col(p).eqNullSafe(F.col(f"_p2_{p}"))
    out = b.join(F.broadcast(offsets), cond)
    for c in cnt_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_off_{c}") + F.col(f"_in_{c}"))
    return out.drop(
        "_b",
        "_b2",
        *[f"_p2_{p}" for p in part],
        *[f"_in_{c}" for c in cnt_cols],
        *[f"_off_{c}" for c in cnt_cols],
    )


def total_order_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    descending: bool = False,
    prescale: float | None = 65536.0,
    bucket_shift: int = 16,
    rank_name: str = "_rank",
) -> DataFrame:
    """Exact 1-based global rank under the TOTAL order (value_col
    [asc|desc], tiebreak_col asc) — the scale path around
    ``row_number()/ntile() OVER (ORDER BY ...)``, whose partition-less
    window moves EVERY row through one task (Spark's own WindowExec
    warning). Distributed decomposition:

      rank(row) = #rows with strictly smaller value   (histogram prefix
                  sum via :func:`prefix_sum_before` — two-level, never
                  a data-proportional single partition)
                + row_number within the row's tie group (window
                  PARTITIONED by value — parallel across values)

    Bit-identical to the single-partition form, NULL keys included:
    a NULL value forms its own tie group ranked FIRST (prefix_sum_before
    sorts the NULL bucket first and the offset join below is null-safe)
    — the same NULLS FIRST placement ``ORDER BY v ASC`` gives a window.
    Caveats: ``descending`` is implemented by negating the key, so with
    NULLs present it ranks them FIRST where a desc window puts them
    last — callers wanting desc must have non-null keys; tiebreak must
    be unique within a tie group for a deterministic total order. Skew
    note: one hot value serializes its own tie group only, never the
    whole table.
    """
    from pyspark.sql.window import Window

    ordv = F.col(value_col)
    if descending:
        ordv = -ordv
    base = df.withColumn("_ov", ordv)
    hist = base.groupBy("_ov").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    pre = prefix_sum_before(
        hist, "_ov", ("_c",), bucket_shift=bucket_shift, prescale=prescale
    ).select(F.col("_ov").alias("_ov2"), "cum__c")
    w_tie = Window.partitionBy("_ov").orderBy(F.col(tiebreak_col).asc())
    return (
        base.withColumn("_tr", F.row_number().over(w_tie).cast("long"))
        # null-safe equality: a NULL key group must still pick up its
        # prefix offset (a plain equi-join would silently DROP the rows
        # the window form buckets NULLS FIRST)
        .join(pre, F.col("_ov").eqNullSafe(F.col("_ov2")))
        .withColumn(rank_name, F.col("cum__c") + F.col("_tr"))
        .drop("_ov", "_ov2", "_tr", "cum__c")
    )


def ntile_from_rank(rank, n, k: int):
    """Exact ``ntile(k)`` bucket id from a 1-based total-order rank and
    the total row count (both Column expressions, LONG, positive) —
    pure integer arithmetic, no window.

    ntile semantics: with n rows, b = n div k and r = n mod k, the
    first r buckets hold b+1 rows, the rest hold b. Floor-division is
    computed as (a − a mod m) / m: the numerator is an exact multiple
    of m, so the IEEE division is exact for a < 2⁵³ (9e15 rows — far
    beyond any real rank), making the bucket id bit-stable.
    """

    def fdiv(a, m):
        return ((a - a % m) / m).cast("long")

    kL = F.lit(k).cast("long")
    b = fdiv(n, kL)
    r = n % kL
    cut = r * (b + F.lit(1))
    return F.when(
        rank <= cut, fdiv(rank - F.lit(1), b + F.lit(1)) + F.lit(1)
    ).otherwise(
        r + fdiv(rank - cut - F.lit(1), F.greatest(b, F.lit(1).cast("long"))) + F.lit(1)
    )


#: buckets per refinement level of the exact-selection histogram — 2¹⁶
#: buckets make one level sufficient up to ~2³² values in a range
#: (expected population n/65536 per bucket) while the per-level agg
#: collect stays ≤65536 rows (~2 MB) of driver data
SELECT_BUCKETS = 65536
#: a candidate range whose population is at most this is finished with
#: one sort+limit extraction (per-partition top-k with a bounded driver
#: merge — Spark's TakeOrderedAndProject, never a global sort)
SELECT_EXTRACT_CAP = 65536


def _bucket_order_stats(vals, ks_of_n, probe: dict | None = None):
    """Exact order statistics (0-based global positions ``ks``) of the
    cached single-column frame ``vals`` (double column ``_v``, nulls
    already dropped) WITHOUT shuffling the data (r12 optimization
    round, guide §2.4 — remove shuffles outright).

    Histogram refinement: each level runs ONE aggregate pass over the
    current candidate range, bucketing values into ``SELECT_BUCKETS``
    uniform sub-ranges and collecting (count, min, max) per bucket.
    The bucket id ``clamp(floor((v−lo)/width))`` is monotone
    non-decreasing in ``v`` even under float rounding, so buckets are
    contiguous value ranges and ``[bucket_min, bucket_max]`` is an
    EXACT membership filter for the next level (values from different
    buckets are strictly ordered — equal values always share a
    bucket). A target bucket resolves immediately when its min equals
    its max (every remaining value is the answer) or when its
    population is ≤ ``SELECT_EXTRACT_CAP`` (sort+limit extraction);
    otherwise it recurses with lo/hi set to the bucket's TRUE min/max,
    which guarantees the next level splits it (min and max land in
    different buckets), i.e. strict progress.

    Versus the previous repartitionByRange shape this removes the
    full-column shuffle AND the range-sampling pass: the column is only
    aggregated and filter-scanned, and the common case (any real-world
    value spread) finishes in one counting pass plus one bounded
    extraction. The extracted element is the true k-th smallest VALUE,
    bit-identical to what a global sort would yield.

    ``ks_of_n`` maps the (now known) row count to the sorted 0-based
    positions wanted. Returns ``(n, stats)`` where ``stats`` is the
    position→value dict, ``{}`` when the input is empty or no position
    was requested, or None — callers fall back to the range-partition
    path — when min/max are not finite (±inf/NaN break uniform bucket
    arithmetic) or refinement fails to converge.
    """
    import math

    # ``probe`` (plan-capture only, r12 verdict item 6): when a dict is
    # passed, the first instance of each DISTRIBUTED frame this selection
    # executes is recorded under a stable key so scripts/explain_plans.py
    # can dump the real physical plans of driver-assembled queries —
    # the frames recorded are the very objects collected below, not
    # reconstructions. No behavioral change when None.
    bounds = vals.agg(
        F.count("_v").alias("n"), F.min("_v").alias("mn"), F.max("_v").alias("mx")
    )
    if probe is not None:
        probe.setdefault("selection_bounds_agg", bounds)
    row = bounds.first()
    n = row["n"]
    if n == 0:
        return 0, {}
    ks = sorted(set(ks_of_n(n)))
    if not ks:
        return n, {}
    mn, mx = float(row["mn"]), float(row["mx"])
    if not (math.isfinite(mn) and math.isfinite(mx)):
        return n, None
    out: dict[int, float] = {}
    # work items: (lo, hi, offset, count, targets) — targets are the
    # 0-based global positions known to fall in [lo, hi], offset the
    # number of values strictly before the range
    pending = [(mn, mx, 0, n, ks)]
    for _depth in range(128):
        if not pending:
            break
        nxt = []
        for lo, hi, off, cnt, targets in pending:
            if lo == hi:
                for k in targets:
                    out[k] = lo
                continue
            rng = F.col("_v").between(F.lit(lo), F.lit(hi))
            if cnt <= SELECT_EXTRACT_CAP:
                take = max(targets) - off + 1
                extract = vals.filter(rng).orderBy("_v").limit(take)
                if probe is not None:
                    probe.setdefault("selection_extract", extract)
                rows = extract.collect()
                for k in targets:
                    out[k] = rows[k - off]["_v"]
                continue
            width = (hi - lo) / SELECT_BUCKETS
            bid = F.least(
                F.lit(SELECT_BUCKETS - 1),
                F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)).cast("long"),
            )
            hist = (
                vals.filter(rng)
                .groupBy(bid.alias("_b"))
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.min("_v").alias("bmn"),
                    F.max("_v").alias("bmx"),
                )
            )
            if probe is not None:
                probe.setdefault("selection_histogram", hist)
            stats = hist.collect()
            acc = off
            ti = 0
            for r in sorted(stats, key=lambda r: r["_b"]):
                grp = []
                while ti < len(targets) and targets[ti] < acc + r["c"]:
                    grp.append(targets[ti])
                    ti += 1
                if grp:
                    nxt.append(
                        (float(r["bmn"]), float(r["bmx"]), acc, r["c"], grp)
                    )
                acc += r["c"]
                if ti == len(targets):
                    break
        pending = nxt
    if pending or any(k not in out for k in ks):
        return n, None
    return n, out


def exact_kth_smallest(df: DataFrame, col: str, k: int) -> float | None:
    """Exact k-th smallest value (1-based) of a numeric column — the
    ORDER-STATISTIC sibling of :func:`exact_quantile` (which
    interpolates; conformal prediction and other rank-defined cutoffs
    need the raw order statistic). Served by the shuffle-free
    histogram-refinement selection (:func:`_bucket_order_stats`); falls
    back to the range-repartition shape on non-finite bounds. Returns
    None on empty input or k out of range.
    """
    vals = (
        df.select(F.col(col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .cache()
    )
    try:
        n, out = _bucket_order_stats(vals, lambda m: [k - 1] if 1 <= k <= m else [])
        if n == 0 or not (1 <= k <= n):
            return None
        if out is not None:
            return out[k - 1]
        return _shuffle_order_stats(vals, [k - 1])[k - 1]
    finally:
        vals.unpersist()


def exact_kth_smallest_by(
    df: DataFrame, col: str, k_of_n, probe: dict | None = None
) -> tuple[int, float | None]:
    """Exact k-th smallest where k DEPENDS on the (a-priori unknown)
    not-null row count — rank-defined cutoffs like the conformal
    ⌈(n+1)(1−α)⌉ quantile. Returns ``(n, value)``.

    One fused scan (r12 optimization round): the count that sizes k
    comes from the selection's own counting aggregate inside
    :func:`_bucket_order_stats`, replacing the caller's separate
    ``.count()`` job + second cache over the same column. ``k_of_n``
    maps the count to a 1-based rank (or None); value is None on empty
    input or k out of range.
    """
    vals = (
        df.select(F.col(col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .cache()
    )
    try:

        def ks_of(n: int) -> list[int]:
            k = k_of_n(n)
            return [k - 1] if (k is not None and 1 <= k <= n) else []

        if probe is not None:
            probe.setdefault("selection_input", vals)
        n, out = _bucket_order_stats(vals, ks_of, probe=probe)
        if n == 0:
            return 0, None
        k = k_of_n(n)
        if k is None or not (1 <= k <= n):
            return n, None
        if out is None:
            out = _shuffle_order_stats(vals, [k - 1])
        return n, out[k - 1]
    finally:
        vals.unpersist()


def exact_quantile(
    df: DataFrame, col: str, p: float = 0.5, probe: dict | None = None
) -> float | None:
    """Distributed EXACT linear-interpolation quantile of a numeric
    column — the scale path around Spark's ``percentile`` aggregate,
    which buffers every value into one reducer's hash map (measured
    9.3 s on 3.1M doubles where this helper takes ~1 s, and an OOM
    magnet at real scale).

    Selection is the shuffle-free histogram refinement of
    :func:`_bucket_order_stats` (one counting aggregate + one bounded
    sort+limit extraction in the common case; the r12 optimization
    round replaced the previous repartitionByRange shape, which
    shuffled the whole column AND paid a range-sampling pass — the
    same two order statistics now cost ~half the wall time and zero
    shuffled bytes). Interpolation is v₁ + (v₂−v₁)·frac with
    frac = (n−1)p − ⌊(n−1)p⌋ — the percentile/quantile_cont convention
    both engines share, exact for the p = 0.5 / quartile grid.

    Returns a driver scalar (bounded: ONE value), None on empty input.

    Caller contract: under ANSI mode the ``col`` expression must be
    TOTAL (no throwing division/cast) — the null filter here is pushed
    by Catalyst into upstream join conditions, where a partial
    expression would evaluate on rows its own guards were about to drop
    (use ``try_divide``/``try_cast`` in the input expression).
    """
    import math

    def ks_of(n: int) -> list[int]:
        idx = (n - 1) * p
        k1 = int(math.floor(idx))
        return [k1, min(k1 + 1, n - 1)]

    vals = (
        df.select(F.col(col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .cache()
    )
    if probe is not None:
        probe.setdefault("selection_input", vals)
    try:
        n, out = _bucket_order_stats(vals, ks_of, probe=probe)
        if n == 0:
            return None
        if out is None:
            out = _shuffle_order_stats(vals, ks_of(n))
        idx = (n - 1) * p
        k1 = int(math.floor(idx))
        k2 = min(k1 + 1, n - 1)
        frac = idx - k1
        v1, v2 = out[k1], out[k2]
        return v1 + (v2 - v1) * frac
    finally:
        vals.unpersist()


def _shuffle_order_stats(vals: DataFrame, ks: list[int]) -> dict[int, float]:
    """Fallback selection for non-finite value domains: one range
    repartition gives globally ordered partitions (ascending partition
    index = ascending value range); per-partition counts (a P-row
    collect) locate the order statistics; a partition-LOCAL row_number
    window (parallel, never a single-task global sort) extracts them.
    ``vals`` must be the cached not-null double column ``_v``.
    """
    from pyspark.sql.window import Window

    spark = vals.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    withpid = (
        vals.repartitionByRange(n_part, "_v")
        .select("_v", F.spark_partition_id().alias("_pid"))
        .cache()
    )
    try:
        cnts = {
            r["_pid"]: r["c"]
            for r in withpid.groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        locs: dict[int, list[tuple[int, int]]] = {}
        acc = 0
        for pid in sorted(cnts):
            c = cnts[pid]
            for k in set(ks):
                if acc <= k < acc + c:
                    locs.setdefault(pid, []).append((k, k - acc))
            acc += c
        out: dict[int, float] = {}
        w = Window.partitionBy("_pid").orderBy("_v")
        for pid, pairs in locs.items():
            wanted = [loc for _, loc in pairs]
            rows = (
                withpid.filter(F.col("_pid") == pid)
                .select("_v", (F.row_number().over(w) - 1).alias("_r"))
                .filter(F.col("_r").isin(wanted))
                .collect()
            )
            by_r = {r["_r"]: r["_v"] for r in rows}
            for k, loc in pairs:
                out[k] = by_r[loc]
        return out
    finally:
        withpid.unpersist()
