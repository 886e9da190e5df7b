"""Structured Streaming: event-time windowed aggregation with watermark.

The streaming analog of operators/relational.window_sessionize — same
1-hour tumbling semantics, expressed over ``readStream`` so the identical
logical plan runs incrementally with state cleanup driven by the
watermark. The reference is batch-only (whole file in memory,
README.md:320); this is the designed-for-scale upgrade (SURVEY.md §7
phase E): at 100 TB/day the same code runs against Kafka by swapping the
source.

Every finite stream runs to completion through one harness: the
``availableNow`` foreachBatch parquet capture,
:func:`run_stream_replay_to_parquet` (or, for the stateful sinks below,
its own foreachBatch body through the same :func:`_start_and_await`).
The q_stream_*_replay contract queries and the batch/stream parity tests
(tests/test_streaming.py) read the same capture.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as PW

from clusterforge_spark.functions.rounding import cents
from clusterforge_spark.sources.readers import (
    TABLE_SCHEMAS,
    _events_schema,
    events_ts_is_nanos,
)


def _await_or_raise(query, timeout_s: int) -> None:
    """awaitTermination returns False on timeout — a silent partial
    capture would make parity tests fail confusingly (or pass against
    wrong data in complete mode). Stop the query and raise."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name!r} did not finish within {timeout_s}s"
        )


def _scratch_root() -> str:
    """Root for TRANSIENT per-run streaming scratch (replay checkpoints
    and capture dirs). Order: ``$SPARK_GRAFT_STREAM_TMP`` if set, else
    a RAM-backed ``/dev/shm`` when writable, else the system temp dir.

    The replays are finite availableNow re-computations whose durable
    product is the RETURNED DataFrame (or the capture parquet the same
    call re-reads); their checkpoint offsets/state have no value after
    the run, so fsync-ing them through a disk-backed /tmp was pure
    overhead (measured: commitOffsets+walCommit ~0.35 s per replay,
    state-store delta writes inside addBatch on top — r12 optimization
    round). A production deployment points SPARK_GRAFT_STREAM_TMP (or
    passes explicit out_path/checkpoint locations) at durable storage;
    this default only governs the local transient-replay regime."""
    env = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "clusterforge_rt")
    import tempfile

    return os.path.join(tempfile.gettempdir(), "clusterforge_rt")


def _start_and_await(writer, timeout_s: int = 180):
    """Start a fully-configured ``DataStreamWriter`` with a FRESH
    scratch checkpoint dir, run it to completion, delete the
    checkpoint, and return the (terminated) query. Every finite stream
    in the package starts here; a query that fails or times out raises,
    and the session conf and checkpoint are restored/removed on both
    paths (tests/test_streaming.py pins all three).

    Every replay gets its own never-reused checkpoint: resuming an
    availableNow replay from a previous run's checkpoint would skip the
    already-consumed source and silently return an empty/partial
    result — the fresh-dir-per-start discipline is what the previous
    implicit temp-checkpoint behavior guaranteed, now kept while the
    checkpoint I/O (offset/commit WAL fsyncs, state-store deltas) lands
    on the RAM-backed scratch root instead of disk-backed /tmp.

    State-store partition count: a streaming query snapshots
    ``spark.sql.shuffle.partitions`` at start and pays a per-partition
    state-store open/commit per micro-batch, so the BATCH session's
    shuffle sizing (which now scales with the core count — r12 verdict
    item 1) is the wrong knob here: 32 state partitions measured 3-6×
    slower than 8 on these finite replays (r12 §5 A/B — per-partition
    commit overhead dominates at replay state sizes). The replays
    therefore pin ``SPARK_GRAFT_STREAM_SHUFFLE`` (default 8) around
    ``start()`` and restore the session conf after; a production
    deployment sizes it to state volume / aggregate key cardinality,
    not cores."""
    import shutil
    import uuid

    df = getattr(writer, "_df", None)
    spark = df.sparkSession if df is not None else None
    stream_parts = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")
    saved = None
    ck = os.path.join(_scratch_root(), "ckpt", uuid.uuid4().hex)
    try:
        if spark is not None:
            saved = spark.conf.get("spark.sql.shuffle.partitions", None)
            spark.conf.set("spark.sql.shuffle.partitions", stream_parts)
        query = writer.option("checkpointLocation", ck).start()
        _await_or_raise(query, timeout_s)
        return query
    finally:
        if spark is not None and saved is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
        shutil.rmtree(ck, ignore_errors=True)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (schema pinned; the ts
    physical encoding sniffed exactly as the batch reader does)."""
    # the file source requires a directory; glob-filter to the events file
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    if events_ts_is_nanos(path):
        from pyspark.sql import types as _T

        raw = (
            spark.readStream.schema(_events_schema(_T.LongType()))
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )


def hourly_user_counts(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour per-user aggregate with late-data watermark.

    State per (user, hour) is dropped once the watermark passes the
    window end — bounded memory under unbounded input.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("user_id"))
        .agg(
            F.count("*").alias("events_in_hour"),
            (F.sum(cents("value")) / 100.0).alias("value_in_hour"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("hour_start_us"),
            "events_in_hour",
            "value_in_hour",
        )
    )


# ---------------------------------------------------------------------------
# stateful gap sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, session_value double"
)
SESSION_STATE_SCHEMA = "start_us long, end_us long, n_events long, value double"
_SESSION_OUT_COLS = [
    "user_id", "session_start_us", "session_end_us", "n_events", "session_value"
]


def sessionize_gap_stream(
    events_stream: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator: per-user inactivity-gap sessions.

    The batch formulation (operators/relational.sessionize_gap) is a
    window function; incrementally it needs explicit state — one open
    session per user, closed and emitted when a new event arrives more
    than ``gap_minutes`` after the session's end. State is one tiny
    tuple per user regardless of stream length. The open session at
    end-of-stream stays in state (a finite replay therefore emits all
    but each user's final session — tests account for this).

    Ordering contract: WITHIN one trigger all of a key's Arrow chunks are
    concatenated and sorted by event time before folding (a per-chunk
    sort would fold chunks out of global order once a user spans multiple
    ~10k-row batches). ACROSS triggers, correct boundaries still require
    event-time-ordered arrival (or an upstream watermark-based buffer):
    like flatMapGroupsWithState itself, the fold cannot reorder what
    earlier triggers already consumed.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def close_sessions(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        start_us, end_us, n_events, value = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        closed = []
        chunks = list(pdf_iter)
        if chunks:
            pdf = (pd.concat(chunks) if len(chunks) > 1 else chunks[0]).sort_values(
                "ts_us"
            )
            for ts_us, v in zip(pdf["ts_us"], pdf["value"]):
                ts_us = int(ts_us)
                if start_us is None:
                    start_us, end_us, n_events, value = ts_us, ts_us, 1, float(v)
                elif ts_us - end_us > gap_us:
                    closed.append(
                        (user_id, start_us, end_us, n_events, round(value, 2))
                    )
                    start_us, end_us, n_events, value = ts_us, ts_us, 1, float(v)
                else:
                    end_us = ts_us
                    n_events += 1
                    value += float(v)
        state.update((start_us, end_us, n_events, value))
        if closed:
            yield pd.DataFrame(closed, columns=_SESSION_OUT_COLS)

    prepared = events_stream.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        close_sessions,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming deduplication (watermarked state)
# ---------------------------------------------------------------------------

def dedup_events_stream(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on the event key.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded memory under unbounded, at-least-once
    input (the streaming face of operators/dedup.dedup_exact). Plain
    ``dropDuplicates(["event_id"])`` would NOT get watermark eviction
    (Spark only evicts dedup state when the event-time column is part of
    the key set), so its state grows with every key ever seen — the
    exact OOM this operator exists to prevent. Keys re-arriving later
    than the watermark are treated as new — the standard
    correctness/state trade.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "value")
    )


# ---------------------------------------------------------------------------
# stream-stream interval join (watermarked on both sides)
# ---------------------------------------------------------------------------

def click_purchase_join_stream(
    events_stream_a: DataFrame,
    events_stream_b: DataFrame,
    max_gap_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every click within ``max_gap_minutes``
    BEFORE a purchase by the same user (the streaming face of the batch
    as-of/attribution surface — emitting ALL candidate clicks; picking
    the single latest one is the batch operator's job, as streams cannot
    retract an earlier emitted "latest").

    Both sides carry a watermark and the join condition bounds click_ts
    to a closed interval around purchase_ts — together these let Spark
    expire buffered state on BOTH sides (an unbounded stream-stream join
    would otherwise hold every row forever). State per side ≈ rows
    younger than watermark + gap: bounded regardless of stream length.
    """
    clicks = (
        events_stream_a.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream_b.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            p_user = c_user AND
            click_ts BETWEEN purchase_ts - INTERVAL {max_gap_minutes} MINUTES
                         AND purchase_ts
            """
        ),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
        "click_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


# ---------------------------------------------------------------------------
# native session-window aggregation (streaming form of
# operators/relational.session_window_agg)
# ---------------------------------------------------------------------------

def session_window_counts_stream(
    events_stream: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Gap sessions via the BUILT-IN session window under a watermark —
    the declarative alternative to the custom stateful sessionizer:
    Spark merges/extends session state per key and closes a session once
    the watermark passes its end (last event + gap). Identical output
    shape to the batch operator, so parity is a set-compare."""
    gap_us = gap_minutes * 60_000_000
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"),
            F.col("user_id"),
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


# ---------------------------------------------------------------------------
# foreachBatch sink: stream → partitioned parquet with exactly-once-per-batch
# ---------------------------------------------------------------------------

def run_stream_to_partitioned_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    timeout_s: int = 180,
) -> None:
    """Land the hourly session aggregate as event-date-partitioned
    parquet via ``foreachBatch`` — the production sink pattern when the
    target needs batch-writer features (dynamic partition overwrite,
    bucketing, merges) that the streaming file sink lacks. Each
    micro-batch runs an idempotent dynamic-partition overwrite keyed by
    batch content, giving effectively-once output under retries."""
    stream = hourly_user_counts(read_events_stream(spark, sf_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "hour_bucket",
                (F.col("hour_start_us") / F.lit(3_600_000_000)).cast("long"),
            )
            .write.mode("overwrite")
            .partitionBy("hour_bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )

    _start_and_await(
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True),
        timeout_s,
    )


# ---------------------------------------------------------------------------
# streaming top-k (windowed rank via foreachBatch)
# ---------------------------------------------------------------------------

def hourly_event_type_counts(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour (window, event_type) counts — the stateful half
    of streaming top-k. State is one row per (hour, type): tiny."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("win.start")).alias("hour_start_us"),
            "event_type",
            "n_events",
        )
    )


def run_stream_topk_replay(
    spark: SparkSession, sf_dir: str, k: int = 3, out_path: str | None = None
) -> DataFrame:
    """Streaming top-k: per hour, the k most frequent event types,
    replayed to its parquet sink. Oracle: windowed count + row_number in
    SQL (oracle_sql.q_stream_topk_replay).

    Ranking is not an incremental streaming operator (a late row can
    demote a current top-k member), so the scalable shape is: keep the
    windowed COUNT as streaming state (bounded, incremental), and rank
    inside ``foreachBatch`` where the micro-batch is a plain DataFrame —
    the rank runs only over the (already tiny) aggregate, never the raw
    stream. Complete mode + idempotent overwrite makes the sink converge
    to the exact batch answer on replay."""
    out_path = _replay_out_dir(out_path, "topk", spark, sf_dir)
    counts = hourly_event_type_counts(read_events_stream(spark, sf_dir))

    def write_topk(batch_df: DataFrame, batch_id: int) -> None:
        w = PW.partitionBy("hour_start_us").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        (
            batch_df.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .write.mode("overwrite")
            .parquet(out_path)
        )

    _start_and_await(
        counts.writeStream.foreachBatch(write_topk)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    return spark.read.parquet(out_path)


# ---------------------------------------------------------------------------
# streaming CDC apply (foreachBatch upsert into a keyed parquet snapshot)
# ---------------------------------------------------------------------------

def run_stream_upsert_replay(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """Apply a stream of per-user updates onto a keyed parquet snapshot —
    the streaming MERGE pattern on plain parquet — replayed to
    completion.

    Each micro-batch reduces to one row per key (last event wins by
    event time — max_by inside the batch), then merges into the snapshot
    with the same full-outer + coalesce shape as the batch upsert
    operator. The rewrite cost is the snapshot, not the stream volume;
    on a table format with row-level merge (Delta/Iceberg) the same
    foreachBatch body becomes MERGE INTO. Replay converges to the batch
    per-user last-event view (idempotent per-key last-write-wins;
    oracle_sql.q_stream_upsert_replay); (user_id, ts) is unique in the
    feed at every SF, so last_value is well-defined. An explicit
    ``out_path`` is used as-is, so a second replay onto an existing
    snapshot merges into it.
    """
    base_path = _replay_out_dir(out_path, "upsert", spark, sf_dir)
    events = read_events_stream(spark, sf_dir)
    updates = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        per_key = batch_df.groupBy("user_id").agg(
            F.max("ts_us").alias("last_ts_us"),
            F.max_by("value", "ts_us").alias("last_value"),
            F.count(F.lit(1)).cast("long").alias("n_updates"),
        )
        try:
            base = spark.read.parquet(base_path)
            have_base = True
        except AnalysisException:  # first batch: snapshot path missing.
            # Narrow on purpose: a transient FS/footer error must NOT be
            # mistaken for "no snapshot" — the overwrite below would
            # silently replace all accumulated state with one batch.
            have_base = False
        if have_base:
            b, u = base.alias("b"), per_key.alias("u")
            merged = b.join(u, F.col("b.user_id") == F.col("u.user_id"), "full_outer")
            out = merged.select(
                F.coalesce(F.col("u.user_id"), F.col("b.user_id")).alias("user_id"),
                F.greatest(
                    F.coalesce(F.col("u.last_ts_us"), F.lit(-1)),
                    F.coalesce(F.col("b.last_ts_us"), F.lit(-1)),
                ).alias("last_ts_us"),
                F.when(
                    F.coalesce(F.col("u.last_ts_us"), F.lit(-1))
                    >= F.coalesce(F.col("b.last_ts_us"), F.lit(-1)),
                    F.coalesce(F.col("u.last_value"), F.col("b.last_value")),
                )
                .otherwise(F.col("b.last_value"))
                .alias("last_value"),
                (
                    F.coalesce(F.col("u.n_updates"), F.lit(0))
                    + F.coalesce(F.col("b.n_updates"), F.lit(0))
                ).cast("long").alias("n_updates"),
            )
        else:
            out = per_key.select(
                "user_id",
                F.col("last_ts_us"),
                "last_value",
                "n_updates",
            )
        # stage-then-swap: parquet can't overwrite a path it is reading
        staged = out.localCheckpoint(eager=True)
        staged.write.mode("overwrite").parquet(base_path)

    _start_and_await(
        updates.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    return spark.read.parquet(base_path)


# ---------------------------------------------------------------------------
# streaming ingest + inline maintenance (compaction every N batches)
# ---------------------------------------------------------------------------

def run_stream_ingest_with_maintenance(
    spark: SparkSession,
    feed_dir: str,
    out_path: str,
    maintenance_every: int = 2,
    land_parallelism: int = 8,
    target_bytes: int = 128 * 1024 * 1024,
    timeout_s: int = 180,
) -> int:
    """Streaming ingest with the maintenance loop folded into the job:
    each micro-batch appends to a parquet table at the sink's natural
    write parallelism (fast, but accumulates small files — the classic
    streaming-sink pathology), and every Nth batch the same foreachBatch
    callback runs the small-files compaction pass over the table.

    In production this is the pattern that keeps a continuously-ingested
    100 TB table scannable without a separate maintenance scheduler:
    ingest and OPTIMIZE share the stream's exactly-once batch sequence,
    so a compaction never races a concurrent append (foreachBatch is
    synchronous within the query). Returns the number of compaction
    passes executed (a final pass always runs at shutdown so the table
    ends compacted).
    """
    from clusterforge_spark.sources.sinks import compact_small_files

    schema = spark.read.parquet(feed_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    n_compactions = [0]

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.repartition(land_parallelism).write.mode("append").parquet(out_path)
        if (batch_id + 1) % maintenance_every == 0:
            compact_small_files(spark, out_path, target_bytes=target_bytes)
            n_compactions[0] += 1

    _start_and_await(
        raw.writeStream.foreachBatch(land)
        .trigger(availableNow=True),
        timeout_s,
    )
    compact_small_files(spark, out_path, target_bytes=target_bytes)
    n_compactions[0] += 1
    return n_compactions[0]


# ---------------------------------------------------------------------------
# streaming SCD2 apply (incremental dimension-history maintenance)
# ---------------------------------------------------------------------------

def run_stream_scd2_apply(
    spark: SparkSession,
    feed_dir: str,
    out_path: str,
    timeout_s: int = 180,
) -> DataFrame:
    """Maintain a type-2 dimension history incrementally from a change
    feed: each micro-batch rebuilds ONLY the customers it touches
    (reconstructing their change rows from the existing versions, adding
    the batch, re-running the SCD2 window) and keeps everyone else's
    versions untouched — the merge-on-read dimension pattern where the
    rewrite cost tracks the batch's key set, not the table.

    Idempotent per batch sequence (availableNow replay converges to the
    batch scd2_build answer — asserted by the parity test). The staged
    localCheckpoint breaks lineage onto the path being overwritten, the
    same stage-then-swap the CDC apply uses.
    """
    from clusterforge_spark.operators.relational import scd2_build

    schema = spark.read.parquet(feed_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    cols = ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(*cols)
        try:
            old = spark.read.parquet(out_path)
            have = True
        except AnalysisException:  # first batch: history path missing
            have = False
        if have:
            keys = batch.select("o_custkey").distinct()
            untouched = old.join(keys, "o_custkey", "left_anti")
            affected_old = old.join(keys, "o_custkey", "left_semi").select(
                "o_custkey",
                "o_orderkey",
                F.timestamp_micros(F.col("valid_from_us")).alias("o_orderdate"),
                "o_totalprice",
                "o_orderpriority",
            )
            # .distinct(): foreachBatch is at-least-once — a re-applied
            # batch's rows already round-tripped into affected_old, and
            # without the dedup scd2_build would mint a second
            # zero-length version per re-applied change row
            out = untouched.unionByName(
                scd2_build(affected_old.unionByName(batch).distinct())
            )
        else:
            out = scd2_build(batch)
        out.localCheckpoint(eager=True).write.mode("overwrite").parquet(out_path)

    _start_and_await(
        raw.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True),
        timeout_s,
    )
    return spark.read.parquet(out_path)


# ---------------------------------------------------------------------------
# streaming EWMA (stateful recursive statistic)
# ---------------------------------------------------------------------------

def ewma_stream(events_stream: DataFrame, alpha: float | None = None) -> DataFrame:
    """Incremental per-user EWMA — the streaming form of
    operators/relational.ewma_per_user's recursive fold: state is ONE
    (ewma, n_events, tiebreak) triple per user, updated by folding each
    trigger's events in (ts, event_id) order.

    Emits the running ewma after every trigger that touches the user
    (update semantics via append of per-trigger snapshots; the final
    snapshot equals the batch fold — asserted by the parity test). Same
    ordering contract as the gap sessionizer: within a trigger all of a
    key's chunks are concatenated and sorted before folding; across
    triggers arrival must be event-time ordered.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if alpha is None:
        # ONE constant governs the EWMA everywhere: the batch operator,
        # this stream, and the replay oracle all read relational
        # .EWMA_ALPHA — a hard-coded default here would silently
        # diverge from the oracle if the constant is ever tuned
        from clusterforge_spark.operators.relational import EWMA_ALPHA

        alpha = EWMA_ALPHA

    def step(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        ewma, n = state.get if state.exists else (None, 0)
        chunks = list(pdf_iter)
        if chunks:
            pdf = (
                pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            ).sort_values(["ts_us", "event_id"])
            for v in pdf["value"]:
                v = float(v)
                ewma = v if ewma is None else ewma * (1.0 - alpha) + v * alpha
                n += 1
            state.update((ewma, n))
            yield pd.DataFrame(
                [(user_id, n, ewma)], columns=["user_id", "n_events", "ewma"]
            )

    prepared = events_stream.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType="ewma double, n_events long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream_with_dim(
    events_stream: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static enrichment: every event joined to the (batch)
    customer dimension — the bread-and-butter streaming join. The static
    side is broadcast per micro-batch (no state, no watermark needed;
    contrast with the stateful stream-stream interval join), so the
    stream stays append-only and the dim can be swapped between
    triggers."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return (
        events_stream.select(
            "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
        )
        .join(F.broadcast(dim), "user_id", "left")
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema pinned)."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir.rstrip("/"))
    )


def stream_quality_filter(
    docs_stream: DataFrame, quality_min: float = 0.5
) -> DataFrame:
    """Streaming curation: the STATELESS quality gates (language filter +
    heuristic quality floor) applied to a document stream — the ingest
    path of a training pipeline curating as data arrives, instead of in
    nightly batches.

    quality_score is a map-only projection (built-in expressions, no
    aggregation), so it streams as-is with append semantics and zero
    state; the corpus-relative gates (repetition percentile,
    decontamination against a benchmark set) need corpus state and stay
    batch — the standard split between per-record and corpus-level
    curation. Output: the surviving docs with their scores, plus a
    `gate` column naming the first failed gate for rejected docs
    (emitting both lets a single stream feed the kept-sink and the
    reject-audit sink via two filtered writers).

    ``lang`` rides through quality_score's projection (its
    ``passthrough`` parameter) — recovering it with a join of the stream
    against itself would silently create a stateful stream-stream join
    with unbounded state retention, the opposite of the zero-state claim
    above.
    """
    from clusterforge_spark.operators.text import quality_score

    scored = quality_score(
        docs_stream.select("doc_id", "lang", "text"), passthrough=("lang",)
    )
    gate = (
        F.when(F.col("lang") != "en", F.lit("lang_en"))
        .when(F.col("quality") < quality_min, F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    return scored.select("doc_id", "lang", "quality", gate.alias("gate"))


def stream_curated_ingest(
    docs_stream: DataFrame,
    quality_min: float = 0.5,
    dedup_watermark: str | None = None,
) -> DataFrame:
    """At-ingest curation: exact text dedup (first arrival wins) feeding
    the stateless quality gates — the two front stages of a streaming
    training-data pipeline composed into one linear plan.

    Dedup keys on ``md5(text)`` via ``dropDuplicates`` (cross-micro-batch
    state, so a duplicate arriving in a LATER file is still dropped).
    With ``dedup_watermark`` set (e.g. ``"10 minutes"``) an
    ``arrival_ts`` processing-time column bounds the dedup state via
    ``dropDuplicatesWithinWatermark`` — the production configuration;
    the default keeps exact unwindowed dedup (state ∝ distinct texts),
    right for bounded backfills and parity tests. Dedup runs FIRST so
    the scoring projection prices only surviving docs.
    """
    with_key = docs_stream.withColumn("text_md5", F.md5("text"))
    if dedup_watermark is not None:
        deduped = (
            with_key.withColumn("arrival_ts", F.current_timestamp())
            .withWatermark("arrival_ts", dedup_watermark)
            .dropDuplicatesWithinWatermark(["text_md5"])
        )
    else:
        deduped = with_key.dropDuplicates(["text_md5"])
    return stream_quality_filter(deduped, quality_min)


# ---------------------------------------------------------------------------
# incrementally maintained Count-Min sketch (mergeable-state streaming)
# ---------------------------------------------------------------------------

def run_stream_countmin(
    spark: SparkSession,
    docs_path_glob: str,
    sketch_path: str,
    timeout_s: int = 180,
) -> DataFrame:
    """Maintain the md5 Count-Min sketch (operators/sketches) over a
    DOCUMENT STREAM: each micro-batch builds its own partial sketch and
    merges it into the persisted one by (row, bucket) counter addition —
    the canonical mergeable-sketch property, exercised as streaming
    state kept OUTSIDE the streaming engine (foreachBatch + parquet
    stage-and-swap, the same pattern as the streaming MERGE).

    Because counter addition is associative and commutative, any batch
    split of the corpus converges to exactly the batch-built sketch —
    pinned by the multi-batch parity pytest. Replays of a batch are NOT
    idempotent on plain parquet (counts would double); production runs
    put batch_id-keyed dedup or a transactional table format underneath,
    exactly as the docstring of run_stream_upsert_replay notes.
    """
    from clusterforge_spark.operators.sketches import (
        countmin_build,
        token_vocab_counts,
    )

    docs = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_path_glob)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cache=False: each micro-batch has a distinct plan, so a cached
        # vocab would pin one never-deduped InMemoryRelation per batch
        # for the session lifetime — and this path consumes it once
        partial = countmin_build(
            batch_df, tokens=token_vocab_counts(batch_df, cache=False)
        )
        try:
            base = spark.read.parquet(sketch_path)
            have_base = True
        except AnalysisException:  # first batch: sketch path missing
            have_base = False
        if have_base:
            b, p = base.alias("b"), partial.alias("p")
            merged = b.join(
                p,
                (F.col("b.row") == F.col("p.row"))
                & (F.col("b.bucket") == F.col("p.bucket")),
                "full_outer",
            ).select(
                F.coalesce(F.col("p.row"), F.col("b.row")).alias("row"),
                F.coalesce(F.col("p.bucket"), F.col("b.bucket")).alias("bucket"),
                (
                    F.coalesce(F.col("p.counter"), F.lit(0))
                    + F.coalesce(F.col("b.counter"), F.lit(0))
                ).cast("long").alias("counter"),
            )
        else:
            merged = partial
        staged = merged.localCheckpoint(eager=True)
        staged.write.mode("overwrite").parquet(sketch_path)

    _start_and_await(
        docs.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .trigger(availableNow=True),
        timeout_s,
    )
    return spark.read.parquet(sketch_path)


# ---------------------------------------------------------------------------
# streaming distribution-drift monitor (PSI per micro-batch)
# ---------------------------------------------------------------------------

# bucket geometry + smoothing SHARED with the batch twin
# (validation.psi_ab): one definition keeps streamed and batch PSI
# numbers comparable by construction
from clusterforge_spark.operators.validation import (  # noqa: E402
    PSI_EPS_Q as PSI_EPS,
    PSI_W as PSI_BUCKET_WIDTH,
)


def _psi_buckets(df: DataFrame) -> DataFrame:
    b = F.floor(F.col("value") / F.lit(PSI_BUCKET_WIDTH)).cast("long")
    return df.filter(F.col("value").isNotNull()).groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def run_stream_psi(
    spark: SparkSession,
    sf_dir: str,
    log_path: str,
    timeout_s: int = 180,
) -> DataFrame:
    """Population-stability-index drift monitor: each micro-batch's
    event-value histogram is compared to a reference histogram (built
    once from the static table — in production, from the training
    snapshot) and PSI = Σ (p−q)·ln(p/q) is appended to a parquet log —
    the standard "is live traffic still shaped like what we trained on"
    alarm, run incrementally.

    The reference is a tiny bucket table broadcast into each batch's
    aggregate; empty buckets take an ε share (standard PSI smoothing).
    A batch drawn from the reference distribution itself scores ~0 —
    pinned by the parity pytest, along with PSI > 0 under a real shift.
    """
    from clusterforge_spark.sources.readers import load_table

    # the shared batch reader owns schema pinning + the ts-nanos
    # normalization — re-implementing it here would be a second copy
    # that can silently drift
    ref = _psi_buckets(load_table(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )
    ref_total = ref.agg(F.sum("n")).collect()[0][0] or 0

    events = read_events_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _psi_buckets(batch_df)
        cur_total = cur.agg(F.sum("n")).collect()[0][0] or 0
        if cur_total == 0:
            return
        j = ref.alias("r").join(cur.alias("c"), "bucket", "full_outer")
        p = F.coalesce(F.col("c.n"), F.lit(0)).cast("double") / F.lit(
            float(cur_total)
        )
        q = F.coalesce(F.col("r.n"), F.lit(0)).cast("double") / F.lit(
            float(ref_total)
        )
        p_s = F.greatest(p, F.lit(PSI_EPS))
        q_s = F.greatest(q, F.lit(PSI_EPS))
        term = (p_s - q_s) * F.log(p_s / q_s)
        row = j.agg(F.sum(term).alias("psi")).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.lit(int(cur_total)).cast("long").alias("n_events"),
            F.round(F.col("psi"), 6).alias("psi"),
        )
        row.write.mode("append").parquet(log_path)

    _start_and_await(
        events.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .trigger(availableNow=True),
        timeout_s,
    )
    return spark.read.parquet(log_path)


# ---------------------------------------------------------------------------
# replay capture: foreachBatch → parquet, the oracle surface of the
# streaming family (r7)
#
# run_stream_replay_to_parquet is the one harness that runs a finite
# stream to completion: a foreachBatch parquet capture (the production
# sink shape) whose read-back final table is returned. The
# run_stream_*_replay functions below route their operator through it
# (topk and upsert, defined with their operators above, write their own
# foreachBatch sink), and the batch/stream parity pytests read the same
# capture. On the contract's single-file replay (availableNow, one
# micro-batch) every capture is deterministic and its final state is
# recomputable in ANSI SQL over the same events parquet — so each one
# carries a DuckDB oracle in oracle_sql.py and a q_stream_*_replay
# contract entry. Ordering caveats (multi-trigger folds need
# event-time-ordered arrival) are unchanged from the underlying
# operators' docstrings.
# ---------------------------------------------------------------------------

def _replay_out_dir(
    out_path: str | None,
    tag: str,
    spark: SparkSession | None = None,
    sf_dir: str | None = None,
) -> str:
    """Per-proof capture location, PRE-CLEANED on every invocation:
    append-mode captures must start empty or re-runs accumulate rows,
    and the upsert capture's first-batch detection requires the path to
    not exist yet.

    Keyed by (applicationId, sf_dir-hash, tag) — r7 ADVICE: a dir keyed
    only by tag lets two concurrent runs (bench + correctness, or two
    scales) rmtree each other's captures mid-stream, and a previously
    returned DataFrame stays lazily bound to a dir the other run
    pre-cleans. Per-app keying makes concurrent runs disjoint; stale
    apps' dirs are pruned by age (>7 days, every call self-touches its
    own key dir to stay young) so the fixed-root discipline (no
    unbounded mkdtemp leak on a long-lived box) is kept."""
    if out_path:
        return out_path
    import hashlib
    import shutil
    import time as _time

    # RAM-backed scratch by default (r12 optimization round): the
    # capture is written and immediately re-read by the same call —
    # see _scratch_root for the production override
    root = os.path.join(_scratch_root(), "replay")
    app = spark.sparkContext.applicationId if spark is not None else "noapp"
    key = app
    if sf_dir:
        key += "-" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # prune dirs of DEAD runs: other app keys untouched for >7 days.
    # The window is deliberately wide and every call below utime-touches
    # its own key dir, so a long-lived concurrent app is only at risk if
    # it runs a week without ONE replay call — the residual accepted in
    # exchange for a bounded fixed /tmp root (r8 review finding: the
    # original 1-day cutoff could rmtree a live >24h run's captures).
    try:
        cutoff = _time.time() - 7 * 86400
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if not name.startswith(app) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    d = os.path.join(root, key, tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    os.utime(os.path.dirname(d))  # keep this app's key dir young
    return d


def run_stream_replay_to_parquet(
    spark: SparkSession,
    stream: DataFrame,
    out_path: str,
    output_mode: str = "complete",
    timeout_s: int = 180,
    batch_transform=None,
) -> DataFrame:
    """Run ``stream`` to completion (availableNow) through a
    foreachBatch parquet capture and return the read-back result.

    complete mode: each batch OVERWRITES the capture (idempotent — the
    final batch holds the full result, so replays converge). append
    mode: each batch lands in its OWN hive-style partition dir
    (``cf_batch=<id>``, written with per-directory OVERWRITE) and a
    ``_batches/<id>`` manifest marker is written after the data
    commits; already-marked ids are SKIPPED, so replaying the same
    stream into the same capture dir is idempotent on plain parquet
    (r7 verdict item 4; the underscore prefix hides the manifest from
    parquet readers, and the reader below drops the cf_batch partition
    column so the returned schema is unchanged).

    Crash-window semantics (r9 — previously the documented at-least-once
    gap): a crash BETWEEN the batch-dir write and its marker leaves an
    unmarked ``cf_batch=<id>`` dir whose contents — partial or complete
    — are REPLACED by the replay's overwrite of that same dir before the
    marker is finally written. For a reader that runs AFTER a completed
    replay (this function's own return path, which replays to
    completion before reading), no interleaving can surface duplicated
    or partial rows: a batch's files become durable-and-counted exactly
    once, when its marker exists. An EXTERNAL
    ``spark.read.parquet(out_path)`` issued inside the crash window —
    before the healing replay — still scans the unmarked dir, because
    parquet partition discovery knows nothing of the ``_batches``
    manifest; such a reader gets the same guarantee through
    :func:`read_stream_capture`, which filters ``cf_batch`` against the
    manifest (r10: claim scoped to post-replay reads + a guarded reader
    for every other time). This is
    exactly-once for deterministic replays (availableNow over a static
    file source re-forms the same batches); a nondeterministic source
    re-forms batch contents on replay but still never duplicates. The
    manifest and data live on the same filesystem (Hadoop FS API), so
    the guard works on any URI, not just local paths. Layout note: a
    capture dir written by the pre-r9 flat-append layout cannot be
    REUSED with this per-batch-dir layout (partition discovery rejects
    the mix) — default capture dirs are pre-cleaned per run so only an
    explicitly reused out_path can hit this, and it fails loudly, never
    silently double-counts.

    ``batch_transform(batch_df) -> DataFrame`` (optional) runs inside
    foreachBatch on the BATCH frame before capture — the production
    pattern for applying a static model (a broadcast codebook, a
    loaded scaler) to every micro-batch of a stream."""
    mode = "overwrite" if output_mode == "complete" else "append"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _hpath(p: str):
        hp = jvm.org.apache.hadoop.fs.Path(p)
        return hp.getFileSystem(hconf), hp

    def capture(batch_df: DataFrame, batch_id: int) -> None:
        if batch_transform is not None:
            batch_df = batch_transform(batch_df)
        if mode == "append":
            fs, marker = _hpath(f"{out_path}/_batches/{batch_id}")
            if fs.exists(marker):
                # this batch already committed in a prior replay: skip
                # the parquet write but still CONSUME the batch through
                # the noop sink — stateful operators (stream-stream
                # joins, sessionization) must run their tasks so the
                # state store commits validate
                batch_df.write.format("noop").mode("overwrite").save()
                return
            # per-batch dir + overwrite: re-running an unmarked batch
            # REPLACES any partial files from a crashed attempt instead
            # of appending next to them
            batch_df.write.mode("overwrite").parquet(
                f"{out_path}/cf_batch={batch_id}"
            )
            fs.createNewFile(marker)
        else:
            batch_df.write.mode(mode).parquet(out_path)

    _start_and_await(
        stream.writeStream.foreachBatch(capture)
        .outputMode(output_mode)
        .trigger(availableNow=True),
        timeout_s,
    )
    out = spark.read.parquet(out_path)
    # partition discovery surfaces the per-batch dirs as a cf_batch
    # column in append mode — drop it so the capture's schema matches
    # the stream's (and the complete-mode shape). A raw read is safe
    # HERE because the replay just completed (every dir is marked);
    # readers at arbitrary times use read_stream_capture below.
    return out.drop("cf_batch") if mode == "append" else out


def read_stream_capture(
    spark: SparkSession, out_path: str, drop_batch_col: bool = True
) -> DataFrame:
    """Manifest-guarded reader of a stream capture directory — the safe
    way to read an append-mode capture at ARBITRARY times (r10; the r9
    advice's reader-side completion of the crash-window story).

    A raw ``spark.read.parquet(out_path)`` issued inside the crash
    window — after a batch dir was (partially) written but before its
    ``_batches/<id>`` marker — scans the unmarked ``cf_batch=<id>`` dir,
    because parquet partition discovery knows nothing of the manifest.
    This reader lists the manifest FIRST and opens ONLY the committed
    ``cf_batch=<id>`` dirs (``basePath`` keeps the partition column), so
    a batch's rows become visible exactly when they became durable —
    and schema inference never touches a torn or in-flight batch dir at
    all (r11, ADVICE: the r10 form read the whole capture and filtered,
    which was row-correct but could fail loudly on a corrupt part file
    in an UNMARKED dir before partition pruning hid it). The manifest
    listing is one driver-side FS call over #batches entries (Hadoop FS
    API — any URI).

    Complete-mode captures (no ``_batches`` manifest; each batch
    atomically overwrites the whole capture) are returned as-is. An
    append capture whose manifest is empty (crash before the FIRST
    commit) falls back to a whole-dir read filtered to nothing — that
    read can still fail loudly on a torn first batch, but never
    returns its rows. The no-manifest branch distinguishes the two by
    schema (r12, ADVICE): a crash after the FIRST ``cf_batch=<id>`` dir
    was written but before its marker leaves no ``_batches/`` at all
    (the marker's ``createNewFile`` is what creates the parent), yet
    partition discovery still surfaces a ``cf_batch`` column — that
    shape is an append capture with zero committed batches, not a
    complete-mode capture, so its rows are filtered out too."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hp = jvm.org.apache.hadoop.fs.Path(f"{out_path.rstrip('/')}/_batches")
    fs = hp.getFileSystem(hconf)
    if not fs.exists(hp):
        df = spark.read.parquet(out_path)
        if "cf_batch" in df.columns:
            # append capture that crashed before its first marker (the
            # marker's parent _batches/ never got created): nothing is
            # committed — honor the "never returns its rows" guarantee
            df = df.filter(F.lit(False))
            return df.drop("cf_batch") if drop_batch_col else df
        # genuinely a complete-mode capture (atomic whole-dir overwrite
        # per batch) — nothing to guard
        return df
    ids: list[int] = []
    for st in fs.listStatus(hp):
        name = st.getPath().getName()
        try:
            ids.append(int(name))
        except ValueError:
            pass  # foreign file in the manifest dir — never a marker
    if not ids:
        df = spark.read.parquet(out_path).filter(F.lit(False))
        if "cf_batch" in df.columns and drop_batch_col:
            df = df.drop("cf_batch")
        return df
    base = out_path.rstrip("/")
    df = spark.read.option("basePath", base).parquet(
        *[f"{base}/cf_batch={i}" for i in sorted(ids)]
    )
    return df.drop("cf_batch") if drop_batch_col else df


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (schema pinned) —
    the ingest feed of the streaming-ANN demonstration."""
    from clusterforge_spark.sources.readers import TABLE_SCHEMAS

    return (
        spark.readStream.schema(TABLE_SCHEMAS["embeddings"])
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir.rstrip("/"))
    )


def run_stream_ann_ingest_replay(
    spark: SparkSession,
    sf_dir: str,
    cells: DataFrame,
    out_path: str | None = None,
) -> DataFrame:
    """Continuous ANN INGEST through Structured Streaming against a
    persisted index (r8): every arriving embedding micro-batch is
    assigned to its nearest cell of the EXISTING trained codebook —
    map-only, inside foreachBatch, exactly how a production pipeline
    maintains inverted lists between nightly trains (the batch twin is
    similarity.ivf_kcell_incremental_topk; here the INGEST itself runs
    on the streaming engine). The capture is the (vec_id, cell) posting
    list; the finite replay's final state equals the batch assignment,
    so the oracle is the same kc-chain SQL every kcell query shares —
    the streaming ingest is value-checked END TO END, codebook training
    included. Append mode rides the ``_batches`` manifest, so re-runs
    are idempotent on plain parquet."""
    from clusterforge_spark.operators import similarity as SIM

    packed = SIM._pack_cells(cells)

    def assign(batch_df: DataFrame) -> DataFrame:
        return SIM._assign_packed(batch_df, packed).select("vec_id", "cell")

    return run_stream_replay_to_parquet(
        spark,
        read_embeddings_stream(spark, sf_dir),
        _replay_out_dir(out_path, "annin", spark, sf_dir),
        "append",
        batch_transform=assign,
    )


def run_stream_hourly_replay(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """Tumbling hourly per-user counts (hourly_user_counts), replayed to
    a parquet capture. Oracle: the same GROUP BY over date_trunc'd
    event time (oracle_sql.q_stream_hourly_replay)."""
    stream = hourly_user_counts(read_events_stream(spark, sf_dir))
    return run_stream_replay_to_parquet(
        spark, stream, _replay_out_dir(out_path, "hourly", spark, sf_dir), "complete"
    )


def run_stream_session_window_replay(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, out_path: str | None = None
) -> DataFrame:
    """Native session-window gap sessions, replayed to parquet. The
    final state equals the batch gap-sessionization, so the oracle IS
    the batch oracle (oracle_sql.q_session_window)."""
    stream = session_window_counts_stream(
        read_events_stream(spark, sf_dir), gap_minutes
    )
    return run_stream_replay_to_parquet(
        spark, stream, _replay_out_dir(out_path, "sesswin", spark, sf_dir), "complete"
    )


def run_stream_ewma_replay(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """Stateful per-user EWMA, replayed to parquet; returns the FINAL
    per-user snapshot (last emitted n_events/ewma), 6dp-rounded to the
    shared determinism convention. Final state equals the batch
    recursive fold (oracle_sql.q_stream_ewma_replay)."""
    from clusterforge_spark.functions.rounding import round_det

    snaps = run_stream_replay_to_parquet(
        spark,
        ewma_stream(read_events_stream(spark, sf_dir)),
        _replay_out_dir(out_path, "ewma", spark, sf_dir),
        "append",
    )
    return (
        snaps.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max_by("ewma", "n_events").alias("_ewma"),
        )
        .select("user_id", "n_events", round_det("_ewma", 6).alias("ewma"))
    )


def run_stream_click_attribution_replay(
    spark: SparkSession,
    sf_dir: str,
    max_gap_minutes: int = 60,
    out_path: str | None = None,
) -> DataFrame:
    """Watermarked stream-stream interval join, replayed to parquet.
    Inner-join matches emit as found, so the finite replay captures
    exactly the batch interval join (oracle_sql
    .q_stream_click_attribution_replay)."""
    stream = click_purchase_join_stream(
        read_events_stream(spark, sf_dir),
        read_events_stream(spark, sf_dir),
        max_gap_minutes=max_gap_minutes,
    )
    return run_stream_replay_to_parquet(
        spark, stream, _replay_out_dir(out_path, "clickattr", spark, sf_dir), "append"
    )


def run_stream_gap_sessions_replay(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, out_path: str | None = None
) -> DataFrame:
    """The CUSTOM STATEFUL operator's oracle surface: per-user gap
    sessions via applyInPandasWithState, replayed through a foreachBatch
    parquet capture. A finite replay emits every CLOSED session —
    everything but each user's final (still-open) session — which the
    DuckDB oracle recomputes via the lag/island form minus each user's
    last island (oracle_sql.q_stream_gap_sessions_replay).

    The float ``session_value`` is deliberately dropped: the Python fold
    rounds with round-half-even over a sequential float sum, which has
    no bit-mirrorable SQL twin (the value surface is already
    oracle-gated by q_stream_session_window_replay's exact cents
    sums); the remaining columns are exact integers."""
    snaps = run_stream_replay_to_parquet(
        spark,
        sessionize_gap_stream(read_events_stream(spark, sf_dir), gap_minutes),
        _replay_out_dir(out_path, "gapsess", spark, sf_dir),
        "append",
    )
    return snaps.select(
        "user_id",
        "session_start_us",
        "session_end_us",
        F.col("n_events").cast("long").alias("n_events"),
    )
