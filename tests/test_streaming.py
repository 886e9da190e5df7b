"""Structured Streaming ↔ batch parity for the windowed aggregation."""

from __future__ import annotations

import pytest

from clusterforge_spark.operators.relational import window_sessionize
from clusterforge_spark.streaming.sessionize import (
    read_events_stream,
    run_stream_hourly_replay,
    run_stream_replay_to_parquet,
)

from tests.conftest import SF_DIR


def test_stream_matches_batch(spark, events, tmp_path):
    stream_rows = {
        (r.user_id, r.hour_start_us): (r.events_in_hour, r.value_in_hour)
        for r in run_stream_hourly_replay(
            spark, SF_DIR, out_path=str(tmp_path / "hourly")
        ).collect()
    }
    batch_rows = {
        (r.user_id, r.hour_start_us): (r.events_in_hour, r.value_in_hour)
        for r in window_sessionize(events).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_stateful_gap_sessions_match_batch(spark, events, tmp_path):
    """Closed sessions from the stateful stream == batch sessions minus
    each user's final (still-open) session. Captured through the raw
    harness, not run_stream_gap_sessions_replay, because that function
    drops the float session_value this test also compares."""
    from clusterforge_spark.operators.relational import sessionize_gap
    from clusterforge_spark.streaming.sessionize import sessionize_gap_stream

    captured = run_stream_replay_to_parquet(
        spark,
        sessionize_gap_stream(read_events_stream(spark, SF_DIR)),
        str(tmp_path / "gap"),
        "append",
    )
    stream_rows = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in captured.collect()
    }
    batch = sessionize_gap(events).collect()
    last_idx = {}
    for r in batch:
        last_idx[r.user_id] = max(last_idx.get(r.user_id, -1), r.session_idx)
    closed_batch = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in batch
        if r.session_idx != last_idx[r.user_id]
    }
    assert len(stream_rows) > 0
    assert stream_rows == closed_batch


def test_streaming_dedup_matches_batch_distinct(spark, events, tmp_path):
    from clusterforge_spark.streaming.sessionize import dedup_events_stream

    out = run_stream_replay_to_parquet(
        spark,
        dedup_events_stream(read_events_stream(spark, SF_DIR)),
        str(tmp_path / "dedup"),
        "append",
    )
    stream_ids = {r.event_id for r in out.collect()}
    batch_ids = {r.event_id for r in events.select("event_id").distinct().collect()}
    assert stream_ids == batch_ids


def test_windowed_agg_on_rate_source(spark):
    """The same windowed aggregation runs on a non-file source (rate) —
    the 'swap the source, keep the plan' claim of streaming/sessionize."""
    import time as _time

    from pyspark.sql import functions as F

    from clusterforge_spark.streaming.sessionize import hourly_user_counts

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .load()
        .select(
            (F.col("value") % 7).cast("long").alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = hourly_user_counts(src, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = _time.time() + 60
        rows = []
        while _time.time() < deadline:
            rows = spark.table("rate_out").collect()
            if rows:
                break
            _time.sleep(0.5)
        assert rows, "rate source produced no windows within 60s"
        assert {f.name for f in spark.table("rate_out").schema.fields} == {
            "user_id", "hour_start_us", "events_in_hour", "value_in_hour",
        }
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, events, tmp_path):
    """Watermarked stream-stream interval join emits exactly the batch
    join's matches (finite replay, watermark far below the data span)."""
    import pyspark.sql.functions as F

    from clusterforge_spark.streaming.sessionize import (
        run_stream_click_attribution_replay,
    )

    stream_rows = {
        (r.purchase_id, r.click_id)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=str(tmp_path / "click")
        ).collect()
    }
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_us"),
    )
    batch_rows = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_us") >= F.col("purchase_us") - 3_600_000_000)
            & (F.col("click_us") <= F.col("purchase_us")),
        ).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_native_session_window_stream_matches_batch(spark, events, tmp_path):
    from clusterforge_spark.operators.relational import session_window_agg
    from clusterforge_spark.streaming.sessionize import (
        run_stream_session_window_replay,
    )

    stream_rows = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in run_stream_session_window_replay(
            spark, SF_DIR, out_path=str(tmp_path / "sesswin")
        ).collect()
    }
    batch_rows = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in session_window_agg(events).collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_foreach_batch_partitioned_sink(spark, events, tmp_path):
    """foreachBatch lands the stream as partitioned parquet; reading it
    back matches the batch aggregate, and partition pruning works."""
    import pyspark.sql.functions as F

    from clusterforge_spark.operators.relational import window_sessionize
    from clusterforge_spark.streaming.sessionize import (
        run_stream_to_partitioned_parquet,
    )

    out = str(tmp_path / "hourly")
    run_stream_to_partitioned_parquet(spark, SF_DIR, out)
    back = spark.read.parquet(out)
    got = {
        (r.user_id, r.hour_start_us): (r.events_in_hour, r.value_in_hour)
        for r in back.collect()
    }
    want = {
        (r.user_id, r.hour_start_us): (r.events_in_hour, r.value_in_hour)
        for r in window_sessionize(events)
        .select("user_id", "hour_start_us", "events_in_hour", "value_in_hour")
        .collect()
    }
    assert got == want
    # the partition column must prune at the source
    one = back.filter(F.col("hour_bucket") == sorted({k[1] for k in got})[0] // 3_600_000_000)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "hour_bucket" in plan.split("PartitionFilters")[1][:200]


def test_stream_topk_matches_batch(spark, events, tmp_path):
    """Streaming per-hour top-k event types == the same rank computed
    in one batch pass over the static table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clusterforge_spark.streaming.sessionize import run_stream_topk_replay

    k = 3
    got = {
        (r.hour_start_us, r.rank): (r.event_type, r.n_events)
        for r in run_stream_topk_replay(
            spark, SF_DIR, k=k, out_path=str(tmp_path / "topk")
        ).collect()
    }
    w = Window.partitionBy("hour_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    batch = (
        events.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_start_us"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    want = {
        (r.hour_start_us, r.rank): (r.event_type, r.n_events)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_cdc_apply_matches_batch(spark, events, tmp_path):
    """foreachBatch CDC apply: snapshot == batch last-write-wins per key;
    a second replay exercises the merge branch idempotently (values
    unchanged, update counts accumulate)."""
    from pyspark.sql import functions as F

    from clusterforge_spark.streaming.sessionize import run_stream_upsert_replay

    base = str(tmp_path / "user_snapshot")
    snap1 = {
        r.user_id: (r.last_ts_us, r.last_value, r.n_updates)
        for r in run_stream_upsert_replay(spark, SF_DIR, out_path=base).collect()
    }
    want = {
        r.user_id: (r.last_ts_us, r.last_value, r.n_updates)
        for r in events.groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
            F.max_by("value", F.unix_micros("ts")).alias("last_value"),
            F.count(F.lit(1)).cast("long").alias("n_updates"),
        )
        .collect()
    }
    assert snap1 == want
    snap2 = {
        r.user_id: (r.last_ts_us, r.last_value, r.n_updates)
        for r in run_stream_upsert_replay(spark, SF_DIR, out_path=base).collect()
    }
    assert set(snap2) == set(snap1)
    for uid, (ts, val, n) in snap2.items():
        ts1, val1, n1 = snap1[uid]
        assert (ts, val) == (ts1, val1)  # last-write-wins is idempotent
        assert n == 2 * n1  # replay accumulated the counts


def test_stream_ingest_with_inline_compaction(spark, events, tmp_path):
    """Ingest a 4-file feed as 4 micro-batches landing 8 files each;
    inline maintenance keeps the table at a handful of files with no
    rows lost."""
    import glob

    from clusterforge_spark.streaming.sessionize import (
        run_stream_ingest_with_maintenance,
    )

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "table")
    events.repartition(4).write.parquet(feed)
    n_passes = run_stream_ingest_with_maintenance(
        spark, feed, out, maintenance_every=2, land_parallelism=8
    )
    assert n_passes >= 2  # at least one mid-stream + the final pass
    files = glob.glob(f"{out}/*.parquet")
    # without maintenance: 4 batches x 8 files = 32
    assert 1 <= len(files) < 8
    got = spark.read.parquet(out).count()
    assert got == events.count()


def test_stream_scd2_apply_matches_batch(spark, orders, tmp_path):
    """Incremental SCD2 maintenance over a 3-batch feed converges to the
    one-shot batch build."""
    from clusterforge_spark.operators.relational import scd2_build
    from clusterforge_spark.streaming.sessionize import run_stream_scd2_apply

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "scd2")
    orders.repartition(3).write.parquet(feed)
    got = run_stream_scd2_apply(spark, feed, out)
    want = scd2_build(orders)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ewma_stream_matches_batch(spark, events, tmp_path):
    from clusterforge_spark.operators.relational import ewma_per_user
    from clusterforge_spark.streaming.sessionize import run_stream_ewma_replay

    got = {
        r.user_id: (r.n_events, round(r.ewma, 6))
        for r in run_stream_ewma_replay(
            spark, SF_DIR, out_path=str(tmp_path / "ewma")
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.ewma) for r in ewma_per_user(events).collect()
    }
    assert set(got) == set(want)
    for uid, (n, e) in want.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - e) < 1e-6


def test_stream_static_dim_join_matches_batch(spark, events, tmp_path):
    from clusterforge_spark.sources.readers import load_table
    from clusterforge_spark.streaming.sessionize import enrich_stream_with_dim

    customer = load_table(spark, SF_DIR, "customer")
    got = run_stream_replay_to_parquet(
        spark,
        enrich_stream_with_dim(read_events_stream(spark, SF_DIR), customer),
        str(tmp_path / "dim_join"),
        "append",
    )
    assert got.count() == events.count()
    # spot-check enrichment against the batch join
    import pyspark.sql.functions as F

    batch = events.join(
        customer.select(
            F.col("c_custkey").alias("user_id"), "c_name"
        ),
        "user_id",
        "left",
    )
    assert (
        got.filter(F.col("c_name").isNotNull()).count()
        == batch.filter(F.col("c_name").isNotNull()).count()
    )


def test_checkpoint_resume_processes_only_new_files(spark, events, tmp_path):
    """Exactly-once across restarts: a second availableNow run against
    the same checkpoint consumes only files that arrived after the first
    run — nothing is reprocessed, nothing is lost."""
    import glob

    from pyspark.sql import functions as F

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(feed)

    def drain():
        stream = (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        from clusterforge_spark.streaming.sessionize import _await_or_raise

        _await_or_raise(q, 180)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()
    # new files land; the SAME checkpoint picks up only the delta
    half2.write.mode("append").parquet(feed)
    drain()
    final = spark.read.parquet(out)
    assert final.count() == events.count()
    # no duplicates: every event_id exactly once
    assert final.select("event_id").distinct().count() == events.count()


def test_stream_quality_filter_matches_batch(spark, documents, tmp_path):
    from clusterforge_spark.streaming.sessionize import (
        read_documents_stream,
        stream_quality_filter,
    )
    from clusterforge_spark.operators.text import quality_score
    from pyspark.sql import functions as F

    got = {
        r.doc_id: (r.lang, r.quality, r.gate)
        for r in run_stream_replay_to_parquet(
            spark,
            stream_quality_filter(read_documents_stream(spark, SF_DIR)),
            str(tmp_path / "quality"),
            "append",
        ).collect()
    }
    scored = quality_score(documents).join(
        documents.select("doc_id", "lang"), "doc_id"
    )
    gate = (
        F.when(F.col("lang") != "en", F.lit("lang_en"))
        .when(F.col("quality") < 0.5, F.lit("quality"))
        .otherwise(F.lit("kept"))
    )
    want = {
        r.doc_id: (r.lang, r.quality, r.gate)
        for r in scored.select("doc_id", "lang", "quality", gate.alias("gate")).collect()
    }
    assert got == want and len(got) > 0
    assert {g for _, (_, _, g) in got.items()} >= {"kept"}


def test_stream_countmin_multibatch_equals_batch_sketch(spark, tmp_path):
    """The streamed Count-Min sketch, merged across 3 micro-batches,
    is bit-identical to the sketch built in one batch pass — the
    mergeable-state guarantee the operator exists for."""
    from pyspark.sql import functions as F

    from clusterforge_spark.operators.sketches import countmin_build
    from clusterforge_spark.sources.readers import load_table
    from clusterforge_spark.streaming.sessionize import (
        run_stream_countmin,
    )

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_in")
    # three files => three availableNow micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    sketch_path = str(tmp_path / "sketch")
    streamed = run_stream_countmin(spark, src, sketch_path)
    want = {
        (r.row, r.bucket): r.counter for r in countmin_build(docs).collect()
    }
    got = {(r.row, r.bucket): r.counter for r in streamed.collect()}
    assert got == want


def test_stream_psi_zero_on_reference_and_positive_on_shift(spark, tmp_path):
    """PSI ~0 when the stream replays the reference distribution; PSI
    clearly positive when the value distribution shifts."""
    from pyspark.sql import functions as F

    from clusterforge_spark.streaming.sessionize import run_stream_psi

    log1 = str(tmp_path / "psi_ref")
    out = run_stream_psi(spark, SF_DIR, log1)
    rows = out.collect()
    assert len(rows) == 1  # one parquet file -> one micro-batch
    assert abs(rows[0].psi) < 1e-6  # identical distribution

    # shifted copy: double every value -> different bucket occupancy.
    # Written as a single parquet FILE via pyarrow to mirror the
    # testdata layout read_events_stream expects.
    import pyarrow.parquet as pq

    shifted_dir = tmp_path / "shifted"
    shifted_dir.mkdir()
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    import pyarrow as pa

    vals = tbl.column("value").to_pylist()
    shifted_vals = pa.array(
        [None if v is None else v * 2 + 500 for v in vals], type=pa.float64()
    )
    tbl = tbl.set_column(tbl.schema.get_field_index("value"), "value", shifted_vals)
    pq.write_table(tbl, str(shifted_dir / "events.parquet"))
    log2 = str(tmp_path / "psi_shift")
    from clusterforge_spark.streaming import sessionize as SZ

    ref_dir = SF_DIR
    # stream the SHIFTED data against the ORIGINAL reference: monkeying
    # the source dir for the stream while the reference stays SF_DIR is
    # exactly the production layout (reference from the training
    # snapshot, stream from live traffic)
    import clusterforge_spark.streaming.sessionize as S

    orig_read = S.read_events_stream

    def patched(spark_, sf_dir_):
        return orig_read(spark_, str(shifted_dir))

    S.read_events_stream = patched
    try:
        out2 = run_stream_psi(spark, ref_dir, log2)
    finally:
        S.read_events_stream = orig_read
    rows2 = out2.collect()
    assert rows2 and all(r.psi > 0.1 for r in rows2)


def test_live_file_stream_quality_dedup_parity(spark, documents, tmp_path):
    """End-to-end from a REAL file-source directory with a CONTINUOUS
    trigger (not rate / availableNow): file 1 is present at start, file 2
    — carrying planted duplicates of file 1's docs plus fresh docs — is
    dropped while the query is live. The quality-gate + exact-dedup
    stream must emit exactly one row per distinct text with the same
    gates the batch pipeline assigns."""
    import time

    from pyspark.sql import functions as F

    from clusterforge_spark.streaming.sessionize import (
        stream_curated_ingest,
        stream_quality_filter,
    )

    src = tmp_path / "incoming"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    base = documents.select("doc_id", "lang", "text").limit(60).cache()
    first = base.filter(F.col("doc_id") < 40)
    # second file: 20 fresh docs + 10 exact duplicates of file 1's rows
    fresh = base.filter(F.col("doc_id") >= 40)
    dups = base.filter(F.col("doc_id") < 10)
    first.coalesce(1).write.mode("overwrite").parquet(str(src / "batch1.parquet"))

    stream = spark.readStream.schema(first.schema).parquet(str(src) + "/*")
    out = stream_curated_ingest(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("q_live_file_curation")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        # wait for file 1 to land, then drop file 2 while the query runs
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("q_live_file_curation").count() >= 40:
                break
            time.sleep(0.5)
        assert spark.table("q_live_file_curation").count() == 40
        fresh.unionByName(dups).coalesce(1).write.mode("overwrite").parquet(
            str(src / "batch2.parquet")
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("q_live_file_curation").count() >= 60:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    got = {
        r.doc_id: (r.lang, round(r.quality, 6), r.gate)
        for r in spark.table("q_live_file_curation").collect()
    }
    # the 10 duplicate arrivals were dropped by cross-batch dedup state
    assert len(got) == 60
    want = {
        r.doc_id: (r.lang, round(r.quality, 6), r.gate)
        for r in stream_quality_filter(base).collect()
    }
    assert got == want


def test_curated_ingest_watermarked_dedup_variant(spark, documents, tmp_path):
    """The production configuration (bounded dedup state via
    dropDuplicatesWithinWatermark on processing time) runs and dedups
    duplicates arriving inside the watermark window."""
    from clusterforge_spark.streaming.sessionize import stream_curated_ingest

    src = tmp_path / "in"
    src.mkdir()
    base = documents.select("doc_id", "lang", "text").limit(20)
    base.unionByName(base.limit(5)).coalesce(1).write.mode("overwrite").parquet(
        str(src / "b.parquet")
    )
    stream = spark.readStream.schema(base.schema).parquet(str(src) + "/*")
    rows = run_stream_replay_to_parquet(
        spark,
        stream_curated_ingest(stream, dedup_watermark="10 minutes"),
        str(tmp_path / "wm_curation"),
        "append",
    ).collect()
    assert len(rows) == 20  # the 5 in-window duplicates were dropped


def test_stream_replay_capture_matches_batch(spark, tmp_path):
    """The r7 foreachBatch parquet capture (the streaming family's
    oracle surface): the replayed hourly aggregate equals the batch
    GROUP BY over the same events, and the session-window replay equals
    the batch gap sessionization — the convergence the q_stream_*_replay
    oracles assert cross-engine, checked here Spark-side."""
    from pyspark.sql import functions as F

    from clusterforge_spark.operators.relational import session_window_agg
    from clusterforge_spark.sources.readers import load_table
    from clusterforge_spark.streaming.sessionize import (
        run_stream_hourly_replay,
        run_stream_session_window_replay,
    )
    from tests.conftest import SF_DIR

    got = run_stream_hourly_replay(
        spark, SF_DIR, out_path=str(tmp_path / "hourly")
    )
    ev = load_table(spark, SF_DIR, "events")
    want = (
        ev.groupBy(
            "user_id",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_start_us"),
        )
        .agg(
            F.count("*").alias("events_in_hour"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_in_hour"),
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    sess = run_stream_session_window_replay(
        spark, SF_DIR, out_path=str(tmp_path / "sess")
    )
    batch = session_window_agg(ev)
    assert sess.count() == batch.count()
    assert sess.exceptAll(batch).count() == 0


@pytest.mark.slow
def test_rate_source_live_unbounded_agg(spark):
    """A genuinely UNBOUNDED source executing locally (the rate source —
    no jars needed): windowed counts keep growing while the query runs.
    Complements the file-replay suite: everything else replays finite
    parquet; this proves the same windowed-agg plan runs against a live
    source, the swap a deployment reading a message bus makes.

    Marked ``slow`` (r7 ADVICE): the assertion depends on wall-clock
    behavior of a live source; a loaded runner can deselect with
    ``-m "not slow"`` instead of turning a timing assumption into a
    suite failure. The load itself is tiny (50 rows/s, 500 ms windows
    — two windows normally appear within ~2 s of the 60 s deadline)."""
    import time

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .groupBy(F.window("timestamp", "500 milliseconds").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_live_out")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        seen = 0
        while time.time() < deadline:
            seen = spark.table("rate_live_out").count()
            if seen >= 2:
                break
            time.sleep(0.5)
        assert seen >= 2, f"only {seen} windows after 60s of a live rate stream"
        rows = spark.table("rate_live_out").collect()
        assert all(r["n"] > 0 for r in rows)
    finally:
        q.stop()


def test_append_replay_idempotent_on_reused_capture_dir(spark, tmp_path):
    """r7 verdict item 4: append-mode replay into the SAME capture dir
    twice yields row-identical results — the ``_batches`` manifest skips
    batch ids that already committed, so plain-parquet captures no
    longer duplicate on re-run (previously the documented caveat)."""
    import os

    from clusterforge_spark.streaming.sessionize import (
        run_stream_click_attribution_replay,
    )
    from tests.conftest import SF_DIR

    out = str(tmp_path / "cap")
    first = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert first, "replay should capture at least one joined row"
    assert os.path.isdir(os.path.join(out, "_batches")), "manifest written"
    second = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert second == first


def test_append_replay_heals_crash_between_data_and_marker(spark, tmp_path):
    """r9 (verdict item 5, structural close of the at-least-once gap):
    fabricate the exact crash artifact — a batch's data dir present (and
    torn: a duplicated part file) but its manifest marker missing — then
    replay. The per-batch-dir OVERWRITE must REPLACE the unmarked dir,
    so the healed capture is row-identical to a clean run: no duplicated
    rows, no partial files, under any crash between data and marker."""
    import glob
    import os
    import shutil

    from clusterforge_spark.streaming.sessionize import (
        run_stream_click_attribution_replay,
    )
    from tests.conftest import SF_DIR

    out = str(tmp_path / "cap")
    clean = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert clean, "replay should capture at least one joined row"

    # crash simulation: pick one committed batch, delete its marker and
    # tear its data (duplicate a part file — the torn-write shape that
    # would double rows on a naive flat append)
    bid, parts = None, []
    for m in sorted(os.listdir(os.path.join(out, "_batches"))):
        cand = glob.glob(os.path.join(out, f"cf_batch={m}", "part-*.parquet"))
        if cand:
            bid, parts = m, cand
            break
    assert bid is not None, "at least one batch should hold committed part files"
    os.remove(os.path.join(out, "_batches", bid))
    shutil.copy(parts[0], parts[0].replace("part-", "part-dup-"))

    healed = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert healed == clean
    assert os.path.exists(os.path.join(out, "_batches", bid)), "marker restored"


def test_read_stream_capture_hides_unmarked_batches_mid_crash_window(
    spark, tmp_path
):
    """r10 (the r9 advice's reader-side completion): an EXTERNAL reader
    inside the crash window — a batch dir written (torn: duplicated part
    file) but its marker missing — must not see that batch's rows.
    read_stream_capture filters cf_batch against the _batches manifest;
    a raw spark.read.parquet of the same dir DOES see the torn rows,
    which is exactly the gap the guarded reader closes. After the
    healing replay the guarded reader equals the replay's own return."""
    import glob
    import os
    import shutil

    from clusterforge_spark.streaming.sessionize import (
        read_stream_capture,
        run_stream_click_attribution_replay,
    )
    from tests.conftest import SF_DIR

    out = str(tmp_path / "cap")
    clean = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert sorted(tuple(r) for r in read_stream_capture(spark, out).collect()) == clean

    # crash window: un-mark one committed batch and tear its data
    bid, parts = None, []
    for m in sorted(os.listdir(os.path.join(out, "_batches"))):
        cand = glob.glob(os.path.join(out, f"cf_batch={m}", "part-*.parquet"))
        if cand:
            bid, parts = m, cand
            break
    assert bid is not None
    os.remove(os.path.join(out, "_batches", bid))
    shutil.copy(parts[0], parts[0].replace("part-", "part-dup-"))

    raw = spark.read.parquet(out).drop("cf_batch").collect()
    guarded = read_stream_capture(spark, out).collect()
    # raw read sees the torn batch (duplicated rows) — the documented gap
    assert len(raw) > len(clean)
    # the guarded reader sees only still-marked batches: a strict subset
    # of the clean capture (the unmarked batch is hidden), no torn rows
    assert len(guarded) < len(clean)
    assert all(tuple(r) in set(clean) for r in guarded)

    # healing replay restores the marker; guarded == clean again
    healed = sorted(
        tuple(r)
        for r in run_stream_click_attribution_replay(
            spark, SF_DIR, out_path=out
        ).collect()
    )
    assert healed == clean
    assert (
        sorted(tuple(r) for r in read_stream_capture(spark, out).collect()) == clean
    )


def test_read_stream_capture_zero_rows_before_first_marker(spark, tmp_path):
    """r12 (ADVICE): a crash after the FIRST cf_batch dir was written but
    before its marker leaves NO _batches dir at all (the marker's
    createNewFile creates the parent). The no-manifest branch must not
    mistake that for a complete-mode capture and surface the torn,
    uncommitted rows — the cf_batch partition column identifies it as an
    append capture with zero committed batches, which reads as zero rows
    (and without the stray cf_batch column)."""
    import os
    import shutil

    from clusterforge_spark.streaming.sessionize import (
        read_stream_capture,
        run_stream_click_attribution_replay,
    )
    from tests.conftest import SF_DIR

    out = str(tmp_path / "cap")
    run_stream_click_attribution_replay(spark, SF_DIR, out_path=out)
    # simulate the pre-first-marker crash: drop the whole manifest and
    # every batch dir but the first — what remains is exactly the state
    # after batch 0's data write with no marker ever created
    shutil.rmtree(os.path.join(out, "_batches"))
    batch_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("cf_batch=")
    )
    for d in batch_dirs[1:]:
        shutil.rmtree(os.path.join(out, d))

    guarded = read_stream_capture(spark, out)
    assert "cf_batch" not in guarded.columns
    assert guarded.count() == 0
    # drop_batch_col=False keeps the partition column but still no rows
    kept = read_stream_capture(spark, out, drop_batch_col=False)
    assert "cf_batch" in kept.columns
    assert kept.count() == 0
    # a complete-mode capture (no cf_batch column) is still passed through
    comp = str(tmp_path / "comp")
    spark.range(5).write.parquet(comp)
    assert read_stream_capture(spark, comp).count() == 5


def test_default_replay_dirs_keyed_per_app_and_sf(spark):
    """r7 ADVICE: two concurrent runs (different apps, or two scales in
    one app) must never share a default capture dir — the dir is keyed
    by (applicationId, sf_dir hash, tag)."""
    from clusterforge_spark.streaming.sessionize import _replay_out_dir
    from tests.conftest import SF_DIR

    a = _replay_out_dir(None, "hourly", spark, SF_DIR)
    b = _replay_out_dir(None, "hourly", spark, "/root/testdata/sf0.01")
    assert a != b, "two scales must not share a capture dir"
    assert spark.sparkContext.applicationId in a
    # explicit out_path passes through untouched
    assert _replay_out_dir("/x/y", "hourly", spark, SF_DIR) == "/x/y"


def test_stream_ann_ingest_matches_batch_assignment(spark, embeddings, tmp_path):
    """r8: the streaming ANN ingest (foreachBatch assignment against a
    static codebook) captures exactly the batch posting lists."""
    from clusterforge_spark.operators import similarity as SIM
    from clusterforge_spark.streaming.sessionize import (
        run_stream_ann_ingest_replay,
    )
    from tests.conftest import SF_DIR

    cells = SIM.ivf_kcell_cells(
        embeddings, SIM._kcell_n_cells(embeddings)
    ).cache()
    got = {
        (r.vec_id, r.cell)
        for r in run_stream_ann_ingest_replay(
            spark, SF_DIR, cells, out_path=str(tmp_path / "annin")
        ).collect()
    }
    want = {
        (r.vec_id, r.cell)
        for r in SIM._assign_packed(embeddings, SIM._pack_cells(cells))
        .select("vec_id", "cell")
        .collect()
    }
    assert got == want and len(got) > 0
    cells.unpersist(blocking=True)


def test_replay_harness_restores_session_and_cleans_up(spark, tmp_path, monkeypatch):
    """run_stream_replay_to_parquet leaves nothing behind, on success and
    when a micro-batch fails: no streaming query stays active, the
    session's shuffle-partition count is back to its value before the
    call, and the run's fresh checkpoint dir is removed. The failing
    replay raises instead of returning a partial capture."""
    import os

    from pyspark.errors import StreamingQueryException

    from clusterforge_spark.streaming.sessionize import (
        _scratch_root,
        hourly_user_counts,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path / "rt"))
    ckpt_root = os.path.join(_scratch_root(), "ckpt")
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")

    def assert_clean():
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts_before
        assert os.listdir(ckpt_root) == []

    out = run_stream_replay_to_parquet(
        spark,
        hourly_user_counts(read_events_stream(spark, SF_DIR)),
        str(tmp_path / "ok"),
        "complete",
    )
    assert out.count() > 0
    assert_clean()

    def failing_transform(batch_df):
        raise RuntimeError("planted batch_transform failure")

    with pytest.raises(StreamingQueryException, match="planted batch_transform failure"):
        run_stream_replay_to_parquet(
            spark,
            read_events_stream(spark, SF_DIR),
            str(tmp_path / "bad"),
            "append",
            batch_transform=failing_transform,
        )
    assert_clean()
