"""Sinks: partitioned parquet, CSV, and bucketed tables.

The reference's only sinks are console text and PNG files (viz.rs:53,
viz.rs:122); a real engine needs durable columnar output. The bucketed
writer is the 100 TB join story: two fact tables bucketed (and sorted)
by their join key join WITHOUT any shuffle — at petabyte scale the
shuffle is the cost, so pre-bucketing pays for itself after one join.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet: partition columns become directory keys, so
    downstream reads with a partition predicate prune whole directories
    (visible as PartitionFilters in the scan)."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) managed table.

    Both sides of a frequent join written with the same bucket spec join
    with zero exchanges (SortMergeJoin reads co-located buckets
    directly) — see tests/test_sinks.py for the plan assertion.
    """
    spark = df.sparkSession
    if mode == "overwrite":
        # a fresh session's in-memory catalog forgets the table but its
        # location survives on disk — drop both or saveAsTable errors
        # with LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        if warehouse.startswith("file:"):
            warehouse = warehouse[len("file:"):]
        loc = os.path.join(warehouse, table.lower())
        if warehouse and os.path.isdir(loc):
            shutil.rmtree(loc)
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar container Spark ships natively;
    same predicate-pushdown/column-pruning story as parquet."""
    df.write.mode(mode).orc(path)


def write_jsonl(
    df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = None
) -> None:
    """JSON-lines sink — the interchange format of LLM training corpora.

    One file per partition, schema carried in every record; pair with
    ``sources/readers.read_jsonl`` (schema-pinned, corrupt-record
    quarantine) for the read side. Compression (gzip/zstd) trades CPU
    for the 5-10× text-ratio that dominates at 100 TB."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def compact_small_files(
    spark: "SparkSession",
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~target_bytes. The perennial maintenance job — streaming sinks and
    over-parallel writers leave thousands of KB-sized files whose
    open/footer cost dominates scans at 100 TB.

    Sizes the output from the CURRENT on-disk bytes (not row counts),
    coalesces — no shuffle, just partition concatenation — and
    stage-swaps atomically enough for a maintenance window. Returns the
    number of files written.
    """
    import glob

    files = glob.glob(os.path.join(path, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, int(total / target_bytes) + (1 if total % target_bytes else 0))
    df = spark.read.parquet(path)
    staged = df.coalesce(n_out).localCheckpoint(eager=True)
    staged.write.mode("overwrite").parquet(path)
    return n_out


def _money_total_expr():
    """Exact-cents money aggregate shared by every orders proof in this
    module: floor-to-cents → decimal(38,0) sum → double, 2dp — ONE
    definition so the cents convention can't drift between the proofs
    (each has a DuckDB oracle mirroring this exact op order)."""
    from pyspark.sql import functions as F

    from clusterforge_spark.functions.rounding import cents_sql

    return F.expr(
        f"round(cast(sum(cast({cents_sql('o_totalprice')} as decimal(38,0)))"
        " as double) / 100.0, 2)"
    ).alias("total_value")


def _scratch_dir(tag: str) -> str:
    """Deterministic scratch location for the connector roundtrip proofs:
    one fixed directory per proof, overwritten on every invocation, so
    repeated runs (bench warm + timed legs, both correctness scales)
    reuse the same disk instead of leaking a fresh mkdtemp copy per
    call — unbounded /tmp growth on a long-lived box otherwise."""
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "clusterforge_rt", tag)
    os.makedirs(d, exist_ok=True)
    return d


def roundtrip_jsonl_doc_stats(documents: DataFrame, base_dir: str | None = None) -> DataFrame:
    """JSONL connector proof: write the documents table through the
    JSON-lines sink, read it back through the schema-pinned source, and
    aggregate per language — counts, exact char sums, and the
    roundtripped text length, so any sink/source fidelity loss (quoting,
    escaping, encoding) breaks the oracle compare.

    The write executes when the plan is BUILT (a connector test is a
    side effect by nature); data lands in a fixed per-proof scratch dir
    (:func:`_scratch_dir`), overwritten each run. At scale this is the
    standard export→re-ingest validation pass, map-only on both legs.
    """
    from pyspark.sql import functions as F

    from clusterforge_spark.sources.readers import read_jsonl

    spark = documents.sparkSession
    sel = documents.select("doc_id", "lang", "source", "text", "n_chars")
    path = os.path.join(
        base_dir or _scratch_dir("jsonl"), "docs_jsonl"
    )
    write_jsonl(sel, path)
    back = read_jsonl(spark, path, sel.schema)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


def roundtrip_orc_order_stats(orders: DataFrame, base_dir: str | None = None) -> DataFrame:
    """ORC connector proof: orders through the ORC sink and back, then
    an exact-cent revenue aggregate per status — exact cents sums make
    any value-level roundtrip corruption a hard oracle failure. Same
    eager-write contract as :func:`roundtrip_jsonl_doc_stats`."""
    from pyspark.sql import functions as F

    spark = orders.sparkSession
    sel = orders.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    path = os.path.join(base_dir or _scratch_dir("orc"), "orders_orc")
    write_orc(sel, path)
    back = spark.read.schema(sel.schema).orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _money_total_expr(),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_date"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_date"),
    )


def roundtrip_csv_doc_stats(documents: DataFrame, base_dir: str | None = None) -> DataFrame:
    """CSV connector proof — the trickiest text container (quoting,
    embedded newlines/commas, header round-trip): documents through the
    CSV sink and back with an explicit schema + multiLine, then the same
    per-language aggregate as the JSONL proof, so any quoting or
    escaping loss diverges from the oracle.
    """
    from pyspark.sql import functions as F

    spark = documents.sparkSession
    sel = documents.select("doc_id", "lang", "source", "text", "n_chars")
    path = os.path.join(base_dir or _scratch_dir("csv"), "docs_csv")
    sel.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(path)
    back = (
        spark.read.schema(sel.schema)
        .option("header", True)
        .option("multiLine", True)  # quoted embedded newlines stay one record
        .csv(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


def partition_pruned_read(orders: DataFrame, base_dir: str | None = None) -> DataFrame:
    """Partition-pruning proof: write orders partitioned by status, read
    back with a partition predicate — the scan must touch only the 'F'
    directory (PartitionFilters, asserted in tests/test_plans.py) — and
    aggregate by priority with exact money sums. The oracle computes the
    same filtered aggregate from the source table, so a pruning bug that
    drops or double-reads a partition is a value-level failure, not just
    a slow plan.
    """
    from pyspark.sql import functions as F

    spark = orders.sparkSession
    sel = orders.select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    path = os.path.join(
        base_dir or _scratch_dir("part"), "orders_by_status"
    )
    write_parquet(sel, path, partition_by=["o_orderstatus"])
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _money_total_expr(),
    )


def dpp_join_pruned(orders: DataFrame, base_dir: str | None = None) -> DataFrame:
    """DYNAMIC-partition-pruning proof (the join-driven sibling of
    :func:`partition_pruned_read`, whose predicate is static): write
    orders partitioned by status, then join the partitioned FACT scan
    to a small filtered dimension on the PARTITION column. Catalyst
    plants a ``dynamicpruning#`` subquery into the fact scan's
    PartitionFilters (asserted by tests/test_plans.py::
    test_dpp_join_pruned_plan), so at run time only the partition
    directories matching the dim filter are read — the mechanism that
    turns a 100 TB date-partitioned fact join into a scan of just the
    dim-selected dates. The dim filter ('closed' → status F) is opaque
    to static pruning: only DPP can prune here.

    Result: the same per-priority aggregate as the static twin, so a
    pruning bug that drops or double-reads a partition is a value-level
    oracle failure, not just a slow plan."""
    from pyspark.sql import functions as F

    spark = orders.sparkSession
    sel = orders.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    path = os.path.join(base_dir or _scratch_dir("dpp"), "orders_by_status")
    write_parquet(sel, path, partition_by=["o_orderstatus"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, category string",
    )
    return (
        fact.join(F.broadcast(dim), "o_orderstatus")
        .filter(F.col("category") == "closed")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _money_total_expr(),
        )
    )


#: deterministic derived channel values for the schema-evolution proof
EVOLUTION_CHANNELS = ("web", "store", "mobile")


def roundtrip_schema_evolution(
    orders: DataFrame, base_dir: str | None = None
) -> DataFrame:
    """Schema-evolution connector proof: two parquet batches with
    DIFFERENT schemas — batch=1 written before an ``o_channel`` column
    existed, batch=2 with it — land under one root; the read-back uses
    ``mergeSchema`` so the unified frame carries the new column with
    NULLs for the pre-evolution rows. This is the additive-column
    migration every long-lived lake table goes through; the proof pins
    that Spark's merge neither drops old rows nor invents channel
    values for them.

    Batch membership and the channel derivation are md5/modulo
    arithmetic on o_orderkey (engine-identical), so the DuckDB oracle
    recomputes the expected union from the SOURCE table — any fidelity
    loss in the write→merge→read leg breaks the aggregate compare.
    Same eager-write scratch-dir contract as the other roundtrips.
    """
    from pyspark.sql import functions as F

    spark = orders.sparkSession
    h = F.expr(
        "pmod(cast(conv(substr(md5(cast(o_orderkey as string)), 1, 15), 16, 10)"
        " as bigint), 2)"
    )
    chan_arr = F.array(*[F.lit(c) for c in EVOLUTION_CHANNELS])
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", h.alias("_b")
    )
    root = os.path.join(base_dir or _scratch_dir("evolve"), "orders_evolve")
    v1 = base.filter(F.col("_b") == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = base.filter(F.col("_b") == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.element_at(
            chan_arr, F.pmod(F.col("o_orderkey"), F.lit(3)).cast("int") + F.lit(1)
        ).alias("o_channel"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return back.groupBy("o_orderstatus", "o_channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        _money_total_expr(),
    )
