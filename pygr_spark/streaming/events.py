"""Event-stream operators: tumbling/sliding/session windows with
watermarked late-data handling, plus a bounded-run helper.

The reference has no streaming engine (SURVEY.md §2.9); its closest
analogs are block-buffered iteration (cnestedlist.pyx:242-270) and the
restartable-iterator protocol (tests/restartIterator_megatest.py).
Structured Streaming supersedes both: checkpointed offsets give
restartability, micro-batches give block buffering. pygr's maxgap
gap-merge (cnestedlist.pyx:800-840) in the time domain is exactly
``session_window(ts, gap)`` — asserted against the batch gap_merge in
tests/test_streaming.py.

At scale: state store is keyed by (user, window); watermarks bound the
state; these run unchanged on a real cluster with a durable
checkpoint location.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events table's ``ts`` column to ns-since-epoch
    (bigint) regardless of how the parquet shipped it.

    The driver's testdata has carried ``ts`` as TIMESTAMP(NANOS)
    (which Spark reads as a ns long under
    ``spark.sql.legacy.parquet.nanosAsLong``) and, in newer
    generations, as timestamp[us] (read as TIMESTAMP_NTZ). Every
    engine operator assumes the ns-long contract, so convert the
    timestamp flavors here. The naive (NTZ) flavor is interpreted as
    UTC to match DuckDB's ``epoch_ns`` — via pure field extraction
    (timezone-free on TIMESTAMP_NTZ), NOT by mutating
    ``spark.sql.session.timeZone``, which would leak order-dependent
    global state into every later timezone-sensitive expression."""
    dt = dict(df.dtypes).get("ts", "")
    if dt == "timestamp_ntz":
        c = F.col("ts")
        micros = (
            (
                F.datediff(c.cast("date"), F.lit("1970-01-01")).cast("long")
                * 86400
                + F.hour(c).cast("long") * 3600
                + F.minute(c).cast("long") * 60
            )
            * 1000000
            # SECOND extracts a decimal(8,6) incl. the µs fraction;
            # ×1e6 is exact, so the cast to long is lossless
            + (
                F.expr("extract(SECOND FROM ts)") * F.lit(1000000)
            ).cast("long")
        )
        df = df.withColumn("ts", (micros * 1000).cast("long"))
    elif dt.startswith("timestamp"):
        # instant-typed column: unix_micros is timezone-independent
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts")) * F.lit(1000)
        )
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events.parquet with a
    proper event-time column (ns long → timestamp)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(src)
    # the file source requires a directory — expose the single driver
    # file through a temp dir of symlinks (testdata is read-only).
    # A DIRECTORY source (e.g. a Spark-written scaled copy) must have
    # its part-files linked individually: the file source does not
    # recurse into a nested directory, so linking the dir itself
    # would stream zero rows.
    d = tempfile.mkdtemp(prefix="pygr_spark_stream_")
    if os.path.isdir(src):
        # Mirror the directory tree (not just the top level): a
        # Hive-partitioned table keeps part-files under nested
        # key=value dirs, and the file source's partition discovery
        # needs that structure preserved — flattening the links
        # would stream rows with the partition columns missing,
        # while linking the dir itself would stream zero rows.
        for root, _dirs, files in os.walk(src, followlinks=True):
            rel = os.path.relpath(root, src)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                tgt_dir = d if rel == "." else os.path.join(d, rel)
                os.makedirs(tgt_dir, exist_ok=True)
                os.symlink(os.path.join(root, f), os.path.join(tgt_dir, f))
    else:
        os.symlink(src, os.path.join(d, "events.parquet"))
    stream = normalize_event_ts(spark.readStream.schema(batch.schema).parquet(d))
    return stream.withColumn("event_time", F.timestamp_micros(F.expr("ts DIV 1000")))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per event_type counts in 5-minute tumbling event-time windows
    (30-minute watermark)."""
    return (
        events.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap, 2-hour watermark) —
    pygr's maxgap merge in time domain."""
    return (
        events.withWatermark("event_time", "2 hours")
        .groupBy(F.session_window("event_time", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding 10-minute event-time windows every 5 minutes (each
    event lands in two overlapping windows; 30-minute watermark)."""
    return (
        events.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "10 minutes", "5 minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Watermarked (1 hour) exactly-once by event_id (late-data dedup
    policy)."""
    return events.withWatermark("event_time", "1 hour").dropDuplicates(
        ["event_id"]
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream time-interval join: each left event pairs with
    the right-stream events for the same ``key`` whose ``event_time``
    falls in ``[left_time, left_time + within]`` — pygr's interval
    overlap join (J1) with one endpoint open-ended, in the time
    domain over two unbounded streams.

    Both sides are watermarked so the join state is BOUNDED: a right
    row can be dropped once the left watermark passes beyond its
    reach (Structured Streaming derives the state retention from the
    time-bound condition — this is the canonical watermarked
    stream-stream join, and the reason the time bound is mandatory
    at scale: without it state grows forever).
    """
    l = left.withWatermark("event_time", watermark).select(
        F.col(key).alias("_lk"),
        F.col("event_time").alias("_lt"),
        *[c for c in left.columns if c not in (key, "event_time")],
    )
    r = right.withWatermark("event_time", watermark).select(
        F.col(key).alias("_rk"),
        F.col("event_time").alias("_rt"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key, "event_time")
        ],
    )
    return l.join(
        r,
        (F.col("_lk") == F.col("_rk"))
        & (F.col("_rt") >= F.col("_lt"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"INTERVAL {within}")),
    ).drop("_rk")


def run_stream_to_table(
    df: DataFrame, spark: SparkSession, mode: str | None = None
) -> DataFrame:
    """Run a (bounded) streaming query to completion into an in-memory
    sink and return the materialized batch DataFrame. Uses
    Trigger.AvailableNow so the file source drains and stops.

    ``mode`` defaults to complete for aggregations (all windows
    visible, watermark does not evict) and append otherwise; pass
    ``mode="append"`` explicitly to observe watermark late-data
    dropping on an aggregation."""
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="pygr_spark_ckpt_")
    if mode is None:
        mode = "append" if df.isStreaming and not _has_aggregation(df) else "complete"
    # the state-store partition count is fixed at the FIRST run of a
    # checkpoint from spark.sql.shuffle.partitions; a vanilla session
    # defaults to 200, which is pure overhead for a bounded drain —
    # scope it to the cluster parallelism for this query only
    old = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan
