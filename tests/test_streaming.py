"""Streaming surface tests: bounded runs with availableNow, asserted
against batch equivalents (SURVEY.md §7.3: anchor streaming to batch
equivalence)."""

from pyspark.sql import functions as F

from pygr_spark.streaming.events import (
    normalize_event_ts,
    read_events_stream,
    run_stream_to_table,
    session_counts,
    tumbling_counts,
)


def test_interval_join_streams_matches_batch(spark, sf_dir):
    """Stream-stream time-interval join == the batch interval join
    when the bounded source drains fully (inner join; watermark only
    bounds state)."""
    from pygr_spark.streaming.events import interval_join_streams

    stream = read_events_stream(spark, sf_dir)
    clicks = stream.filter("event_type = 'click'").select(
        "event_id", "user_id", "event_time"
    )
    views = stream.filter("event_type = 'view'").select(
        "event_id", "user_id", "event_time"
    )
    j = interval_join_streams(
        clicks, views, key="user_id", within="4 hours", watermark="12 hours"
    )
    assert j.isStreaming
    got = run_stream_to_table(j, spark, mode="append")

    batch = normalize_event_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).withColumn("event_time", F.timestamp_micros(F.expr("ts DIV 1000")))
    b = batch.alias("l").join(
        batch.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("l.event_type") == F.lit("click"))
        & (F.col("r.event_type") == F.lit("view"))
        & (F.col("r.event_time") >= F.col("l.event_time"))
        & (F.col("r.event_time") <= F.col("l.event_time") + F.expr("INTERVAL 4 hours")),
    )
    want = sorted(
        (r.cid, r.vid)
        for r in b.select(
            F.col("l.event_id").alias("cid"), F.col("r.event_id").alias("vid")
        ).collect()
    )
    assert sorted((r.event_id, r.r_event_id) for r in got.collect()) == want
    assert len(want) > 0


def test_tumbling_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_stream_to_table(tumbling_counts(stream), spark)

    batch = normalize_event_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).withColumn("event_time", F.timestamp_micros(F.expr("ts DIV 1000")))
    want = (
        batch.groupBy(F.window("event_time", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events")
    )
    g = {(r.win_start, r.event_type): r.n_events for r in got.collect()}
    w = {(r.win_start, r.event_type): r.n_events for r in want.collect()}
    assert g == w and len(g) > 0


def test_session_counts_run(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    got = run_stream_to_table(session_counts(stream), spark)
    rows = got.collect()
    assert len(rows) > 0
    # session totals must preserve all events
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n_events for r in rows) == n_events


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event arriving after the watermark has
    passed its window is excluded from append-mode results."""
    import time

    from pygr_spark.streaming.events import run_stream_to_table, tumbling_counts

    indir = tmp_path / "wm_in"
    indir.mkdir()
    base = 1_700_000_000  # fixed epoch seconds

    def write(name, rows):
        spark.createDataFrame(rows, "event_type string, sec long").selectExpr(
            "event_type", "timestamp_seconds(sec) as event_time"
        ).coalesce(1).write.parquet(str(indir / name))
        time.sleep(1.1)  # distinct mtimes -> stable file order

    # batch1: fresh events at T and T+2h (watermark -> T+2h-30m at
    # batch end); batch2: another fresh event (the new watermark takes
    # effect as the admission filter one batch later); batch3: a VERY
    # late event back at T — now behind the active watermark
    write("b1", [("ok", base), ("ok", base + 7200)])
    write("b2", [("ok", base + 7300)])
    write("b3", [("late", base + 1)])

    stream = (
        spark.readStream.schema("event_type string, event_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("recursiveFileLookup", "true")
        .parquet(str(indir))
    )
    got = run_stream_to_table(
        tumbling_counts(stream.withColumn("value", F.lit(0.0))),
        spark,
        mode="append",
    )
    types = {r.event_type for r in got.collect()}
    assert "ok" in types
    assert "late" not in types  # dropped by the watermark


def test_stream_source_handles_directory_parquet(spark, sf_dir, tmp_path):
    """Scaled/production event tables are Spark-written DIRECTORIES,
    not single files; the symlink shim must link part-files so the
    file source sees them (a linked nested dir streams zero rows)."""
    import os

    from pygr_spark.streaming.events import read_events_stream, run_stream_to_table

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path / "evdir")
    src.limit(200).repartition(3).write.parquet(d)
    os.rename(d, str(tmp_path / "events.parquet"))
    stream = read_events_stream(spark, str(tmp_path))
    out = run_stream_to_table(
        stream.groupBy("event_type").count(), spark
    )
    assert out.agg({"count": "sum"}).first()[0] == 200


def test_stream_source_handles_hive_partitioned_parquet(spark, sf_dir, tmp_path):
    """Hive-partitioned event tables nest part-files under key=value
    dirs; the symlink shim must mirror the tree (round-4's flat link
    loop streamed zero rows here) and the file source's partition
    discovery must rehydrate the partition column from the dir names."""
    import os

    from pygr_spark.streaming.events import read_events_stream, run_stream_to_table

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = str(tmp_path / "evdir")
    src.limit(200).write.partitionBy("event_type").parquet(d)
    os.rename(d, str(tmp_path / "events.parquet"))
    stream = read_events_stream(spark, str(tmp_path))
    out = run_stream_to_table(stream.groupBy("event_type").count(), spark)
    rows = out.collect()
    assert sum(r["count"] for r in rows) == 200
    # partition column restored from the dir names, not null
    batch_types = {
        r.event_type for r in src.limit(200).select("event_type").collect()
    }
    assert {r.event_type for r in rows} == batch_types


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics: two availableNow runs sharing one
    checkpoint over a growing file source must process every file
    exactly once — the second run picks up ONLY the new file, and the
    final sink holds each row exactly once (file-source offsets + sink
    dedup by checkpoint, Spark's exactly-once contract)."""
    import pyspark.sql.functions as SF

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(
        1
    ).write.parquet(str(src / "f1"))

    def drain():
        stream = (
            spark.readStream.schema("id long, v string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(str(sink)).collect()
    assert sorted(r.id for r in first) == [1, 2]

    # new data lands between runs; resume from the same checkpoint
    spark.createDataFrame([(3, "c")], "id long, v string").coalesce(
        1
    ).write.parquet(str(src / "f2"))
    drain()
    final = spark.read.parquet(str(sink)).groupBy("id").agg(
        SF.count("*").alias("n")
    ).collect()
    # every id exactly once — no reprocessing of f1, no loss of f2
    assert {r.id: r.n for r in final} == {1: 1, 2: 1, 3: 1}


def test_cdc_apply_state_independent_of_batch_split(spark, sf_dir):
    """The foreachBatch merge is associative+commutative, so draining
    the same stream as 2 files or 4 files must produce byte-identical
    state tables (admission order cannot matter)."""
    from pygr_spark.streaming.stateful import cdc_apply_stream

    a, n_a = cdc_apply_stream(spark, sf_dir, n_source_files=2)
    b, n_b = cdc_apply_stream(spark, sf_dir, n_source_files=4)
    assert n_a >= 2 and n_b >= 4
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b


def test_cdc_apply_resume_is_noop(spark, sf_dir, tmp_path):
    """Relaunching the CDC sink with the same work dir must read the
    durable pointer + checkpoint, admit zero new files, merge
    nothing, and return the identical state table."""
    from pygr_spark.streaming.stateful import cdc_apply_stream

    work = str(tmp_path / "cdc")
    first, n1 = cdc_apply_stream(spark, sf_dir, n_source_files=3, work_dir=work)
    rows1 = sorted(map(tuple, first.collect()))
    assert n1 >= 3
    second, n2 = cdc_apply_stream(spark, sf_dir, n_source_files=3, work_dir=work)
    assert n2 == n1  # no batch re-applied on resume
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2


def test_cdc_apply_redelivery_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash between the durable
    pointer write and the checkpoint commit redelivers already-applied
    batch ids. Simulate the worst case — wipe the checkpoint so EVERY
    file is redelivered with its original bid — and assert the durable
    last-applied bid in the pointer makes each redelivery a no-op
    (sum(n_versions) would otherwise double)."""
    import shutil

    from pygr_spark.streaming.stateful import cdc_apply_stream

    work = str(tmp_path / "cdc")
    first, n1 = cdc_apply_stream(spark, sf_dir, n_source_files=3, work_dir=work)
    rows1 = sorted(map(tuple, first.collect()))
    # lose the checkpoint (the commit never landed) but keep the
    # pointer + state: availableNow redelivers files as bids 0..n-1
    shutil.rmtree(f"{work}/ckpt")
    second, n2 = cdc_apply_stream(spark, sf_dir, n_source_files=3, work_dir=work)
    assert n2 == n1  # every redelivered bid skipped
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2
