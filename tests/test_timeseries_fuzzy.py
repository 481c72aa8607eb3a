"""resample_ffill (operators/timeseries.py) and edit_distance_join
(operators/dedup.py) — golden semantics on tiny hand-checked inputs."""

from pyspark.sql import functions as F

from pygr_spark.operators.dedup import edit_distance_join
from pygr_spark.operators.timeseries import resample_ffill

NS = 1_000_000_000


def test_resample_ffill_fills_gaps_and_marks_observed(spark):
    rows = [
        # user 1: obs at t=5s (v=10) and t=125s (v=30) → buckets 0,60,120
        (1, 5 * NS, 10, 1),
        (1, 125 * NS, 30, 2),
        # user 2: single observation → single bucket
        (2, 61 * NS, 7, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, v long, event_id long"
    )
    out = resample_ffill(
        df, key="user_id", ts_ns="ts", value="v", step_s=60,
        order_tiebreak="event_id",
    )
    got = {
        (r.user_id, r.bucket_start_s): (r.v, r.observed)
        for r in out.collect()
    }
    assert got == {
        (1, 0): (10, 1),
        (1, 60): (10, 0),   # gap bucket carries 10 forward
        (1, 120): (30, 1),
        (2, 60): (7, 1),
    }


def test_resample_ffill_last_of_bucket_wins(spark):
    rows = [
        (1, 10 * NS, 1, 1),
        (1, 20 * NS, 2, 2),   # later ns wins the bucket
        (1, 20 * NS, 3, 3),   # same ns → higher event_id wins
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, v long, event_id long"
    )
    out = resample_ffill(
        df, key="user_id", ts_ns="ts", value="v", step_s=60,
        order_tiebreak="event_id",
    )
    assert [(r.bucket_start_s, r.v) for r in out.collect()] == [(0, 3)]


def test_edit_distance_join_finds_near_titles_within_block(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown fax"),      # dist 1, same prefix
        (3, "the quick brown foxes"),    # dist 2 vs id1, 3 vs id2
        (4, "a completely different"),
        (5, "xhe quick brown fox"),      # edit INSIDE prefix → not found
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    out = edit_distance_join(
        df, df, "title", max_dist=2, block_prefix=8
    )
    got = {(r.id_a, r.id_b): r.dist for r in out.collect()}
    assert got == {(1, 2): 1, (1, 3): 2}
    # documented blocking caveat: id5's edit at position 0 leaves the block
    assert not any(5 in p for p in got)


def test_edit_distance_join_emits_each_pair_once(spark):
    df = spark.createDataFrame(
        [(i, "same title!") for i in range(4)], "doc_id long, title string"
    )
    out = edit_distance_join(df, df, "title", max_dist=0)
    pairs = [(r.id_a, r.id_b) for r in out.collect()]
    assert sorted(pairs) == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    assert all(a < b for a, b in pairs)


def test_chunk_udtf_fanout_and_ragged_tail(spark):
    from pygr_spark.functions.udtfs import chunk_udtf

    spark.udtf.register("chunks3", chunk_udtf(3))
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "")],
        "doc_id long, text string",
    ).createOrReplaceTempView("_t_udtf")
    got = {
        (r.doc_id, r.chunk_no): (r.chunk, r.n_tokens)
        for r in spark.sql(
            "SELECT s.* FROM _t_udtf d, LATERAL chunks3(d.doc_id, d.text) s"
        ).collect()
    }
    assert got == {
        (1, 1): ("a b c", 3),
        (1, 2): ("d e", 2),        # ragged tail
        (2, 1): ("x", 1),
        (3, 1): ("", 1),           # ''.split(' ') == [''] — one empty token
    }
