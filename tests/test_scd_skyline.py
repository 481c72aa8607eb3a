"""scd2_from_changelog / cdc_compact (operators/scd.py),
pareto_front (operators/skyline.py) and seed_extend_join
(operators/similarity.py) — golden semantics on hand-checked inputs."""

from pyspark.sql import functions as F

from pygr_spark.operators.scd import cdc_compact, scd2_from_changelog
from pygr_spark.operators.skyline import pareto_front
from pygr_spark.operators.similarity import seed_extend_join


def test_scd2_collapses_consecutive_duplicates(spark):
    rows = [
        (1, 10, 100, "a"),
        (1, 20, 101, "a"),   # same state → same run
        (1, 30, 102, "b"),   # change → new run
        (1, 40, 103, "a"),   # back to a → THIRD run (not merged with first)
        (2, 15, 104, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, st string")
    out = scd2_from_changelog(
        df, key="k", ts="ts", state_cols=["st"], tiebreak="eid"
    )
    got = sorted(
        (r.k, r.st, r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    )
    assert got == [
        (1, "a", 10, 30, 0),
        (1, "a", 40, None, 1),
        (1, "b", 30, 40, 0),
        (2, "x", 15, None, 1),
    ]


def test_scd2_null_state_is_a_state(spark):
    rows = [(1, 10, 1, None), (1, 20, 2, None), (1, 30, 3, "a")]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, st string")
    out = scd2_from_changelog(
        df, key="k", ts="ts", state_cols=["st"], tiebreak="eid"
    )
    got = sorted(
        ((r.st, r.valid_from, r.valid_to) for r in out.collect()),
        key=lambda t: (t[0] or "", t[1]),
    )
    # the two null-state rows collapse into ONE run (null <=> null)
    assert got == [(None, 10, 30), ("a", 30, None)]


def test_scd2_equal_ts_breaks_on_tiebreak(spark):
    rows = [(1, 10, 2, "b"), (1, 10, 1, "a")]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, st string")
    out = scd2_from_changelog(
        df, key="k", ts="ts", state_cols=["st"], tiebreak="eid"
    )
    got = sorted((r.st, r.is_current) for r in out.collect())
    assert got == [("a", 0), ("b", 1)]  # eid 1 first, eid 2 current


def test_cdc_compact_latest_wins_and_tombstone_drops(spark):
    rows = [
        (1, 10, 1, "upsert", 5),
        (1, 20, 2, "upsert", 7),    # newest for key 1 → wins
        (2, 10, 3, "upsert", 9),
        (2, 30, 4, "delete", 0),    # newest is tombstone → key 2 gone
        (3, 10, 5, "delete", 0),
        (3, 20, 6, "upsert", 4),    # delete then re-insert → key 3 lives
    ]
    df = spark.createDataFrame(
        rows, "k long, ts long, eid long, op string, v long"
    )
    out = cdc_compact(df, key="k", ts="ts", op_col="op", tiebreak="eid")
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [(1, 7), (3, 4)]


def test_pareto_front_dominance_and_ties(spark):
    rows = [
        # group g: (5,5) dominates (4,5),(5,4),(3,3); frontier also (2,9)
        ("g", 1, 5, 5),
        ("g", 2, 4, 5),
        ("g", 3, 5, 4),
        ("g", 4, 3, 3),
        ("g", 5, 2, 9),
        # duplicates of a frontier point both survive
        ("g", 6, 5, 5),
        # other group independent
        ("h", 7, 1, 1),
    ]
    df = spark.createDataFrame(rows, "grp string, id long, x long, y long")
    out = pareto_front(df, group="grp", x="x", y="y")
    got = sorted(r.id for r in out.collect())
    assert got == [1, 5, 6, 7]


def test_pareto_front_same_x_higher_y_dominates(spark):
    rows = [("g", 1, 5, 5), ("g", 2, 5, 6)]
    df = spark.createDataFrame(rows, "grp string, id long, x long, y long")
    out = pareto_front(df, group="grp", x="x", y="y")
    assert [r.id for r in out.collect()] == [2]


def test_seed_extend_scores_match_and_mismatch(spark):
    # two docs: identical 20-char seed, then 4 matching chars, then
    # diverge hard. Left of seed: nothing (seed starts at pos 1).
    seed = "ABCDEFGHIJKLMNOPQRST"
    a = seed + "WXYZ" + "111111"
    b = seed + "WXYZ" + "222222"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = seed_extend_join(
        df, min_seeds=1, max_kmer_docs=None, window=40
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # shared k-mers: the seed window slides over the matching prefix —
    # positions 1..5 of the 24-char common prefix give 5 shared 20-mers
    assert r.n_seeds == 5
    # best seed is at pos 1: 20 (seed) + right ext best prefix
    # right chars: WXYZ match (+4) then 6 mismatches (-2 each) →
    # best prefix = 4; left ext = 0 → 24
    assert r.best_score == 24


def test_seed_extend_left_extension_counts(spark):
    seed = "ABCDEFGHIJKLMNOPQRST"
    # common prefix "MM" BEFORE the seed; k-mer at pos 3 in both
    a = "MM" + seed + "0000"
    b = "MM" + seed + "9999"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    out = seed_extend_join(
        df, min_seeds=1, max_kmer_docs=None, window=40
    )
    r = out.collect()[0]
    # 3 shared 20-mers (positions 1,2,3 of the 22-char common prefix)
    assert r.n_seeds == 3
    # the pos-1 seed ("MM"+18): right ext = 2 matches then mismatches
    # → 20+2+0 = 22; the pos-3 seed: left "MM" (+2), right mismatch →
    # 20+0+2 = 22. best_score = 22 either way.
    assert r.best_score == 22


def test_seed_extend_window_caps_extension(spark):
    # identical 50-char texts: every shared k-mer sits on diagonal 0,
    # whose representative (first seed) is pos 1 — diagonal reduction
    # extends ONLY that seed. Uncapped (window=40) it scores
    # 20 + 0 left + 30 right = 50; capped at 5/direction it is
    # 20 + 0 + 5 = 25. Distinct k-mers: positions 1..20 (sliding off
    # the seed) plus the all-M 20-mer (first occurrence pos 21) = 21.
    text = "ABCDEFGHIJKLMNOPQRST" + "M" * 30
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    capped = seed_extend_join(
        df, min_seeds=1, max_kmer_docs=None, window=5
    ).collect()[0]
    assert capped.n_seeds == 21
    assert capped.best_score == 25
    full = seed_extend_join(
        df, min_seeds=1, max_kmer_docs=None, window=40
    ).collect()[0]
    assert full.best_score == 50
