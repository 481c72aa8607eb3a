from pygr_spark.operators.nlmsa import (
    build_alignment,
    invert_alignment,
    translated_similarity_join,
)
from pygr_spark.operators.overlap import overlap_join


def test_build_and_query_alignment(spark):
    # the aligned-ivals ingestion golden (reference nlmsa_test.py:135-151):
    # a[0:8] -> b[0:8]; a[12:20] -> c[0:8]
    pairs = spark.createDataFrame(
        [("a", 0, 8, "b", 0, 8), ("a", 12, 20, "c", 0, 8)],
        ["src_id", "src_start", "src_stop", "dst_id", "dst_start", "dst_stop"],
    )
    msa = build_alignment(pairs, bidirectional=True)
    q = spark.createDataFrame([("a", 0, 8)], ["id", "start", "stop"])
    hits = overlap_join(
        q, msa,
        left_id="id", left_start="start", left_stop="stop",
        right_id="src_id", right_start="src_start", right_stop="src_stop",
    )
    got = sorted((r.dst_id, r.dst_start, r.dst_stop) for r in hits.collect())
    assert got == [("b", 0, 8)]
    # bidirectional: query b finds a
    qb = spark.createDataFrame([("b", 0, 8)], ["id", "start", "stop"])
    hits_b = overlap_join(
        qb, msa,
        left_id="id", left_start="start", left_stop="stop",
        right_id="src_id", right_start="src_start", right_stop="src_stop",
    )
    assert [(r.dst_id,) for r in hits_b.collect()] == [("a",)]


def test_build_alignment_direction_and_self_mappings(spark):
    # a[0:8] -> b[0:8] plus a degenerate self-mapping a[0:8] -> a[0:8]
    pairs = spark.createDataFrame(
        [("a", 0, 8, "b", 0, 8), ("a", 0, 8, "a", 0, 8)],
        ["src_id", "src_start", "src_stop", "dst_id", "dst_start", "dst_stop"],
    )

    def rows(df):
        return sorted(
            (r.src_id, r.src_start, r.src_stop, r.dst_id, r.dst_start, r.dst_stop)
            for r in df.collect()
        )

    ab, ba, aa = ("a", 0, 8, "b", 0, 8), ("b", 0, 8, "a", 0, 8), ("a", 0, 8, "a", 0, 8)
    # defaults: both directions stored, the self-mapping pruned
    # (prune_self_mappings, nlmsa_utils.py:394-402)
    assert rows(build_alignment(pairs)) == [ab, ba]
    # one direction only: the inverse b -> a is not stored
    assert rows(build_alignment(pairs, bidirectional=False)) == [ab]
    # no pruning: the self-mapping stays, once per stored direction
    assert rows(build_alignment(pairs, prune_self=False)) == [aa, aa, ab, ba]
    assert rows(build_alignment(pairs, bidirectional=False, prune_self=False)) == [aa, ab]


def test_invert_alignment_roundtrip(spark):
    pairs = spark.createDataFrame(
        [("a", 0, 8, "b", 10, 18)],
        ["src_id", "src_start", "src_stop", "dst_id", "dst_start", "dst_stop"],
    )
    inv = invert_alignment(pairs)
    r = inv.collect()[0]
    assert (r.src_id, r.src_start, r.src_stop) == ("b", 10, 18)
    back = invert_alignment(inv).collect()[0]
    assert (back.src_id, back.dst_id) == ("a", "b")


def test_translated_similarity_join(spark):
    # DNA whose frame +1 translates to MAAAW... ; protein db contains it
    dna = spark.createDataFrame(
        [("q1", "ATGGCTGCTGCTTGGGCTGCTGCTAAA")], ["id", "seq"]
    )
    prot = spark.createDataFrame(
        [("p_match", "MAAAWAAAK"), ("p_other", "QQQQQQQQQ")], ["id", "seq"]
    )
    out = translated_similarity_join(dna, prot, k=3, threshold=0.5).collect()
    assert len(out) >= 1
    assert all(r.db_id == "p_match" for r in out)
    assert any(r.frame == 1 for r in out)
