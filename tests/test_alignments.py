from pyspark.sql import functions as F

from pygr_spark.operators.alignments import (
    conservation_filter,
    edge_letters,
    identity_stats,
    letter_graph,
    longest_conserved_segment,
    two_hop_join,
)


def test_two_hop_join(spark):
    # a[0:10] ↔ LPO[100:110]; b[50:60] ↔ LPO[100:110]; c[7:12] ↔ LPO[107:112]
    aln = spark.createDataFrame(
        [
            ("a", 0, 10, 100, 110),
            ("b", 50, 60, 100, 110),
            ("c", 7, 12, 107, 112),
        ],
        ["src_id", "src_start", "src_stop", "mid_start", "mid_stop"],
    )
    q = spark.createDataFrame([("a", 2, 9)], ["id", "start", "stop"])
    out = sorted(
        (r.q_id, r.q_start, r.q_stop, r.dst_id, r.dst_start, r.dst_stop)
        for r in two_hop_join(q, aln).collect()
    )
    # query a[2:9] → LPO[102:109] → b[52:59]; → c via LPO[107:109] → c[7:9]
    assert out == [
        ("a", 2, 9, "b", 52, 59),
        ("a", 7, 9, "c", 7, 9),
    ]


def _edges_with_letters(spark):
    seqs = spark.createDataFrame(
        [("a", "ACGTACGTAC"), ("b", "ACGTACGAAC")], ["id", "seq"]
    )
    edges = spark.createDataFrame(
        [("a", 0, 10, "b", 0, 10)],
        ["src_id", "src_start", "src_stop", "dst_id", "dst_start", "dst_stop"],
    )
    return edge_letters(edges, seqs)


def test_edge_letters_and_identity(spark):
    out = identity_stats(_edges_with_letters(spark)).collect()[0]
    assert out.src_letters == "ACGTACGTAC"
    assert out.dst_letters == "ACGTACGAAC"
    assert out.n_identity == 9   # one mismatch at pos 7
    assert out.n_aligned == 10
    assert out.p_identity == 0.9
    assert out.p_aligned == 1.0


def test_edge_letters_reverse_complements_minus_strand_dst(spark):
    # pygr's -seq: a dst interval on the minus strand reads as the
    # reverse complement of its stored letters; a plus-strand edge
    # keeps them as stored
    seqs = spark.createDataFrame(
        [("a", "ACGTTTGGCA"), ("b", "TGCCAAACGT")], ["id", "seq"]
    )
    edges = spark.createDataFrame(
        [(1, "a", 6, 10, "b", 0, 4, -1), (2, "a", 0, 4, "b", 6, 10, 1)],
        ["eid", "src_id", "src_start", "src_stop",
         "dst_id", "dst_start", "dst_stop", "ori"],
    )
    out = {
        r.eid: (r.src_letters, r.dst_letters)
        for r in edge_letters(edges, seqs, dst_ori="ori").collect()
    }
    # b[0:4] = TGCC, whose reverse complement GGCA is a[6:10]
    assert out == {1: ("GGCA", "GGCA"), 2: ("ACGT", "ACGT")}


def test_conservation_filter(spark):
    df = identity_stats(_edges_with_letters(spark))
    assert conservation_filter(df, p_identity_min=0.95).count() == 0
    assert conservation_filter(df, p_identity_min=0.85).count() == 1
    assert conservation_filter(df, min_align_size=11).count() == 0


def test_longest_conserved_segment(spark):
    out = longest_conserved_segment(_edges_with_letters(spark)).collect()[0]
    # identity runs: [0,7) len 7 and [8,10) len 2 → best [0,7)
    assert (out.seg_start, out.seg_stop, out.seg_len) == (0, 7, 7)


def test_letter_graph(spark):
    df = spark.createDataFrame([("s", "ACGT")], ["id", "seq"])
    out = sorted(
        (r.pos, r.letter, r.next_pos, r.next_letter)
        for r in letter_graph(df, start=1, stop=4).collect()
    )
    assert out == [
        (1, "C", 2, "G"),
        (2, "G", 3, "T"),
        (3, "T", None, None),
    ]


def test_two_hop_auto_bin_matches_fixed(spark):
    from pygr_spark.operators.alignments import two_hop_join

    aln = spark.createDataFrame(
        [
            ("s1", 0, 10, 100, 110),
            ("s2", 5, 15, 105, 115),
            ("s3", 50, 60, 300, 310),
        ],
        ["src_id", "src_start", "src_stop", "mid_start", "mid_stop"],
    )
    q = spark.createDataFrame([("s1", 0, 10)], ["id", "start", "stop"])
    fixed = sorted(map(tuple, two_hop_join(q, aln, bin_width=16).collect()))
    auto = sorted(map(tuple, two_hop_join(q, aln, bin_width="auto").collect()))
    assert fixed == auto and len(fixed) > 0
