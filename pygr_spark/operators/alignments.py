"""Alignment-edge operators: two-hop MSA join (J2), Seq2SeqEdge
statistics (A7: pIdentity / pAligned, J10 letter zip), conservation
filtering (P9), best conserved segment (A8), letter-graph adjacency
(§2.5).

Reference lifecycle (SURVEY.md §3.1): ``msa[ival]`` runs an NCList
search, optionally hops through the LPO coordinate system to reach all
aligned sequences (NLMSASlice.__new__, cnestedlist.pyx:470-543), then
``slice.edges()`` computes per-edge statistics over matchIntervals
(Seq2SeqEdge, sequence.py:638-799). Here:

- hop 1/2 are overlap joins with interval-intersection + 1:1
  coordinate remapping columns (LPO segments are colinear, so the
  remap is pure offset arithmetic — no scaling);
- pIdentity walks both letter strings in lockstep
  (sequence.py:706-724) → zip_with over char arrays;
- conservation filters drop edges below pIdentityMin etc.
  (cnestedlist.pyx:841-897);
- the letter graph (node → next node, sequence.py:362-374) is a lead()
  window over exploded positions, restricted to bounded slices as the
  reference effectively does (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pygr_spark.functions.seqfns import revcomp
from pygr_spark.operators.overlap import overlap_join


def two_hop_join(
    query: DataFrame,
    alignment: DataFrame,
    drop_self: bool = True,
    strategy: str = "range",
    mid_strategy: str = "binned",
    bin_width: int | str = 16,
) -> DataFrame:
    """J2: query ivals (id, start, stop) → all sequences aligned
    through a middle coordinate system.

    ``alignment`` rows map src→mid: (src_id, src_start, src_stop,
    mid_start, mid_stop) plus mid→dst as the same table read with src
    as the middle axis — i.e. the standard NLMSA storage where every
    sequence aligns to the LPO (cnestedlist.pyx:1306-1314).

    Hop 1 finds the query's LPO span; hop 2 finds every other
    sequence overlapping that span; spans intersect on the mid axis
    and both ends remap by offset (clip 486-496, second hop 498-533,
    intersection 517-529 of cnestedlist.pyx).

    ``bin_width`` sizes the hop-2 bin join: pick ≈ the median interval
    span. Too wide inflates per-bucket candidate pairs (each bucket is
    scanned by every probe touching it); too narrow duplicates rows
    ∝ span/width. Measured at sf0.1 (spans ≤ 14): width 16 → 2.2 s,
    64 → 3.9 s, 128 → 4.5 s. Pass ``"auto"`` to size from the mid-axis
    span distribution (overlap_join.auto_bin_width — 2× median).
    """
    hop1 = overlap_join(
        query,
        alignment,
        left_id="id",
        left_start="start",
        left_stop="stop",
        right_id="src_id",
        right_start="src_start",
        right_stop="src_stop",
        strategy=strategy,
    )
    # clip hop-1 hit to the query range, remap into mid coords
    h1 = hop1.select(
        F.col("id").alias("q_id"),
        F.greatest("start", "src_start").alias("h1_start"),
        F.least("stop", "src_stop").alias("h1_stop"),
        (F.col("mid_start") + F.greatest("start", "src_start") - F.col("src_start")).alias(
            "m_start"
        ),
        (F.col("mid_start") + F.least("stop", "src_stop") - F.col("src_start")).alias(
            "m_stop"
        ),
    )
    aln2 = alignment.select(
        F.col("src_id").alias("dst_id"),
        F.col("src_start").alias("d_start"),
        F.col("src_stop").alias("d_stop"),
        F.col("mid_start").alias("m2_start"),
        F.col("mid_stop").alias("m2_stop"),
    )
    # the mid axis has NO equi key — a plain range join degenerates to
    # a nested-loop cross product (observed 50x slower at sf0.1), so
    # hop 2 defaults to the binned rewrite: equi-join on the bin id
    hop2 = overlap_join(
        h1,
        aln2,
        left_id=None,
        left_start="m_start",
        left_stop="m_stop",
        right_id=None,
        right_start="m2_start",
        right_stop="m2_stop",
        strategy=mid_strategy,
        bin_width=bin_width,
    )
    ms = F.greatest("m_start", "m2_start")
    me = F.least("m_stop", "m2_stop")
    out = hop2.select(
        "q_id",
        (F.col("h1_start") + (ms - F.col("m_start"))).alias("q_start"),
        (F.col("h1_start") + (me - F.col("m_start"))).alias("q_stop"),
        "dst_id",
        (F.col("d_start") + (ms - F.col("m2_start"))).alias("dst_start"),
        (F.col("d_start") + (me - F.col("m2_start"))).alias("dst_stop"),
    )
    if drop_self:
        out = out.filter(
            (F.col("q_id") != F.col("dst_id"))
            | (F.col("q_start") != F.col("dst_start"))
        )
    return out


# ---------------------------------------------------------------------------
# Seq2SeqEdge statistics (A7, J10)
# ---------------------------------------------------------------------------


def edge_letters(
    edges: DataFrame,
    sequences: DataFrame,
    dst_ori: str | None = None,
) -> DataFrame:
    """Attach the aligned letter strings of both sides of each edge
    (J10 letter zip input). Sequences are broadcast; genome-scale
    callers pre-chunk instead (sources.fasta.chunked)."""
    seqs = F.broadcast(
        sequences.select(F.col("id").alias("_sid"), F.col("seq").alias("_sseq"))
    )
    out = (
        edges.join(seqs, F.col("src_id") == F.col("_sid"))
        .withColumn(
            "src_letters",
            F.expr(
                "substring(_sseq, CAST(src_start+1 AS INT), CAST(src_stop-src_start AS INT))"
            ),
        )
        .drop("_sid", "_sseq")
        .join(seqs, F.col("dst_id") == F.col("_sid"))
        .withColumn(
            "dst_letters",
            F.expr(
                "substring(_sseq, CAST(dst_start+1 AS INT), CAST(dst_stop-dst_start AS INT))"
            ),
        )
        .drop("_sid", "_sseq")
    )
    if dst_ori is not None and dst_ori in edges.columns:
        out = out.withColumn(
            "dst_letters",
            F.when(F.col(dst_ori) < 0, revcomp(F.col("dst_letters"))).otherwise(
                F.col("dst_letters")
            ),
        )
    return out


def identity_stats(df: DataFrame) -> DataFrame:
    """nidentity / pIdentity / pAligned per edge row (sequence.py:
    706-724, 789-799). Assumes 1:1 aligned letter strings (gap-free
    match intervals — the Seq2SeqEdge invariant). length(mode=max)
    per the reference default (sequence.py:702-704)."""
    a = F.split(F.col("src_letters"), "")
    b = F.split(F.col("dst_letters"), "")
    matches = F.zip_with(
        a, b, lambda x, y: F.when(F.lower(x) == F.lower(y), 1).otherwise(0)
    )
    nident = F.aggregate(matches, F.lit(0).cast("long"), lambda acc, x: acc + x)
    aligned = F.least(F.length("src_letters"), F.length("dst_letters")).cast("long")
    length_max = F.greatest(F.length("src_letters"), F.length("dst_letters")).cast("long")
    return (
        df.withColumn("n_identity", nident)
        .withColumn("n_aligned", aligned)
        .withColumn("p_identity", nident / length_max)
        .withColumn("p_aligned", aligned / length_max)
    )


def conservation_filter(
    df: DataFrame,
    p_identity_min: float | None = None,
    min_align_size: int | None = None,
) -> DataFrame:
    """P9 (cnestedlist.pyx:841-897): drop edges failing conservation
    bounds. Run after identity_stats."""
    out = df
    if p_identity_min is not None:
        out = out.filter(F.col("p_identity") >= p_identity_min)
    if min_align_size is not None:
        out = out.filter(F.col("n_aligned") >= min_align_size)
    return out


def longest_conserved_segment(df: DataFrame) -> DataFrame:
    """A8 (sequence.py:726-787): the longest contiguous run of exact
    identity per edge — gaps-and-islands over exploded positions
    (relational form of the reference's quadratic segment scan).
    Adds seg_start/seg_stop/seg_len (NULL when no identical letter)."""
    keyed = df.withColumn("_edge_id", F.monotonically_increasing_id())
    a = F.split(F.col("src_letters"), "")
    b = F.split(F.col("dst_letters"), "")
    eq = F.zip_with(a, b, lambda x, y: (F.lower(x) == F.lower(y)).cast("int"))
    pos = keyed.select("_edge_id", F.posexplode(eq).alias("pos", "is_match"))
    w = Window.partitionBy("_edge_id").orderBy("pos")
    runs = (
        pos.withColumn("_brk", (F.col("is_match") == 0).cast("int"))
        .withColumn("_grp", F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(F.col("is_match") == 1)
        .groupBy("_edge_id", "_grp")
        .agg(F.min("pos").alias("seg_start"), (F.max("pos") + 1).alias("seg_stop"))
        .withColumn("seg_len", F.col("seg_stop") - F.col("seg_start"))
    )
    best = runs.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_edge_id").orderBy(
                F.col("seg_len").desc(), F.col("seg_start")
            )
        ),
    ).filter(F.col("_rn") == 1).drop("_rn", "_grp")
    return keyed.join(best, "_edge_id", "left").drop("_edge_id")


# ---------------------------------------------------------------------------
# letter graph (§2.5)
# ---------------------------------------------------------------------------


def letter_graph(df: DataFrame, start: int = 0, stop: int | None = None) -> DataFrame:
    """A bounded sequence slice as a linear letter graph: rows
    (id, pos, letter, next_pos, next_letter) — lead() adjacency
    (sequence.py:362-374; keep slices bounded, SURVEY.md §7.3)."""
    sliced = df.select(
        F.col("id"),
        F.substring(
            F.col("seq"), start + 1, (stop - start) if stop is not None else F.length("seq")
        ).alias("_s"),
    )
    pos = sliced.select(
        "id", F.posexplode(F.split(F.col("_s"), "(?!^)")).alias("pos", "letter")
    ).filter(F.length("letter") > 0)
    w = Window.partitionBy("id").orderBy("pos")
    return (
        pos.withColumn("pos", F.col("pos") + start)
        .withColumn("next_pos", F.lead("pos").over(w))
        .withColumn("next_letter", F.lead("letter").over(w))
    )
