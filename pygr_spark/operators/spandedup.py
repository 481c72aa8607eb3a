"""Span-level exact substring deduplication — the "dedup the substring,
not the document" operator from Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better", ExactSubstr).

Unlike document-level exact dedup (operators/dedup.py:136) or MinHash
near-dup (dedup.py:212), this finds every fixed-length character
window that occurs >= ``min_count`` times ANYWHERE in the corpus and
returns the per-document merged spans those windows cover — the spans
a training pipeline would cut out of the text.

The reference paper uses a suffix array; a suffix array is a
single-machine global structure that does not shard. The Spark-first
equivalent is the sliding-window fingerprint shape:

  1. explode each document into its length-L windows (every position
     0..len-L — a narrow projection, no shuffle);
  2. ONE hash shuffle partitioned by the window content to count
     global occurrences (window function, not groupBy+join — one
     exchange instead of two);
  3. keep positions whose window repeats, project them to character
     intervals [pos, pos+L);
  4. merge overlapping/adjacent intervals per document with the same
     gaps-and-islands pipeline as pygr's interval merge
     (operators/groupmerge.py gap_merge, maxgap=0).

Scale notes (100 TB):
  - the only corpus-wide shuffle is keyed by the window fingerprint —
    uniformly distributed, no skew by construction (a window repeated
    k times lands k rows in one partition; pathological repeats are
    bounded by ``max_gram_count``'s early frequency cap if set);
  - ``by_hash=True`` shuffles an 8-byte xxhash64 instead of the
    L-byte string (stride*8/L of the string shuffle volume); exactness
    then rests on 64-bit collision odds — documented, and the catalog
    entry uses the exact string key;
  - ``sample_mod > 1`` is the cost knob: keep only windows whose
    content hash is ``0 (mod sample_mod)`` — winnowing-style
    CONTENT-DEFINED sampling, so a given window text is kept in every
    document that contains it or in none (a positional stride would
    sample different run-offsets in different documents and silently
    miss shared runs — measured, not hypothetical). A duplicated run
    of R windows is detected unless all R hash off-sample
    (deterministic per content; expected miss rate (1-1/s)^R).

Reference parity: pygr has no corpus-dedup operator; this is part of
the §2.11 beyond-reference training-data surface (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pygr_spark.operators.groupmerge import gap_merge


def dup_spans(
    df: DataFrame,
    length: int = 40,
    sample_mod: int = 1,
    min_count: int = 2,
    by_hash: bool = False,
) -> DataFrame:
    """Merged character spans of corpus-duplicated length-``length``
    windows, per document.

    Returns ``(doc_id, span_start, span_end, n_grams)`` with 0-based
    half-open spans; ``n_grams`` is how many duplicated windows the
    merged span absorbed. ``sample_mod > 1`` keeps only windows with
    ``xxhash64(gram) % sample_mod == 0`` (content-defined sampling —
    see module docstring; exact when 1).
    """
    if length < 1 or sample_mod < 1 or min_count < 2:
        raise ValueError("length/sample_mod >= 1 and min_count >= 2 required")

    # Windows: every position 0..len-L. Docs shorter than L
    # contribute nothing (sequence() needs start <= stop).
    grams = (
        df.select("doc_id", "text")
        .filter(F.length("text") >= length)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.length("text") - length)
            ).alias("pos"),
            F.col("text"),
        )
        .select(
            "doc_id",
            "pos",
            F.substring(F.col("text"), F.col("pos") + 1, length).alias("gram"),
        )
    )
    if sample_mod > 1:
        grams = grams.filter(
            F.pmod(F.xxhash64("gram"), F.lit(sample_mod)) == 0
        )
    key = F.xxhash64("gram") if by_hash else F.col("gram")
    # One exchange: occurrence count as a window aggregate over the
    # gram partition (groupBy+join-back would shuffle twice).
    counted = grams.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy(key))
    )
    dup = counted.filter(F.col("n_occ") >= min_count)
    spans = dup.select(
        "doc_id",
        F.col("pos").cast("long").alias("s"),
        (F.col("pos") + length).cast("long").alias("e"),
    )
    merged = gap_merge(spans, keys=["doc_id"], start="s", stop="e", maxgap=0)
    return merged.select(
        "doc_id",
        F.col("s").alias("span_start"),
        F.col("e").alias("span_end"),
        F.col("n_merged").alias("n_grams"),
    )


def remove_dup_spans(df: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut ``spans`` (0-based half-open ``span_start``/``span_end``)
    out of each document's text; documents without spans pass through.

    The cut is a codegen fold (aggregate over the per-doc sorted span
    array building (cursor, acc)), not a Python UDF — per-doc span
    counts are bounded by len/length so the collected array is small
    by construction.
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    joined = df.join(per_doc, on="doc_id", how="left")
    cut = F.aggregate(
        F.col("_spans"),
        F.struct(
            F.lit(0).cast("long").alias("cur"),
            F.lit("").alias("acc"),
        ),
        lambda acc, sp: F.struct(
            sp["span_end"].alias("cur"),
            F.concat(
                acc["acc"],
                F.substring(
                    F.col("text"),
                    (acc["cur"] + 1).cast("int"),
                    (sp["span_start"] - acc["cur"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.substring(
                F.col("text"),
                (acc["cur"] + 1).cast("int"),
                (F.length("text") - acc["cur"]).cast("int"),
            ),
        ),
    )
    return joined.withColumn(
        "clean_text",
        F.when(F.col("_spans").isNull(), F.col("text")).otherwise(cut),
    ).drop("_spans")
