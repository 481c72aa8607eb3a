"""Annotation layer (J9, §1.1 AnnotationDB) + prefix-union namespacing
(U5) + interval-mask semijoin (P7).

Reference: annotations are typed intervals (annot_id, seq_id, start,
stop[, orientation]) + forwarded attributes (annotation.py:141-397);
``annot.sequence`` projects the letters back onto the sequence
(annotation.py:24-37); PrefixUnionDict namespaces several sequence DBs
as "prefix.id" (seqdb.py:676-878); SeqFilterDict masks query results
to an interval set, clipping to the mask (sequence.py:604-629).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pygr_spark.functions.seqfns import revcomp
from pygr_spark.intervals import overlaps


def project_annotations(
    annotations: DataFrame,
    sequences: DataFrame,
    seq_id: str = "seq_id",
    start: str = "start",
    stop: str = "stop",
    orientation: str | None = "orientation",
    id_col: str = "id",
    seq: str = "seq",
) -> DataFrame:
    """annotations ⋈ sequences: each annotation row gains ``letters``
    (its slice of the sequence, reverse-complemented for orientation
    -1) — pygr's ``annot.sequence`` (annotation.py:24-37).

    Coordinates are clipped to the sequence bounds at projection
    (sequence.py:302-306); empty results are dropped (307-308).
    Broadcast the sequence side when it is a bounded dimension;
    genome-scale sequences should come pre-chunked (sources.fasta.
    chunked) and joined on (seq_id, chunk range) instead.
    """
    seqs = sequences.select(
        F.col(id_col).alias("_seq_id"), F.col(seq).alias("_seq")
    )
    j = annotations.join(seqs, F.col(seq_id) == F.col("_seq_id"))
    n = F.length("_seq")
    s = F.greatest(F.lit(0), F.least(F.col(start), n))
    e = F.greatest(F.lit(0), F.least(F.col(stop), n))
    letters = F.substring(F.col("_seq"), (s + 1).cast("int"), (e - s).cast("int"))
    if orientation is not None and orientation in annotations.columns:
        letters = F.when(F.col(orientation) < 0, revcomp(letters)).otherwise(letters)
    return j.filter(s < e).withColumn("letters", letters).drop("_seq_id", "_seq")


def prefix_union(dfs: dict[str, DataFrame]) -> DataFrame:
    """PrefixUnionDict (seqdb.py:676-878): union N keyed tables under
    namespaced ids "prefix.id". Columns are aligned by name with NULLs
    for missing (allowMissingColumns), matching the reference's
    heterogeneous-DB unions."""
    out = None
    for prefix, df in dfs.items():
        d = df.withColumn(
            "id", F.concat(F.lit(prefix), F.lit("."), F.col("id").cast("string"))
        ).withColumn("db_prefix", F.lit(prefix))
        out = d if out is None else out.unionByName(d, allowMissingColumns=True)
    if out is None:
        raise ValueError("prefix_union of no tables")
    return out


def split_prefix(id_val: Column) -> tuple[Column, Column]:
    """Inverse of prefix_union id munging (seqdb.py:752-769). Both
    components are built from ``id_val`` itself, so any column works,
    not just one literally named ``id``."""
    return (
        F.substring_index(id_val, ".", 1),
        F.substr(id_val, F.instr(id_val, ".") + F.lit(1)),
    )


def interval_mask(df: DataFrame, mask: DataFrame, keys: list[str]) -> DataFrame:
    """SeqFilterDict semijoin (P7, sequence.py:604-629): keep rows
    overlapping the (broadcast) mask on the same key, clipped to the
    mask (the reference returns the intersection). Rows with no
    overlapping mask disappear — the KeyError path."""
    m = mask.select(
        *[F.col(k).alias(f"_mk_{k}") for k in keys],
        F.col("start").alias("_m_start"),
        F.col("stop").alias("_m_stop"),
    )
    cond = overlaps(F.col("start"), F.col("stop"), F.col("_m_start"), F.col("_m_stop"))
    for k in keys:
        cond = (F.col(k) == F.col(f"_mk_{k}")) & cond
    j = (
        df.join(F.broadcast(m), cond)
        .withColumn("start", F.greatest(F.col("start"), F.col("_m_start")))
        .withColumn("stop", F.least(F.col("stop"), F.col("_m_stop")))
    )
    return j.drop(*[f"_mk_{k}" for k in keys], "_m_start", "_m_stop")
