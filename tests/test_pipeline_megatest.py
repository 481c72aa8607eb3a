"""LLM-training-data pipeline megatest analog (companion to
tests/test_megatest.py's genome-scale NLMSA chain).

One slow-marked end-to-end test drives the full corpus-prep lifecycle
at the 16x probe scale: replicate the sf0.001 document corpus 16x
with fresh ids → quality gate → MinHash-LSH near-dup candidate pairs
→ transitive closure (connected components) → canonical-survivor
selection → benchmark decontamination → deterministic hash split →
context-window packing — and asserts BOTH recorded integer goldens
and the structural invariant that makes 16x meaningful: every replica
must collapse onto its original (all survivor ids < the replica id
base), i.e. the near-dup layer provably did its job at scale. Any
regression in shingling, MinHash banding, the CC operator, the
decontamination join, the md5 split, or the packing cumsum moves a
number."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

REPL = 16
BASE = 10_000_000

# recorded goldens (computed at the round-6 tree; pure integer
# aggregates, order- and engine-independent)
G_QUALITY_ROWS = 7008
G_SURVIVORS = 416
G_SUM_CHARS = 140_346
G_CLEAN = 406
G_SPLITS = {"train": 326, "val": 38, "test": 42}
G_WINDOWS = 32
G_TOKENS = 24_959


@pytest.mark.slow
def test_corpus_pipeline_megatest(spark, sf_dir):
    if not sf_dir.rstrip("/").endswith("sf0.001"):
        pytest.skip("recorded goldens are sf0.001-specific")
    from pygr_spark.operators.dedup import (
        md5_band_hash,
        md5_hash60,
        minhash_near_dups,
    )
    from pygr_spark.operators.graphs import connected_components
    from pygr_spark.operators.pipeline import decontaminate, hash_split

    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = docs0.select(
        F.explode(F.array(*[F.lit(k) for k in range(REPL)])).alias("k"),
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
    ).select(
        (F.col("doc_id") + F.col("k") * BASE).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    quality = reps.filter(F.length(F.trim("text")) > 0).filter(
        F.col("n_chars").between(120, 5000)
    )
    assert quality.count() == G_QUALITY_ROWS

    pairs = minhash_near_dups(
        quality,
        n=5,
        threshold=(1, 5),
        hash_fn=md5_hash60,
        band_hash_fn=md5_band_hash,
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    clustered = cc.select(F.col("node").alias("doc_id"), "component")
    survivors = (
        quality.join(clustered, "doc_id", "left")
        .withColumn("canon", F.coalesce("component", "doc_id"))
        .filter(F.col("doc_id") == F.col("canon"))
    )
    n_surv = survivors.count()
    assert n_surv == G_SURVIVORS
    # THE 16x invariant: every replica collapsed onto its original —
    # no survivor carries a replica id
    assert survivors.agg(F.max("doc_id")).first()[0] < BASE
    assert survivors.agg(F.sum("n_chars")).first()[0] == G_SUM_CHARS

    bench = survivors.filter(F.col("doc_id") % 41 == 0)
    corpus = survivors.filter(F.col("doc_id") % 41 != 0)
    flagged = decontaminate(corpus, bench).select("doc_id")
    clean = corpus.join(flagged, "doc_id", "left_anti")
    assert clean.count() == G_CLEAN

    split = hash_split(clean)
    counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == G_SPLITS
    assert sum(counts.values()) == G_CLEAN

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    base = clean.select(
        "doc_id",
        (F.col("doc_id") % 32).alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    packed = base.withColumn("end", F.sum("n_tokens").over(w)).withColumn(
        "bin", F.expr("CAST((end - n_tokens) DIV 2048 AS BIGINT)")
    )
    assert packed.select("shard", "bin").distinct().count() == G_WINDOWS
    # packing preserves the token stream exactly
    assert packed.agg(F.sum("n_tokens")).first()[0] == G_TOKENS
