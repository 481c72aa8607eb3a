"""Item co-occurrence ("customers who bought A also bought B") — the
classic basket-pairing join, shaped for skew.

The quadratic danger is per-basket pair explosion: a basket of k items
emits C(k,2) pairs, so one pathological basket of 100k items would
emit 5e9 rows. ``max_basket`` is the skew guard (same role as
``max_kmer_docs`` in similarity.kmer_seed_join): baskets above the cap
are dropped BEFORE pairing, with the cap computed by one keyed
aggregate — no collect, no sort. Recommendation quality loses nothing
(a basket containing everything says nothing about affinity — the
inverse-document-frequency argument).

Plan shape: distinct (basket, item) -> per-basket size -> cap filter
-> self-equi-join on basket (p1 < p2) -> pair count -> per-item top-N
continuation via a window PARTITIONED BY item (millions of partitions
— scales; this is not the global-window anti-pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def copurchase_topn(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    top_n: int = 3,
    max_basket: int = 1000,
) -> DataFrame:
    """Top-``top_n`` co-items per item by shared-basket count.

    Returns ``(item, co_item, pair_count, rank)`` — both directions of
    each pair are ranked (A recommends B and B recommends A
    independently). Ties break on co_item id for determinism.
    """
    items = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    sized = items.withColumn(
        "_bsz", F.count(F.lit(1)).over(Window.partitionBy("_b"))
    ).filter(F.col("_bsz") <= max_basket)
    a = sized.select("_b", F.col("_i").alias("p1"))
    b = sized.select("_b", F.col("_i").alias("p2"))
    pairs = (
        a.join(b, on="_b")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= 2)
    )
    both = pairs.select(
        F.col("p1").alias("item"),
        F.col("p2").alias("co_item"),
        "pair_count",
    ).unionByName(
        pairs.select(
            F.col("p2").alias("item"),
            F.col("p1").alias("co_item"),
            "pair_count",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("pair_count").desc(), F.col("co_item")
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
    )
