"""Distributed clustering over embedding columns: exact-integer
spherical k-means (Lloyd iterations) and SemDeDup-style semantic
deduplication built on top of it.

Reference parity: the reference has no clustering engine — this module
is part of the LLM-training-data pipeline surface the brief asks for
(SemDeDup: Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"; the k-means shape follows
Spark MLlib's Lloyd loop: broadcast the k centroids, one distributed
aggregate per iteration, collect only the k·dim aggregated sums).

Engine-portable determinism (the DuckDB-oracle contract used across
pygr_spark, see operators/similarity.py):

- vectors are quantized to integer micro-units → all dot products and
  squared norms are exact int64;
- cosine is the only float op: ``dot / (sqrt(n1)·sqrt(n2))`` on exact
  integers is the same IEEE double everywhere;
- initial centroids are the k corpus vectors with the smallest
  ``(md5_hash60(id), id)`` — a deterministic sample any engine
  reproduces (same trick as similarity.ivf_topk_exact);
- recomputed centroids use **cosine scale-invariance**: the mean
  direction can be represented by per-component
  ``floor(sum/count)`` — integer centroids again, so every later
  iteration stays exact. Components stay in quantized range
  (|c| ≤ SCALE), so dot products never overflow int64 regardless of
  cluster size — the naive SUM centroid would overflow past ~1.4e5
  members at dim 64.

Scale shape (100 TB story):

- assignment is a projection over a broadcast crossJoin of the 1-row
  centroid array (no shuffle, no Python) — argmax over k integer dots
  in higher-order functions;
- each Lloyd iteration costs one groupBy(cluster, component) aggregate
  over n·dim narrow rows (map-side partial aggregation applies) and
  collects exactly k·dim aggregated rows to the driver — the same
  small-by-contract collect Spark MLlib's KMeans performs;
- SemDeDup's pair stage self-joins within a cluster, the paper's own
  cost model: k is chosen to bound cluster size m, giving O(Σ m²)
  work distributed by cluster_id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pygr_spark.operators.dedup import md5_hash60
from pygr_spark.operators.similarity import quantized, sqnorm


def _with_assignment(df: DataFrame, cents_col, keep: list[str]) -> DataFrame:
    """Argmax-cosine projection: add (cluster_id, cos_center) for the
    best of ``cents_col``, any array<struct<cid, cq, cn>> expression
    (here a broadcast-joined column, the lazy Lloyd chain); ties break
    to the smaller cluster_id (max of (cos, -cid) — matches the
    oracle's ORDER BY cos DESC, cid).

    Higher-order functions, not an unrolled dot, for a reason OPPOSITE
    to the usual codegen rule: Lloyd iterations rebuild this plan
    every round with fresh centroids, so a fully-unrolled k·dim
    multiply-add tree pays Catalyst analysis + janino compilation per
    ROUND (measured 9s of the 13s cold-iteration time at k=8, dim=64 —
    compile, not compute). The HOF form keeps the expression tree at
    O(1) nodes with three lambdas, which Spark evaluates interpreted —
    exactly the compiled-loop-per-row trade MLlib's own KMeans makes —
    and a full iteration drops under a second. (The pair-verify in
    semdedup keeps the unrolled codegen dot: its plan compiles ONCE,
    so compile amortizes there.)"""
    scored = F.transform(
        cents_col,
        lambda c: F.struct(
            (
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        c["cq"],
                        lambda x, y: x.cast("long") * y.cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, t: acc + t,
                ).cast("double")
                / (
                    F.sqrt(F.col("qn").cast("double"))
                    * F.sqrt(c["cn"].cast("double"))
                )
            ).alias("cos"),
            (-c["cid"].cast("long")).alias("ncid"),
        ),
    )
    best = F.array_max(scored)
    return df.withColumn("_b", best).select(
        *keep,
        (-F.col("_b.ncid")).cast("long").alias("cluster_id"),
        F.col("_b.cos").alias("cos_center"),
    )


def kmeans_spherical(corpus: DataFrame, k: int = 8, n_iter: int = 2) -> DataFrame:
    """Exact-integer spherical k-means: ``n_iter`` Lloyd rounds
    (assign → integer floor-mean recompute), then a final assignment.
    Returns (vec_id, cluster_id, cos_center, qv, qn) — qv/qn retained
    so downstream stages (SemDeDup's pair verify) reuse the quantized
    vectors without recomputing them.

    Clusters that lose all members mid-iteration simply drop out (the
    aggregate emits no row for them); ids of surviving centroids keep
    their initial index, matching the SQL oracle's GROUP BY."""
    spark = corpus.sparkSession
    # Eager localCheckpoint (not persist): the quantized projection is
    # referenced by the init job, every Lloyd round, AND the final
    # assignment that runs inside the CALLER's first action — a
    # persist unpersisted before return would leave all of those
    # recomputing the projection (round-4 did exactly that). The
    # checkpoint materializes once here and the block-manager copy
    # serves every later reference; ContextCleaner reclaims it when
    # the plan is garbage-collected.
    v = (
        corpus.select(F.col("vec_id"), quantized(F.col("embedding")).alias("qv"))
        .withColumn("qn", sqnorm(F.col("qv")))
        .localCheckpoint(eager=True)
    )
    init = (
        v.withColumn("_h", md5_hash60(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(k)
        .select("qv", "qn")
        .collect()  # k rows — small-by-contract (MLlib does the same)
    )
    cents = [(j, list(r["qv"]), int(r["qn"])) for j, r in enumerate(init)]
    # LAZY Lloyd: the n_iter rounds chain inside ONE plan — centroid
    # state flows through broadcast exchanges (1-row array<struct>
    # DataFrames), with ZERO driver collects per iteration. Each round
    # is: broadcast cents -> argmax projection -> (cluster, component)
    # hash aggregate -> floor-mean -> re-pack the 1-row centroid
    # array. Spark schedules the chained broadcast stages itself; the
    # first action runs the whole chain. (The earlier shape collected
    # k·dim sums per round: correct, but each round paid a full
    # sequential job — at 2 rounds that was half this operator's
    # wall-clock at bench scale.)
    cents_df = spark.range(1).select(
        F.expr(
            "array("
            + ", ".join(
                f"named_struct('cid', CAST({int(cid)} AS BIGINT), "
                f"'cq', array({', '.join(str(int(x)) for x in cq)}), "
                f"'cn', CAST({int(cn)} AS BIGINT))"
                for cid, cq, cn in cents
            )
            + ")"
        ).alias("_cents")
    )
    for _ in range(n_iter):
        assigned = _with_assignment(
            v.crossJoin(F.broadcast(cents_df)), F.col("_cents"), v.columns
        )
        comp = (
            assigned.select("cluster_id", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            # floor of the true-division double == python
            # math.floor(s/c) while |s| < 2^53 (module docstring)
            .select(
                "cluster_id",
                "pos",
                F.floor(F.col("s").cast("double") / F.col("c"))
                .cast("long")
                .alias("val"),
            )
        )
        per_cluster = comp.groupBy("cluster_id").agg(
            F.sort_array(F.collect_list(F.struct("pos", "val"))).alias("_pv")
        )
        cents_df = (
            per_cluster.select(
                F.struct(
                    F.col("cluster_id").alias("cid"),
                    F.transform(F.col("_pv"), lambda x: x["val"]).alias("cq"),
                    F.aggregate(
                        F.col("_pv"),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x["val"] * x["val"],
                    ).alias("cn"),
                ).alias("_c")
            )
            .agg(F.sort_array(F.collect_list("_c")).alias("_cents"))
        )
    return _with_assignment(
        v.crossJoin(F.broadcast(cents_df)), F.col("_cents"), v.columns
    )


def semdedup(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup: cluster embeddings with spherical k-means, then inside
    each cluster drop every vector that has a cosine ≥ ``threshold``
    neighbour with a smaller id (greedy keep-lowest-id — the paper
    keeps one representative per ε-ball; lowest-id is the
    deterministic, SQL-expressible choice of which). Returns one row
    per input vector: (id, cluster_id, kept 0/1).

    The pair stage shuffles on cluster_id and is quadratic only within
    a cluster — choose k so the expected cluster size is bounded
    (SemDeDup's own cost model). The cosine verify is the unrolled
    integer dot (exact, codegen'd)."""
    from pygr_spark.operators.similarity import dot_unrolled

    # assigned feeds BOTH pair sides and the final left join —
    # checkpoint so the k·dim-term assignment projection evaluates
    # once, not three times (it is also too large for janino when a
    # join stage fuses two copies of it into one method)
    assigned = (
        kmeans_spherical(corpus, k, n_iter)
        .select(F.col("vec_id").alias("_id"), "cluster_id", "qv", "qn")
        .localCheckpoint(eager=False)
    )
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    a = assigned.select(
        F.col("_id").alias("a_id"),
        "cluster_id",
        F.col("qv").alias("aq"),
        F.col("qn").alias("an"),
    )
    b = assigned.select(
        F.col("_id").alias("b_id"),
        "cluster_id",
        F.col("qv").alias("bq"),
        F.col("qn").alias("bn"),
    )
    cos = dot_unrolled("aq", "bq", dim) / (
        F.sqrt(F.col("an").cast("double")) * F.sqrt(F.col("bn").cast("double"))
    )
    removed = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("b_id").alias("_rm"))
        .distinct()
    )
    return assigned.join(
        removed, assigned["_id"] == removed["_rm"], "left"
    ).select(
        F.col("_id").alias("vec_id"),
        "cluster_id",
        F.when(F.col("_rm").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("kept"),
    )
