"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a hash-groupBy; near-dup comes in three flavors:

- **n-gram Jaccard** (exact): explode word shingles, equi-join on the
  shingle, count intersections, compute |A∩B| / (|A|+|B|-|A∩B|).
  Exactly SQL-expressible → oracle-checked. The shingle equi-join is
  the shuffle; frequent-shingle skew is bounded by dropping shingles
  that occur in more than ``max_shingle_freq`` docs (a standard
  trick — such shingles barely discriminate anyway and AQE handles
  the residual skew).
- **MinHash + LSH** (approximate, the 100 TB path): per doc compute a
  k-perm MinHash signature over xxhash64'd shingles (all JVM-side
  array expressions — no UDFs), split into bands, explode band
  hashes, self-join on (band, band_hash) to get candidate pairs, then
  verify candidates with exact Jaccard. Cost is O(candidates), not
  O(n²).
- **SimHash**: 64-bit signature via bitwise majority vote of token
  hashes; near-dups = pairs within Hamming distance d, found by
  banding the 64 bits into (d+1) chunks (pigeonhole: any pair within
  distance d agrees exactly on at least one chunk).

All permutation hashing uses h(x) = (a·(x mod p) + b) mod p with
p = 2^31 - 1 so products stay within int64 under ANSI mode.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pygr_spark.tuning import spread

MERSENNE_P = 2_147_483_647  # 2^31 - 1
#: MinHash signature length, LSH band count and permutation seed; the
#: catalog's SQL oracle builds the same scheme from these.
MINHASH_PERMS = 32
MINHASH_BANDS = 8
MINHASH_SEED = 42


def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash computable identically in Spark and
    DuckDB/ANSI SQL: ``int(md5(s)[0:15], 16)``. Slower than xxhash64
    (still JVM codegen) but engine-portable — the oracle-checked
    catalog entries use it so a SQL oracle can reproduce MinHash/
    SimHash signatures bit-for-bit. 15 hex digits = 60 bits, always
    non-negative, fits int64."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_band_hash(b: int, parts: list[Column]) -> Column:
    """Engine-portable LSH band hash: md5_hash60 of
    ``"{b},{m0},{m1},...}"`` (SQL: ``'{b},'||m0||','||...``)."""
    return md5_hash60(
        F.concat_ws(",", F.lit(str(b)), *[p.cast("string") for p in parts])
    )


def shingles_from_tokens(toks: Column) -> Column:
    """Array of distinct 3-word shingles from a MATERIALIZED token-array
    column. ``toks`` must be a bound column reference, not a compound
    expression: the transform lambda below evaluates its argument once
    per index element, so passing ``split(...)`` directly would
    re-tokenize the document once per shingle (~50× slowdown measured).
    """
    # guard: Spark sequence(1, 0) DESCENDS — short docs must yield []
    idx = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(1), F.size(toks) - 2)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    )


def word_shingles(text: Column) -> Column:
    """Shingles straight from a text column — convenience form for
    small inputs/tests; hot paths materialize tokens first (see
    shingles_from_tokens)."""
    return shingles_from_tokens(F.split(F.trim(F.lower(text)), r"\s+"))


def shingle_rows(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-shingle rows (_id, _s) — the hot-path shingling.

    posexplode tokens + ``lead`` window instead of a higher-order
    ``transform``: identical output, but every stage stays inside
    whole-stage codegen (~4× faster at sf0.1 — Spark interprets HOF
    lambdas per element). The window shuffle reuses the ``spread``
    hash partitioning on the id, and the distinct's clustering is
    satisfied by it too, so the whole thing costs ONE exchange."""
    from pyspark.sql import Window as W

    toks = spread(df, "doc_id").select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "_p", "_t"
        ),
    )
    w = W.partitionBy("_id").orderBy("_p")
    nexts = [F.lead("_t", i).over(w).alias(f"_t{i}") for i in range(1, n)]
    full = toks.select("_id", "_t", *nexts).filter(
        F.col(f"_t{n - 1}").isNotNull()
    )
    return full.select(
        "_id",
        F.concat_ws(" ", "_t", *[f"_t{i}" for i in range(1, n)]).alias("_s"),
    ).dropDuplicates(["_id", "_s"])


def exact_dedup(df: DataFrame) -> DataFrame:
    """One canonical row per identical text: (doc_id=min, n_copies)."""
    return df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------


def jaccard_join(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard over word shingles. Returns
    (id_a, id_b, inter, size_a, size_b) with id_a < id_b and
    Jaccard >= threshold, expressed as the exact integer predicate
    ``inter * (1) >= threshold * union`` to stay float-robust.
    """
    # one shingling pass (lineage-truncating cache) feeds the self-join
    # sides AND the per-doc size table
    sh = shingle_rows(df, n).localCheckpoint(eager=False)
    if max_shingle_freq is not None:
        freq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_f"))
        sh = sh.join(
            F.broadcast(freq.filter(F.col("_f") > max_shingle_freq)),
            "_s",
            "left_anti",
        )
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "_s")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # set sizes are one small row per doc: broadcast-join them onto the
    # pair results instead of carrying them through the wide self-join
    sizes = sh.groupBy(F.col("_id")).agg(F.count(F.lit(1)).alias("_sz"))
    out = (
        pairs.join(
            F.broadcast(sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("size_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("size_b"))),
            "id_b",
        )
    )
    union = F.col("size_a") + F.col("size_b") - F.col("inter")
    return out.filter(F.col("inter") >= F.lit(threshold) * union).select(
        "id_a", "id_b", "inter", "size_a", "size_b"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_perm)
    ]


def _perm_min_aggs(num_perm: int, seed: int) -> list:
    """The per-permutation ``min((a·_h + b) mod p)`` aggregate columns
    — THE single source of truth for the signature scheme, used by
    the fused one-pass aggregation in :func:`minhash_near_dups`
    (scalar min() aggregates are
    whole-stage-codegen'd, ~10× faster than interpreted
    array_min(transform(...)) higher-order expressions)."""
    return [
        F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(MERSENNE_P))).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(_perm_params(num_perm, seed))
    ]


def lsh_candidate_pairs(sigs: DataFrame, band_hash_fn=None) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band.
    Shuffle key is (band_idx, band_hash) — hot texts spread across
    bands; a group of m identical docs costs m²/2 pairs only within
    its own buckets, which is the irreducible output size.

    ``band_hash_fn(b, parts)`` maps a band index + its signature
    elements to the bucket hash; default is xxhash64 over the joined
    parts (fast path), ``md5_band_hash`` is the oracle-portable one.
    """
    rows = MINHASH_PERMS // MINHASH_BANDS
    if band_hash_fn is None:

        def band_hash_fn(b: int, parts: list[Column]) -> Column:
            return F.xxhash64(
                F.lit(b),
                F.concat_ws(",", *[p.cast("string") for p in parts]),
            )

    banded = sigs.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(
            F.array(
                *[
                    band_hash_fn(
                        b,
                        [
                            F.element_at(F.col("sig"), b * rows + i + 1)
                            for i in range(rows)
                        ],
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("band", "bh"),
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    n: int = 3,
    threshold: float | tuple[int, int] = 0.5,
    hash_fn=F.xxhash64,
    band_hash_fn=None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band join →
    exact-Jaccard verification of the candidates only. Returns
    (id_a, id_b, inter, size_a, size_b) like jaccard_join, but with
    O(candidate) instead of O(all-pairs-sharing-a-shingle) cost.

    ``threshold`` may be a ``(num, den)`` rational: the filter then
    uses the exact integer predicate ``inter*den >= num*union``, which
    every engine evaluates identically (float ``0.2*union`` does NOT
    equal exact ``union/5`` at the boundary).
    """
    # ONE pass over the shingle rows: the shingle lists (verification)
    # and the count + MINHASH_PERMS permuted minima (signatures) come out of
    # a single hash aggregation, so the multi-million-row shingle
    # table shuffles on _id once, not twice. The per-doc aggregate
    # (one row per doc) is what gets the lineage cut — it feeds the
    # signature stage and both verification-join sides.
    rows = shingle_rows(df, n)
    hashed = rows.select(
        "_id", "_s", F.pmod(hash_fn(F.col("_s")), F.lit(MERSENNE_P)).alias("_h")
    )
    per_doc = hashed.groupBy("_id").agg(
        F.collect_list("_s").alias("_sh"),
        F.count(F.lit(1)).alias("_n"),
        *_perm_min_aggs(MINHASH_PERMS, MINHASH_SEED),
    ).localCheckpoint(eager=False)
    sh = per_doc.select("_id", "_sh")
    sigs = per_doc.select(
        F.col("_id").alias("doc_id"),
        F.array(*[F.col(f"_m{i}") for i in range(MINHASH_PERMS)]).alias("sig"),
    )
    cand = lsh_candidate_pairs(sigs, band_hash_fn)
    withsets = (
        cand.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
        ).join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    size_a, size_b = F.size("sh_a"), F.size("sh_b")
    union = size_a + size_b - inter
    if isinstance(threshold, tuple):
        t_num, t_den = threshold
        pred = F.col("inter") * F.lit(t_den) >= F.lit(t_num) * (
            F.col("size_a") + F.col("size_b") - F.col("inter")
        )
    else:
        pred = F.col("inter") >= F.lit(threshold) * (
            F.col("size_a") + F.col("size_b") - F.col("inter")
        )
    return (
        withsets.withColumn("inter", inter)
        .withColumn("size_a", size_a)
        .withColumn("size_b", size_b)
        .filter(pred)
        .select("id_a", "id_b", "inter", "size_a", "size_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def cosine_near_dups_lsh(corpus: DataFrame, planes: list[list[int]]) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: hyperplane-LSH
    bucket → candidate equi-join → exact integer-cosine verify of the
    candidates only. Nothing is collected to the driver; the join is a
    hash join on the bucket id, so work spreads across executors and
    candidate volume is ~n²/2^b per bucket instead of all-pairs.

    ``planes`` are ±1 integer hyperplanes applied to the micro-unit
    quantized vectors (:func:`similarity.hyperplane_signature_int`),
    so bucket ids are exact int64 arithmetic on every engine — the SQL
    oracle reproduces buckets, candidates, and cosines bit-for-bit.
    One side also probes every bucket at Hamming distance 1 from its
    own, so a pair survives one sign flip across the planes (near-dup
    pairs rarely differ on two); each unordered pair still matches at
    most once because the other side keeps its single exact bucket.
    Pairs with cosine >= 0.99 are kept.

    100 TB shape: b = len(planes) scales with corpus size (more planes
    → smaller buckets → fewer candidates per bucket); the verify stage
    touches only co-bucketed pairs. Mirrors the reference's
    seed-and-extend filter-then-verify (blast.py:158-351) rather than
    its all-vs-all.
    """
    from pygr_spark.operators.similarity import (
        dot_unrolled,
        hyperplane_signature_int,
        quantized,
        sqnorm_unrolled,
    )

    dim = len(planes[0])
    base = (
        corpus.select(
            F.col("vec_id").alias("_id"), quantized(F.col("embedding")).alias("_q")
        )
        .withColumn("_nn", sqnorm_unrolled("_q", dim))
        .withColumn("_bucket", hyperplane_signature_int("_q", planes))
    )
    # materialize the bucketed projection once: both self-join legs
    # would otherwise recompute quantize + the n_planes×dim bucket
    # unroll (measured 3x slower at sf0.1). At cluster scale the same
    # role is played by persisting it (write_bucketed on _bucket) and
    # self-joining the stored table.
    base = base.localCheckpoint(eager=False)
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_q").alias("_qa"),
        F.col("_nn").alias("_na"),
        "_bucket",
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_q").alias("_qb"),
        F.col("_nn").alias("_nb"),
        F.explode(
            F.array(
                F.col("_bucket"),
                *[
                    F.col("_bucket").bitwiseXOR(F.lit(1 << i)).cast("long")
                    for i in range(len(planes))
                ],
            )
        ).alias("_probe"),
    )
    cand = a.join(
        b, (F.col("_bucket") == F.col("_probe")) & (F.col("id_a") < F.col("id_b"))
    )
    cos = dot_unrolled("_qa", "_qb", dim) / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))
    )
    return (
        cand.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= F.lit(0.99))
        .select("id_a", "id_b", "cos_sim")
    )


def simhash(df: DataFrame, hash_fn=F.xxhash64, width: int = 64) -> DataFrame:
    """``width``-bit SimHash over whitespace tokens: bit b of the
    signature is the majority vote of bit b across hash(token) for all
    tokens (duplicates counted).

    Formulated as explode → hash → groupBy with one ``sum((h>>b)&1)``
    scalar aggregate per bit: every stage stays in whole-stage codegen
    (the old fold-over-array HOF was interpreted per element), and the
    majority test is ``2·count_set > n_tokens`` — identical to the
    ±1-vote sum. ``hash_fn=md5_hash60, width=60`` gives the
    engine-portable variant a SQL oracle can reproduce."""
    df = spread(df, "doc_id")
    toks = df.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").alias("_id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("_t"),
    )
    ex = toks.select("_id", hash_fn(F.col("_t")).alias("_h"))
    per = ex.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1))).alias(f"_c{b}")
            for b in range(width)
        ],
    )
    sig = F.lit(0).cast("long")
    for b in range(width):
        mask = (1 << b) if b < 63 else -(1 << 63)  # bit 63 = sign bit of int64
        sig = sig.bitwiseOR(
            F.when(
                F.lit(2) * F.col(f"_c{b}") > F.col("_n"), F.lit(mask).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return per.select(F.col("_id").alias("doc_id"), sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    hash_fn=F.xxhash64,
    sig_bits: int = 64,
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming, found
    by pigeonhole banding: split the signature bits into
    (max_hamming+1) chunks; any qualifying pair matches exactly on
    >= 1 chunk (even when integer division leaves trailing bits
    uncovered: ≤ max_hamming differences over nb > max_hamming chunks
    always leave one chunk clean) → equi-join per chunk, union, verify
    with bit_count(xor) over the full signature."""
    s = simhash(df, hash_fn, sig_bits)
    nb = max_hamming + 1
    width = sig_bits // nb
    banded = s.select(
        F.col("doc_id").alias("_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(nb)
                ]
            )
        ).alias("band", "chunk"),
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "chunk"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", dist).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    max_dist: int = 2,
    block_prefix: int = 8,
) -> DataFrame:
    """Fuzzy self/cross join on small edit distance — the near-identical-
    title/URL dedup primitive. All-pairs levenshtein is quadratic, so
    candidates are BLOCKED on a shared prefix (``block_prefix`` chars):
    one equi-join, then the exact ``levenshtein`` verify (JVM codegen,
    identical semantics in DuckDB) on candidates only. Standard
    blocking caveat (documented, not hidden): pairs whose edits fall
    inside the first ``block_prefix`` characters are not candidates —
    production fuzzy dedup runs a second pass blocked on a suffix or
    other key for full recall; recall is exact for edits at position
    ≥ block_prefix. Emits (id_a, id_b, dist) with id_a < id_b.

    Scale shape: the block key is an equi-join key (shuffle hash
    join); block sizes bound the quadratic verify the same way LSH
    bands bound MinHash (lsh_candidate_pairs above)."""
    lt = left.select(
        F.col("doc_id").alias("id_a"),
        F.col(text_col).alias("t_a"),
        F.substring(F.col(text_col), 1, block_prefix).alias("_blk"),
    )
    rt = right.select(
        F.col("doc_id").alias("id_b"),
        F.col(text_col).alias("t_b"),
        F.substring(F.col(text_col), 1, block_prefix).alias("_blk"),
    )
    return (
        lt.join(rt, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("t_a", "t_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )
