"""Deterministic sketches: Count-Min over tokens with engine-portable
md5-derived hash rows, so the sketch — normally "approximate and
engine-specific" — is bit-identical in any SQL engine and can sit
under the exact-hash oracle gate (unlike HLL/theta sketches, whose
binary registers are implementation-defined; those stay rows-only,
see the approx_aggs entry).

Reference analog: none (pygr has no sketches; SURVEY.md §2.4 lists
approximate aggregates as new engine surface).

Scale shape: the sketch is a groupBy over (depth, cell) — at most
d×w rows regardless of corpus size, the definitional Count-Min
property; estimates are a broadcast join of probes against those d×w
rows. Both ends are one shuffle on high-cardinality keys followed by
tiny aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygr_spark.operators.dedup import md5_hash60


def countmin_build(items: DataFrame, width: int = 256) -> DataFrame:
    """Build a 4×w Count-Min sketch from an ``item`` stream: cell (j, c)
    holds the count of items with ``md5(j || ',' || item) mod
    width == c``. Returns (depth_j, cell, total) — at most 4·w rows.
    """
    rows = []
    for j in range(4):
        rows.append(
            items.select(
                F.lit(j).alias("depth_j"),
                F.pmod(
                    md5_hash60(
                        F.concat_ws(",", F.lit(str(j)), F.col("item"))
                    ),
                    F.lit(width),
                ).cast("long").alias("cell"),
                F.lit(1).cast("long").alias("_w"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.groupBy("depth_j", "cell").agg(
        F.sum("_w").cast("long").alias("total")
    )


def countmin_estimate(sketch: DataFrame, probes: DataFrame, width: int = 256) -> DataFrame:
    """Point-query the sketch: the estimate for an item is the MIN
    over its 4 cells — an overestimate of (never below) the true
    count. The sketch side is ≤ 4·w rows and broadcasts."""
    probe_cells = probes.select(
        F.col("item"),
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("depth_j"),
    ).withColumn(
        "cell",
        F.pmod(
            md5_hash60(
                F.concat_ws(",", F.col("depth_j").cast("string"), F.col("item"))
            ),
            F.lit(width),
        ).cast("long"),
    )
    joined = probe_cells.join(F.broadcast(sketch), ["depth_j", "cell"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("total"), F.lit(0))).cast("long").alias("estimate")
    )


def hll_registers(items: DataFrame, group_cols: list[str], m: int = 64) -> DataFrame:
    """Per-group HyperLogLog register state (Flajolet et al. 2007)
    with the md5-portable hash, so — unlike Spark's opaque
    ``approx_count_distinct`` binary — the sketch itself sits under
    the exact-value oracle gate. Register index is the low lg(m) bits
    of the 60-bit hash; rho is the position of the highest set bit in
    the remaining 60−lg(m) bits counted from the top (leading zeros
    + 1), computed with exact integer ``length(bin(w))`` — no float
    log2, which rounds differently at powers of two.

    Returns one row per (group, register) actually hit: at most
    ``m`` rows per group no matter the stream size (the definitional
    HLL property). Duplicated items change nothing (max is
    idempotent), so no pre-distinct is needed. One shuffle on
    (group, register) with map-side partial max.

    The estimate E = alpha_m · m² / Σ_j 2^(−M_j) is a dyadic
    rational; callers that need it under an exact gate should emit
    the pair (L, num) with L = max_j M_j and num = Σ_j 2^(L−M_j)
    (missing registers contribute 2^L), which is the denominator
    scaled integer — see the hll_distinct catalog entry.
    """
    lg = m.bit_length() - 1
    assert 1 << lg == m, "m must be a power of two"
    wbits = 60 - lg
    h = md5_hash60(F.col("item").cast("string"))
    # shiftright, not `/ m`: double division loses exactness past
    # 2^53 and h is 60 bits (oracle side is integer `// m`)
    w = F.shiftright(h, lg)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        items.select(
            *group_cols,
            F.pmod(h, F.lit(m)).cast("long").alias("register"),
            rho.cast("long").alias("_rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("_rho").cast("long").alias("m_j"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge HLL register states produced by :func:`hll_registers`
    (possibly over different slices of a stream) down to one state per
    ``group_cols`` key: register-wise MAX, the HLL merge law. Because
    max is associative, commutative, and idempotent, any partition of
    the input rows — per-file sketches, per-day sketches, re-merged
    merges — yields the identical final state; the ``hll_union``
    catalog entry proves this against a direct single-pass build, and
    tests/test_sketches.py property-tests k random splits.

    Input must carry (group_cols..., register, m_j). Output has the
    same shape — a valid input to a further ``hll_merge``. One shuffle
    on (group, register) with map-side partial max; at most m rows per
    group regardless of how many sketches merged in.
    """
    return registers.groupBy(*group_cols, "register").agg(
        F.max("m_j").cast("long").alias("m_j")
    )


def hll_estimate_terms(
    registers: DataFrame, group_cols: list[str], keep_n_regs: bool = False
) -> DataFrame:
    """Reduce an m = 64 register state to the exact-integer estimate
    pair (hll_l, hll_num): L = max_j M_j and num = Σ_j 2^(L−M_j), with
    the m − |hit registers| missing registers contributing 2^L each. The
    raw HLL estimate is alpha_m·m²·2^L / num — a float; the pair is
    its integer-exact carrier, so it sits under a value-hash oracle
    gate (see the ``hll_distinct`` catalog entry for the SQL mirror).

    ``keep_n_regs`` (r12) additionally emits the per-group hit
    register count as ``n_regs`` — it is already an internal term of
    this aggregate, so callers that want it (hll_windows) skip a
    second pass over the register state plus a join.
    """
    from pyspark.sql import Window

    wL = Window.partitionBy(*group_cols)
    scaled = registers.withColumn("hll_l", F.max("m_j").over(wL)).withColumn(
        "_term",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hll_l - m_j AS INT))"),
    )
    agg = scaled.groupBy(*group_cols, "hll_l").agg(
        F.count(F.lit(1)).alias("_n_regs"),
        F.sum("_term").cast("long").alias("_hit_num"),
    )
    extra = (
        [F.col("_n_regs").cast("long").alias("n_regs")] if keep_n_regs else []
    )
    return agg.select(
        *group_cols,
        *extra,
        F.col("hll_l").cast("long").alias("hll_l"),
        (
            F.col("_hit_num")
            + (F.lit(64) - F.col("_n_regs"))
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hll_l AS INT))")
        ).cast("long").alias("hll_num"),
    )
