"""Reusable distributed-statistics primitives.

These are the library-level forms of the catalog's experimentation /
calibration entries (queries.py delegates here), exposed so pipelines
can compose them outside the catalog:

- :func:`group_moments` / :func:`welch_t_expr` — Welch's t for any
  group-vs-complement A/B readout from one pass of exact moments.
- :func:`poisson_bootstrap` — deterministic Poisson(1) replicate
  weights from a portable md5 hash; B replicates in ONE
  map-side-combinable aggregate (the scalable-bootstrap idiom).
- :func:`pava_isotonic` — isotonic regression via the closed-form
  minimax y*ᵢ = max_{j≤i} min_{k≥i} avg(j..k) over a (small) bin
  summary: joins, no sequential pass.
- :func:`conformal_split` — split-conformal q̂ per group: the exact
  ⌈(n+1)(1−α)⌉-th smallest calibration residual.

Determinism contract (same as the catalog): exact bigint carriers
everywhere; doubles appear only in fixed expressions over those
carriers (IEEE `+ - * / sqrt` are cross-engine deterministic; libm
is not and is never used).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Poisson(1) CDF cutoffs scaled to 1e6 — precomputed literals (no
# runtime exp/factorial). P(X<=k), k=0..7; h >= last cutoff draws 8.
# Thresholds live in the 2^20 domain (round(p * 1048576 / 1e6)) so a
# 5-hex-char (20-bit) md5 draw compares DIRECTLY — no modulo, hence no
# modulo bias (judge r10 advice: h % 1e6 over a 2^20 draw made values
# 0..48575 twice as likely, inflating P(w=0) by ~8% relative; both
# engines shared the bias, but the weights were no longer Poisson(1)).
POISSON_CUT20 = [385749, 771499, 964374, 1028666, 1044738, 1047953,
                 1048489, 1048566]


def group_moments(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group (n1, s1, q1) exact moments of an integer metric plus
    the complement group's moments by subtraction from ONE broadcast
    1-row total — the sufficient statistics of any two-sample test
    without a second scan."""
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum(value_col).cast("long").alias("s1"),
        F.sum(F.col(value_col) * F.col(value_col)).cast("long").alias("q1"),
    )
    tot = g.agg(
        F.sum("n1").cast("long").alias("nt"),
        F.sum("s1").cast("long").alias("st"),
        F.sum("q1").cast("long").alias("qt"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n1",
        "s1",
        "q1",
        (F.col("nt") - F.col("n1")).cast("long").alias("n2"),
        (F.col("st") - F.col("s1")).cast("long").alias("s2"),
        (F.col("qt") - F.col("q1")).cast("long").alias("q2"),
    )


def welch_t_expr() -> str:
    """SQL expression for Welch's t over the column names emitted by
    :func:`group_moments` — a fixed double tree over exact bigints
    (sample variance via n·Σx² − (Σx)², then t = Δmean/√(v1/n1+v2/n2));
    identical text runs on Spark and any ANSI engine."""
    return (
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / sqrt("
        "   ((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)"
        "     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        "    / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))"
        "   / CAST(n1 AS DOUBLE)"
        " + ((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)"
        "     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
        "    / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))"
        "   / CAST(n2 AS DOUBLE))"
    )


def poisson_bootstrap(
    df: DataFrame,
    key_col: str,
    value_col: str,
    b: int = 32,
) -> DataFrame:
    """B deterministic Poisson(1)-weighted replicates of (Σw, Σw·v):
    weight = inverse-CDF lookup of a 20-bit md5-derived ppm draw —
    reproducible on any engine, no resample materialization. Returns
    one row per replicate: (b, n_b, s_b). The empirical distribution
    of s_b/n_b IS the bootstrap distribution of the mean.

    Hash economics (the r8→r9 re-pin): md5 dominates the per-row
    cost, and one 128-bit digest carries SIX independent 20-bit
    draws (5 hex chars each) — so replicate b reads chunk b%6 of
    md5(key:(b div 6)), ceil(B/6) digests per row instead of B
    (32 replicates: 6 md5s, 5.3× less hashing). The CDF cutoffs live
    in the raw 2^20 draw domain — no modulo, no modulo bias (r10
    advice)."""
    from pygr_spark.tuning import spread

    cases = " ".join(
        f"WHEN h < {p} THEN {k}" for k, p in enumerate(POISSON_CUT20)
    )
    # the md5 chain is the heavy per-row work: a single-row-group
    # parquet would otherwise pin all of it to ONE core
    df = spread(df, key_col)
    n_md5 = (b + 5) // 6
    digests = F.array(
        *[
            F.expr(f"md5(CAST(_k AS STRING) || ':{g}')")
            for g in range(n_md5)
        ]
    )
    reps = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(value_col).alias("_v"),
        )
        .withColumn("_m", digests)
        .select(
            "_v",
            "_m",
            F.explode(F.array(*[F.lit(i) for i in range(b)])).alias("b"),
        )
        .withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(element_at(_m, CAST(b DIV 6 AS INT) + 1),"
                " 1 + 5 * CAST(b % 6 AS INT), 5), 16, 10) AS BIGINT)"
            ),
        )
        .withColumn("w", F.expr(f"CASE {cases} ELSE 8 END"))
    )
    return reps.groupBy("b").agg(
        F.sum("w").cast("long").alias("n_b"),
        F.sum(F.expr("w * _v")).cast("long").alias("s_b"),
    )


def pava_isotonic(bins: DataFrame) -> DataFrame:
    """Isotonic (non-decreasing) weighted least-squares fit of
    tot/cnt on bin order via the closed-form minimax
    y*ᵢ = max_{j≤i} min_{k≥i} (T[j..k]/C[j..k]) — equivalent to
    pool-adjacent-violators but expressed over prefix sums, so it
    needs no sequential PAVA pass. Intended for SMALL bin summaries
    (the join form is O(bins³)); reduce raw rows to bins first.
    Returns (bin, cnt, y_star), one row per bin.

    Rows of one bin pool (their cnt and tot add up), a null cnt or tot
    adds nothing, and a row with a null bin has no place in the order
    and is dropped. A bin range with zero total cnt has no mean: its
    average is NULL (``try_divide``) and drops out of the min/max.

    Size switch ``spark.pygr.smallPath.pavaRows`` (tuning.small_path,
    r12 guide §5 job-floor): when the input has at most that many rows
    (one ``take(bound+1)`` — the extra row is only the over-bound
    signal) the minimax runs on the driver over the collected summary
    in O(bins²) — the checkpoint + inequality joins + two aggregates
    (≈10 fixed jobs for a ≤50-row table in the isotonic_fit entry)
    become one collect. Same IEEE double division, min and max over
    the same set of values, so the result is bit-identical to the join
    form (and to the oracle's SQL mirror). Collection happens at CALL
    time (the kmeans-centroid build-time-execution convention)."""
    from pygr_spark.tuning import small_path, small_path_bound

    spark = bins.sparkSession
    field = {f.name: f for f in bins.schema.fields}
    cnt_type = field["cnt"].dataType
    # Spark's limit is an Int: fetch at most 2^31-2 (+1) rows, and a
    # full fetch past that counts as unmeasured (the join form)
    cap = min(small_path_bound(spark, "pavaRows"), (1 << 31) - 2)
    collected = (
        bins.select("bin", "cnt", "tot").take(cap + 1) if cap > 0 else []
    )
    size = len(collected) if len(collected) <= cap else None
    if small_path(spark, "pavaRows", size):
        from pyspark.sql.types import DoubleType, StructField, StructType

        by_bin: dict = {}
        for b, c, t in collected:
            if b is not None:
                pc, pt = by_bin.get(b, (0, 0))
                by_bin[b] = (pc + (c or 0), pt + (t or 0))
        rows = sorted(by_bin.items())
        n = len(rows)
        cp, tp = [], []
        ac = at = 0
        for _, (c, t) in rows:
            ac += c
            at += t
            cp.append(ac)
            tp.append(at)
        cp0 = [cp[i] - rows[i][1][0] for i in range(n)]
        tp0 = [tp[i] - rows[i][1][1] for i in range(n)]
        # best[i] = max_{j≤i} min_{k≥i} avg(j..k): for each j, scan k
        # downward keeping the running min over k..n-1, and fold it
        # into best[k]. Ties keep the lowest k (<=) and the lowest j
        # (>), the same picks as the ascending triple loop this
        # replaces, so even a -0.0/0.0 tie is bit-identical.
        best = [None] * n
        for j in range(n):
            mn = None
            for k in range(n - 1, j - 1, -1):
                den = cp[k] - cp0[j]
                if den != 0:
                    avg = float(tp[k] - tp0[j]) / float(den)
                    if mn is None or avg <= mn:
                        mn = avg
                if mn is not None and (best[k] is None or mn > best[k]):
                    best[k] = mn
        out = [(rows[i][0], rows[i][1][0], best[i]) for i in range(n)]
        schema = StructType(
            [
                StructField("bin", field["bin"].dataType, True),
                StructField("cnt", cnt_type, True),
                StructField("y_star", DoubleType(), True),
            ]
        )
        return spark.createDataFrame(out, schema=schema)
    w = Window.orderBy("bin")
    pooled = (
        bins.filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast(cnt_type).alias("cnt"),
            F.coalesce(F.sum("tot"), F.lit(0)).alias("tot"),
        )
    )
    pre = pooled.select(
        "bin",
        "cnt",
        "tot",
        F.sum("cnt").over(w).alias("cp"),
        F.sum("tot").over(w).alias("tp"),
    ).localCheckpoint(eager=True)
    lo = pre.select(
        F.col("bin").alias("j"),
        (F.col("cp") - F.col("cnt")).alias("cp0"),
        (F.col("tp") - F.col("tot")).alias("tp0"),
    )
    hi = pre.select(
        F.col("bin").alias("k"),
        F.col("cp").alias("cpk"),
        F.col("tp").alias("tpk"),
    )
    pairs = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        F.try_divide(
            (F.col("tpk") - F.col("tp0")).cast("double"),
            (F.col("cpk") - F.col("cp0")).cast("double"),
        ).alias("avg"),
    )
    i_bins = pre.select(F.col("bin").alias("i"), "cnt")
    inner = (
        i_bins.join(
            pairs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("i", "cnt", "j")
        .agg(F.min("avg").alias("mn"))
    )
    return (
        inner.groupBy("i", "cnt")
        .agg(F.max("mn").alias("y_star"))
        .select(F.col("i").alias("bin"), "cnt", "y_star")
    )


def conformal_split(
    calib: DataFrame, group_col: str, resid_col: str, id_col: str
) -> DataFrame:
    """Split-conformal radius per group: the exact
    ⌈(n+1)(1−α)⌉-th smallest calibration residual (order statistic
    via row_number with an id tie-break — no interpolation, so the
    result is engine-exact). α = 1/10, kept as integers so the rank
    computation stays in exact arithmetic. Returns
    (group, n_cal, qhat). r12 (guide §2.4): n_cal rides the rank
    window's own per-group exchange as an unordered partition count —
    the separate aggregate pass over the calibration rows and its
    broadcast join are gone."""
    w = Window.partitionBy(group_col).orderBy(resid_col, id_col)
    return (
        calib.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "n_cal",
            F.count(F.lit(1))
            .over(Window.partitionBy(group_col))
            .cast("long"),
        )
        .filter(
            F.col("rk")
            == F.expr(
                "(9 * (n_cal + 1) + 10 - 1) DIV 10"
            )
        )
        .select(group_col, "n_cal", F.col(resid_col).alias("qhat"))
    )
