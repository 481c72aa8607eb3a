"""Library-level tests for operators/stats.py — the reusable forms of
the experimentation/calibration catalog entries."""

import numpy as np
from pyspark.sql import functions as F


def test_group_moments_complement_identity(spark):
    from pygr_spark.operators.stats import group_moments

    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 5), ("b", 7), ("c", 9)], ["g", "v"]
    )
    rows = {r.g: r for r in group_moments(df, "g", "v").collect()}
    # complements are exact subtractions from the grand total
    assert rows["a"].n1 + rows["a"].n2 == 5
    assert rows["a"].s1 == 4 and rows["a"].s2 == 21
    assert rows["b"].q1 == 25 + 49 and rows["b"].q2 == 1 + 9 + 81


def test_poisson_bootstrap_weights_mean_near_one(spark):
    from pygr_spark.operators.stats import poisson_bootstrap

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    reps = poisson_bootstrap(df, "k", "v", b=8).collect()
    assert len(reps) == 8
    for r in reps:
        # Poisson(1): replicate size concentrates around n
        assert 0.85 * n < r.n_b < 1.15 * n
    # deterministic: second run is identical
    again = poisson_bootstrap(df, "k", "v", b=8).collect()
    assert sorted(map(tuple, reps)) == sorted(map(tuple, again))


def test_pava_isotonic_known_fixture(spark):
    from pygr_spark.operators.stats import pava_isotonic

    # classic PAVA fixture: values [1, 3, 2, 4] (unit weights) pools
    # bins 2-3 into mean 2.5
    bins = spark.createDataFrame(
        [(1, 1, 1), (2, 3, 1), (3, 2, 1), (4, 4, 1)],
        ["bin", "tot", "cnt"],
    )
    got = {
        r.bin: r.y_star for r in pava_isotonic(bins).collect()
    }
    assert got == {1: 1.0, 2: 2.5, 3: 2.5, 4: 4.0}


def test_pava_isotonic_weighted_pooling(spark):
    from pygr_spark.operators.stats import pava_isotonic

    # weights matter: [4 (w=1), 0 (w=3)] pools to weighted mean 1.0
    bins = spark.createDataFrame(
        [(1, 4, 1), (2, 0, 3)], ["bin", "tot", "cnt"]
    )
    got = {r.bin: r.y_star for r in pava_isotonic(bins).collect()}
    assert got == {1: 1.0, 2: 1.0}


def test_conformal_split_order_statistic(spark):
    from pygr_spark.operators.stats import conformal_split

    # residuals 1..19 in one group: n=19, ceil(20*0.9)=18 → qhat=18
    df = spark.createDataFrame(
        [("g", float(i), i) for i in range(1, 20)], ["grp", "r", "id"]
    )
    row = conformal_split(df, "grp", "r", "id").first()
    assert (row.n_cal, row.qhat) == (19, 18.0)


# ---------------------------------------------------------------------------
# property tests (hypothesis): the library invariants that matter
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ys=st.lists(st.integers(min_value=0, max_value=100), min_size=2,
                max_size=12),
    ws=st.data(),
)
def test_pava_properties(spark, ys, ws):
    """PAVA invariants: output is monotone non-decreasing, preserves
    the weighted total, and is a FIXPOINT on already-monotone input."""
    from pygr_spark.operators.stats import pava_isotonic

    weights = ws.draw(
        st.lists(st.integers(min_value=1, max_value=5), min_size=len(ys),
                 max_size=len(ys))
    )
    rows = [(i, y * w, w) for i, (y, w) in enumerate(zip(ys, weights))]
    bins = spark.createDataFrame(rows, ["bin", "tot", "cnt"])
    fit = sorted(pava_isotonic(bins).collect(), key=lambda r: r.bin)
    got = [r.y_star for r in fit]
    # monotone
    assert all(a <= b + 1e-9 for a, b in zip(got, got[1:]))
    # weighted mass preserved
    assert abs(
        sum(y * w for y, w in zip(got, weights))
        - sum(t for _, t, _ in rows)
    ) < 1e-6 * max(1, sum(t for _, t, _ in rows))
    # fixpoint on monotone input: fitting the fitted means changes nothing
    if all(a <= b for a, b in zip(ys, ys[1:])):
        assert all(abs(g - y) < 1e-9 for g, y in zip(got, ys))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n=st.integers(min_value=1, max_value=60))
def test_conformal_rank_bounds(spark, n):
    """The conformal rank ⌈(n+1)(1−α)⌉ is always in [1, n] for
    n ≥ 1/α − 1 and clips to n+1 (empty result) below — the returned
    q̂ must be the exact order statistic at that rank."""
    from pygr_spark.operators.stats import conformal_split

    df = spark.createDataFrame(
        [("g", float(i), i) for i in range(1, n + 1)], ["grp", "r", "id"]
    )
    rows = conformal_split(df, "grp", "r", "id").collect()
    k = -(-9 * (n + 1) // 10)  # ceil((n+1)*0.9)
    if k <= n:
        assert len(rows) == 1 and rows[0].qhat == float(k)
    else:
        # too few calibration points for the coverage level: no rank
        # exists and the operator correctly returns nothing
        assert rows == []


def test_bootstrap_weight_distribution_matches_cdf(spark):
    """Over many (key, replicate) draws the md5-derived weights must
    follow the Poisson(1) pmf implied by the literal CDF cutoffs."""
    from collections import Counter

    from pygr_spark.operators.stats import POISSON_CUT20, poisson_bootstrap

    n = 3000
    df = spark.range(n).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    reps = poisson_bootstrap(df, "k", "v", b=4)
    # n_b = sum of weights per replicate; E[n_b] = n
    sizes = [r.n_b for r in reps.collect()]
    for s_ in sizes:
        assert abs(s_ - n) < 4 * (n ** 0.5) * 1.5  # ~4.5 sigma
    # exact pmf check on one replicate worth of raw weights via SQL
    one = df.selectExpr(
        "CAST(conv(substr(md5(CAST(k AS STRING) || ':0'), 1, 5), 16, 10)"
        " AS BIGINT) AS h"
    ).toPandas()
    buckets = Counter()
    for h in one.h:
        w = 8
        for k_, p in enumerate(POISSON_CUT20):
            if h < p:
                w = k_
                break
        buckets[w] += 1
    # P(0) = P(1) = 1/e ≈ .3679 — both buckets within 5 sigma
    import math

    for k_ in (0, 1):
        p = math.exp(-1) / math.factorial(k_)
        mu, sd = n * p, (n * p * (1 - p)) ** 0.5
        assert abs(buckets[k_] - mu) < 5 * sd, (k_, buckets[k_], mu)
