"""Round-budget (max_rounds) contract of the bounded peeling
operators — the knob the kcore_decomp / ktruss_edges catalog entries
and their oracle unrolls share.

Two claims pinned here (VERDICT r6 item #6):

1. PRE-fixpoint determinism: with a budget SMALLER than the graph's
   peeling depth, the bounded unroll is still well-defined — the
   operator's result equals a plain Python simulation of the same
   number of synchronized rounds, for every budget. This is what
   makes a bounded Spark loop and a bounded SQL CTE chain provably
   identical even when neither reaches fixpoint.

2. The depth is a STRUCTURE property, not a size property: a path
   graph P_n needs ~n/2 k=2-core rounds (each round only exposes the
   two new endpoints), so rounds-to-fixpoint grows with path LENGTH
   while the replicated-graph probe (SCALING.md peel-rounds batch)
   shows it flat under 64x row replication. Budgets must be sized to
   expected depth, which bulk replication never increases.
"""
from pyspark.sql import functions as F

from pygr_spark.operators.graphs import kcore_peel, ktruss_peel


def _both_dirs(spark, pairs):
    df = spark.createDataFrame(pairs, ["u", "v"])
    return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _py_kcore_rounds(pairs, k, rounds):
    """Synchronized bounded peel, plain Python reference."""
    edges = set(pairs) | {(v, u) for u, v in pairs}
    for _ in range(rounds):
        deg = {}
        for u, _v in edges:
            deg[u] = deg.get(u, 0) + 1
        if all(d >= k for d in deg.values()):
            break
        keep = {u for u, d in deg.items() if d >= k}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    return edges


def _py_ktruss_rounds(pairs, k, rounds):
    """Synchronized bounded edge peel, plain Python reference
    (oriented u < v edges)."""
    edges = set(pairs)
    t = k - 2
    for _ in range(rounds):
        support = {e: 0 for e in edges}
        es = edges
        for (a, b) in es:
            for (b2, c) in es:
                if b2 == b and (a, c) in es:
                    for e in ((a, b), (b, c), (a, c)):
                        support[e] += 1
        kept = {e for e in edges if support[e] >= t}
        if kept == edges:
            break
        edges = kept
    # final support on the surviving set
    out = {}
    for (a, b) in edges:
        out[(a, b)] = 0
    for (a, b) in edges:
        for (b2, c) in edges:
            if b2 == b and (a, c) in edges:
                for e in ((a, b), (b, c), (a, c)):
                    out[e] += 1
    return {e: s for e, s in out.items() if s >= t}


def test_kcore_path_graph_bounded_unroll_equivalence(spark):
    # P_12: 0-1-2-...-11. k=2 peel removes the two endpoints per
    # round; fixpoint (empty graph) needs 6 rounds.
    pairs = [(i, i + 1) for i in range(11)]
    for budget in (1, 2, 3, 6, 8):
        got = sorted(
            (r.u, r.v)
            for r in kcore_peel(
                _both_dirs(spark, pairs), k=2, max_rounds=budget
            ).collect()
        )
        expect = sorted(_py_kcore_rounds(pairs, 2, budget))
        assert got == expect, f"budget={budget}"
    # depth grows with path length: budget 6 empties P_12 but not P_20
    assert got == []
    long_path = [(i, i + 1) for i in range(19)]
    survivors = kcore_peel(
        _both_dirs(spark, long_path), k=2, max_rounds=6
    ).count()
    assert survivors > 0  # 6 rounds strip 12 of 20 nodes, 8 remain


def test_kcore_cycle_is_immediate_fixpoint(spark):
    # every node of a cycle has degree 2: round 1's early-exit probe
    # fires and the graph survives intact under ANY budget
    pairs = [(i, (i + 1) % 8) for i in range(8)]
    got = kcore_peel(_both_dirs(spark, pairs), k=2, max_rounds=1)
    assert got.count() == 16


def test_ktruss_strip_bounded_unroll_equivalence(spark):
    # triangle strip with a dangling tail triangle chain: peeling
    # cascades (outer edges die, inner supports drop next round)
    pairs = [
        (0, 1), (0, 2), (1, 2),
        (1, 3), (2, 3),
        (2, 4), (3, 4),
        (4, 5),  # pendant edge: zero support, dies round 1
    ]
    for budget in (1, 2, 3, 4):
        got = {
            (r.u, r.v): r.support
            for r in ktruss_peel(
                spark.createDataFrame(pairs, ["u", "v"]),
                k=3,
                max_rounds=budget,
            ).collect()
        }
        expect = _py_ktruss_rounds(pairs, 3, budget)
        assert got == expect, f"budget={budget}"


def test_catalog_budgets_reach_fixpoint_at_test_scale(spark, sf_dir):
    # the catalog's R=8 / R=4 budgets converge on the real
    # co-purchase graph: one extra round changes nothing
    from pygr_spark.queries import (
        _KCORE_K,
        _KCORE_ROUNDS,
        _KTRUSS_K,
        _KTRUSS_ROUNDS,
        _truss_pairs,
    )

    pairs = _truss_pairs(spark, sf_dir).select("u", "v")
    both = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    at_budget = sorted(
        (r.u, r.v)
        for r in kcore_peel(
            both, k=_KCORE_K, max_rounds=_KCORE_ROUNDS
        ).collect()
    )
    beyond = sorted(
        (r.u, r.v)
        for r in kcore_peel(
            both, k=_KCORE_K, max_rounds=_KCORE_ROUNDS + 1
        ).collect()
    )
    assert at_budget == beyond
    t_at = sorted(
        (r.u, r.v, r.support)
        for r in ktruss_peel(
            pairs, k=_KTRUSS_K, max_rounds=_KTRUSS_ROUNDS
        ).collect()
    )
    t_beyond = sorted(
        (r.u, r.v, r.support)
        for r in ktruss_peel(
            pairs, k=_KTRUSS_K, max_rounds=_KTRUSS_ROUNDS + 1
        ).collect()
    )
    assert t_at == t_beyond
