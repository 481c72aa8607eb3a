import pytest
from conftest import LARGE, SMALL

from pygr_spark.operators.graphs import (
    connected_components,
    degrees,
    foreign_key_graph,
    invert,
    pagerank_exact,
    relax_k,
    splice_graph,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_invert(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    got = sorted((r.src, r.dst) for r in invert(e).collect())
    assert got == [(2, 1), (3, 2)]


def test_degrees(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    d = {r.node: (r.out_degree, r.in_degree) for r in degrees(e).collect()}
    assert d == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


def test_foreign_key_graph(spark):
    src = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    tgt = spark.createDataFrame([(10, 1), (11, 1)], ["row_id", "fk"])
    out = foreign_key_graph(src, tgt, "id", "fk")
    assert out.count() == 2
    left = foreign_key_graph(src, tgt, "id", "fk", how="left")
    assert left.count() == 3  # source 2 kept with NULL target


def test_pagerank_star(spark):
    # everyone points at node 0 → node 0 has the max rank; ranks are
    # integers in units of 1e-12: base 0.15, node 0 at 0.15 + 0.85·3·0.15
    e = _edges(spark, [(1, 0), (2, 0), (3, 0)])
    ranks = {r.node: r.rank for r in pagerank_exact(e, n_iter=8).collect()}
    assert ranks == {
        0: 532_500_000_000,
        1: 150_000_000_000,
        2: 150_000_000_000,
        3: 150_000_000_000,
    }


def test_connected_components(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (12, 12)])
    cc = {r.node: r.component for r in connected_components(e).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[12] == 12
    assert cc[1] != cc[10]


def test_connected_components_long_chain(spark):
    """Pointer jumping must converge a path graph whose diameter far
    exceeds max_iter: distance covered doubles per round (O(log d)),
    where plain neighbor propagation would silently return unconverged
    labels after the cap."""
    from pyspark.sql import functions as F

    chain = spark.range(499).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = connected_components(chain, max_iter=12)
    comps = [r.component for r in out.collect()]
    assert len(comps) == 500
    assert set(comps) == {0}  # one component, labeled by the min node


def test_splice_graph(spark):
    exons = spark.createDataFrame(
        [
            ("e1", "c1", 0, 100),
            ("e2", "c1", 200, 300),
            ("e3", "c1", 200, 400),   # alt3 with e2? shares start 200 (alt5)
        ],
        ["exon_id", "cluster_id", "genomic_start", "genomic_end"],
    )
    splices = spark.createDataFrame(
        [("s1", "c1", 100, 200)],
        ["splice_id", "cluster_id", "ver_gen_start", "ver_gen_end"],
    )
    g = splice_graph(exons, splices)
    edges = sorted(
        (r.from_exon, r.splice_id, r.to_exon) for r in g["splice_edges"].collect()
    )
    assert edges == [("e1", "s1", "e2"), ("e1", "s1", "e3")]
    alt5 = [(r.exon_a, r.exon_b) for r in g["alt5"].collect()]
    assert alt5 == [("e2", "e3")]  # shared genomic_start
    assert g["alt3"].count() == 0


def _unit(pairs):
    return [(a, b, 1) for a, b in pairs]


# name → (edges (src, dst, w), init (node, value), k, golden for "min")
RELAX_CASES = {
    "cheaper_longer_path": ([(0, 2, 10), (0, 1, 2), (1, 2, 3)], [(0, 0)], 6, None),
    "hop_bound": ([(0, 1, 1), (1, 2, 1), (2, 3, 1)], [(0, 0)], 2, None),
    "two_cycle": ([(0, 1, 1), (1, 0, 1)], [(0, 0)], 8, None),
    "multi_source": ([(0, 2, 9), (5, 2, 1)], [(0, 0), (5, 0)], 3, None),
    "bounds_graph": (
        [(0, 1, 4), (1, 2, 1), (0, 2, 10), (2, 3, 2)], [(0, 0)], 4, None,
    ),
    "chain_dst_weights": (
        [(1, 2, 3), (2, 3, 4)], [(1, 5), (2, 3), (3, 4)], 6, None,
    ),
    "diamond": (
        [(1, 2, 1), (1, 3, 9), (2, 4, 2), (3, 4, 2)],
        [(1, 5), (2, 1), (3, 9), (4, 2)], 6, None,
    ),
    "chain_k1": (
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], [(n, 1) for n in range(1, 5)], 1,
        None,
    ),
    "triangle_seeded": (
        [(0, 1, 5), (1, 2, 3), (0, 2, 3)], [(0, 2), (1, 5), (2, 3)], 3, None,
    ),
    # BFS levels: min-plus with unit weights; the back edge 4→1 does
    # not lower 1's level and 10/11 stay unreachable
    "bfs_golden": (
        _unit([(1, 2), (2, 3), (3, 4), (10, 11), (4, 1)]), [(1, 0)], 8,
        {1: 0, 2: 1, 3: 2, 4: 3},
    ),
    "bfs_depth_truncates": (
        _unit([(i, i + 1) for i in range(6)]), [(0, 0)], 3,
        {0: 0, 1: 1, 2: 2, 3: 3},
    ),
    "empty_init": ([(0, 1, 1)], [], 3, {}),
    "duplicate_edges": (
        [(0, 1, 2), (0, 1, 2), (0, 1, 5), (1, 2, 1), (1, 2, 1)], [(0, 0)], 3,
        None,
    ),
    "cycle_k_below_diameter": (
        [(i, (i + 1) % 8, i + 1) for i in range(8)], [(0, 0)], 3, None,
    ),
    # a null field carries no path: the ±2^62 "worst" sentinel must not
    # surface as node 2's value
    "null_fields": (
        [(0, 1, 3), (1, 2, None), (None, 2, 1), (1, None, 1)],
        [(0, 0), (None, 1), (2, None)], 3, {0: 0, 1: 3},
    ),
}


def _relax_reference(edges, init, k, better):
    """k synchronous rounds relaxing EVERY edge (no frontier); rows
    with a null field carry no path."""
    pick = min if better == "min" else max
    edges = [e for e in edges if None not in e]
    val = {}
    for n, v in init:
        if n is not None and v is not None:
            val[n] = pick(val[n], v) if n in val else v
    for _ in range(k):
        nxt = dict(val)
        for s, d, w in edges:
            if s in val:
                nxt[d] = pick(nxt[d], val[s] + w) if d in nxt else val[s] + w
        val = nxt
    return val


@pytest.mark.parametrize("mode", ["broadcast", "keyed", "auto_tiny_bound"])
@pytest.mark.parametrize("better", ["min", "max"])
@pytest.mark.parametrize("case", sorted(RELAX_CASES))
def test_relax_k_matches_reference(spark, switch_bound, case, better, mode):
    """Both frontier join forms of relax_k, both semirings, equal a
    plain k-round Python relaxation; under a 1-byte bound the measured
    frontier runs keyed from round 0."""
    edges, init, k, golden = RELAX_CASES[case]
    bound = {"broadcast": SMALL, "keyed": LARGE, "auto_tiny_bound": 1}[mode]
    switch_bound("broadcastBytes", bound)
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    i = spark.createDataFrame(init, "node long, value long")
    got = {r.node: r.value for r in relax_k(e, i, k, better=better).collect()}
    assert got == _relax_reference(edges, init, k, better)
    if golden is not None and better == "min":
        assert got == golden
