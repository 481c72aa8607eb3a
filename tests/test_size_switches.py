"""Every size switch (tuning.small_path) forced both ways.

Six operators pick a physical path from a measured size: relax_k,
fm_count and hits_scores choose broadcast or keyed joins
(``broadcastBytes``); kcore_peel, ktruss_peel and pava_isotonic finish
on the driver below a row bound (``peelRows``, ``trussRows``,
``pavaRows``). Each site runs here on both paths, forced through the
``switch_bound`` fixture, over the inputs the catalog fixtures never
show: empty, one row, duplicated rows, nulls in key and value
columns, zero counts and one hot key. Both paths must return the same
rows, or raise the same declared error; where a hand-computed answer
is known it is pinned too.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import LARGE, SMALL
from test_peel_knobs import _py_kcore_rounds, _py_ktruss_rounds

from pygr_spark.operators.fmindex import fm_count
from pygr_spark.operators.graphs import kcore_peel, ktruss_peel, relax_k
from pygr_spark.operators.stats import pava_isotonic
from pygr_spark.queries import q_hits_scores


def _rows(rows):
    return sorted(rows, key=repr)


def _both_paths(switch_bound, switch, run, declared=None):
    """run() under the small and the large path: both must return the
    same rows (sorted by repr), or both fail with an error whose message
    holds ``declared``. Returns the agreed rows, or ``declared``."""
    out = {}
    for path, bound in (("small", SMALL), ("large", LARGE)):
        switch_bound(switch, bound)
        try:
            out[path] = _rows(run())
        except Exception as exc:
            if declared is None or declared not in str(exc):
                raise
            out[path] = declared
    assert out["small"] == out["large"]
    return out["small"]


# ---------------------------------------------------------------------------
# relax_k — broadcastBytes: frontier broadcast or keyed
# ---------------------------------------------------------------------------

# name → (edges (src, dst, w), init (node, value), k, better, golden)
RELAX_INPUTS = {
    "empty": ([], [], 2, "min", {}),
    "one_row": ([(0, 1, 2)], [(0, 0)], 2, "min", {0: 0, 1: 2}),
    "duplicated": (
        [(0, 1, 2), (0, 1, 2), (1, 2, 1), (1, 2, 1)], [(0, 0), (0, 0)], 2,
        "min", {0: 0, 1: 2, 2: 3},
    ),
    "nulls": (
        [(0, 1, 3), (1, 2, None), (None, 2, 1), (1, None, 1)],
        [(0, 0), (None, 1), (2, None)], 2, "min", {0: 0, 1: 3},
    ),
    "zero_counts": (
        [(0, 1, 0), (1, 2, 0), (2, 0, 0)], [(0, 0)], 2, "min",
        {0: 0, 1: 0, 2: 0},
    ),
    "hot_key": (
        [(0, i, i) for i in range(1, 41)] + [(i, 0, 1) for i in range(1, 41)],
        [(0, 0)], 2, "min", {0: 0, **{i: i for i in range(1, 41)}},
    ),
    # formerly test_broadcast_bounds.py's max-chain parity check
    "max_chain_seeded": (
        [(0, 1, 5), (1, 2, 3), (0, 2, 3)], [(0, 2), (1, 5), (2, 3)], 3,
        "max", {0: 2, 1: 7, 2: 10},
    ),
}


@pytest.mark.parametrize("case", sorted(RELAX_INPUTS))
def test_relax_k_both_paths(spark, switch_bound, case):
    edges, init, k, better, golden = RELAX_INPUTS[case]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    i = spark.createDataFrame(init, "node long, value long")
    got = _both_paths(
        switch_bound, "broadcastBytes",
        lambda: map(tuple, relax_k(e, i, k, better=better).collect()),
    )
    assert dict(got) == golden


# ---------------------------------------------------------------------------
# fm_count — broadcastBytes: LF-step probe set broadcast or keyed
# ---------------------------------------------------------------------------

_FM_ERROR = "fm_count: sequence outside [acgt] alphabet"

# name → (docs (doc_id, seq), pattern, golden {doc_id: n_occ} or error)
FM_INPUTS = {
    "empty": ([], "ac", {}),
    "one_row": ([(0, "acgtacgt")], "ac", {0: 2}),
    # a repeated doc_id is one document whose text is read twice
    "duplicated": ([(0, "acga"), (0, "acga"), (1, "gg")], "ga", None),
    # a null doc_id is one document, as in the oracle's PARTITION BY
    "null_key": ([(None, "acgacg"), (1, "acg")], "ac", {None: 2, 1: 1}),
    "null_value": ([(0, None), (1, "acg")], "ac", _FM_ERROR),
    "zero_counts": ([(0, ""), (1, "tttt")], "ac", {0: 0, 1: 0}),
    "hot_key": ([(0, "acg" * 300), (1, "a")], "ac", {0: 300, 1: 0}),
    # formerly test_broadcast_bounds.py's keyed-vs-broadcast check
    "mixed_docs": (
        [(0, "acgtacgt"), (1, "aaaa"), (2, "tgca"), (3, "")], "acg",
        {0: 2, 1: 0, 2: 0, 3: 0},
    ),
}


@pytest.mark.parametrize("case", sorted(FM_INPUTS))
def test_fm_count_both_paths(spark, switch_bound, case):
    docs, pattern, golden = FM_INPUTS[case]
    df = spark.createDataFrame(docs, "doc_id long, seq string")
    got = _both_paths(
        switch_bound, "broadcastBytes",
        lambda: map(tuple, fm_count(df, pattern).collect()),
        declared=_FM_ERROR,
    )
    if golden == _FM_ERROR:
        assert got == _FM_ERROR
    elif golden is not None:
        assert dict(got) == golden


# ---------------------------------------------------------------------------
# hits_scores — broadcastBytes: orders projection broadcast or keyed
# ---------------------------------------------------------------------------

# name → (orders (o_orderkey, o_custkey), lineitem (l_orderkey, l_suppkey),
#         golden [(suppkey, rank, a1, a3)] or None)
HITS_INPUTS = {
    "empty": ([], [], []),
    "one_row": ([(1, 10)], [(1, 100)], [(100, 1, 1, 1)]),
    "duplicated": (
        [(1, 10), (1, 10), (2, 11), (2, 11)],
        [(1, 100), (1, 100), (2, 100), (2, 101), (2, 101)],
        [(100, 1, 2, 13), (101, 2, 1, 8)],
    ),
    "nulls": (
        [(1, None), (None, 11), (2, 12), (3, 13)],
        [(1, 100), (2, None), (None, 101), (2, 102), (3, 102)],
        None,
    ),
    "zero_counts": ([(1, 10)], [(2, 100)], []),
    "hot_key": (
        [(i, i) for i in range(1, 31)],
        [(i, 7) for i in range(1, 31)] + [(1, 8)],
        [(7, 1, 30, 27061), (8, 2, 1, 932)],
    ),
}


@pytest.mark.parametrize("case", sorted(HITS_INPUTS))
def test_hits_scores_both_paths(spark, switch_bound, tmp_path, case):
    orders, lineitem, golden = HITS_INPUTS[case]
    for name, cols, rows in (
        ("orders", ("o_orderkey", "o_custkey"), orders),
        ("lineitem", ("l_orderkey", "l_suppkey"), lineitem),
    ):
        table = pa.table(
            {c: pa.array([r[n] for r in rows], pa.int64())
             for n, c in enumerate(cols)}
        )
        pq.write_table(table, os.path.join(tmp_path, f"{name}.parquet"))
    got = _both_paths(
        switch_bound, "broadcastBytes",
        lambda: map(tuple, q_hits_scores(spark, str(tmp_path)).collect()),
    )
    if golden is not None:
        assert got == _rows(golden)


# ---------------------------------------------------------------------------
# kcore_peel — peelRows: driver-side finish of the bounded unroll
# ---------------------------------------------------------------------------

_TRI = [(0, 1), (1, 2), (0, 2)]
_P12 = [(i, i + 1) for i in range(11)]
_MIXED = (
    [(i, i + 1) for i in range(9)]                      # path tail, peels away
    + [(100 + i, 100 + (i + 1) % 5) for i in range(5)]  # 5-cycle core
    + [(100, 5)]                                        # bridge
)


def _sym(pairs):
    return [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]


# name → (directed edge rows (u, v), k, budgets, golden rows or "reference")
KCORE_INPUTS = {
    "empty": ([], 2, (1, 3), []),
    "one_row": ([(0, 1), (1, 0)], 2, (1, 3), []),
    "duplicated": (_sym(_TRI) * 2, 2, (1, 3), _sym(_TRI) * 2),
    "nulls": (
        _sym(_TRI) + [(None, 1), (1, None), (2, None), (None, None)], 2,
        (1, 3), _sym(_TRI),
    ),
    # k=0: every degree passes, nothing peels
    "zero_counts": (_sym(_TRI + [(5, 6)]), 0, (1, 3), _sym(_TRI + [(5, 6)])),
    "hot_key": (_sym(_TRI + [(0, i) for i in range(10, 30)]), 2, (1, 3),
                _sym(_TRI)),
    # formerly test_peel_knobs.py's driver-finish parity checks: every
    # budget against the plain-Python synchronized unroll
    "path_graph": (_sym(_P12), 2, (1, 2, 3, 6, 8), "reference"),
    "mixed_graph": (_sym(_MIXED), 2, (1, 2, 3, 6, 8), "reference"),
}


@pytest.mark.parametrize("case", sorted(KCORE_INPUTS))
def test_kcore_peel_both_paths(spark, switch_bound, case):
    rows, k, budgets, golden = KCORE_INPUTS[case]
    df = spark.createDataFrame(rows, "u long, v long")
    for budget in budgets:
        got = _both_paths(
            switch_bound, "peelRows",
            lambda: map(tuple, kcore_peel(df, k=k, max_rounds=budget).collect()),
        )
        if golden == "reference":
            pairs = [(u, v) for u, v in rows if u < v]
            assert got == _rows(_py_kcore_rounds(pairs, k, budget)), budget
        else:
            assert got == _rows(golden), budget


# ---------------------------------------------------------------------------
# ktruss_peel — trussRows: driver-side finish of the bounded unroll
# ---------------------------------------------------------------------------

_STRIP = [
    (0, 1), (0, 2), (1, 2),
    (1, 3), (2, 3),
    (2, 4), (3, 4),
    (4, 5),
    (5, 6), (5, 7), (6, 7),  # detached triangle, survives alone
]

# name → (oriented edge rows (u, v), k, budgets,
#         golden {(u, v): support} or "reference")
KTRUSS_INPUTS = {
    "empty": ([], 3, (1, 4), {}),
    "one_row": ([(1, 2)], 3, (1, 4), {}),
    "duplicated": (_TRI * 2, 3, (1, 4), {e: 1 for e in _TRI}),
    "nulls": (
        [(None, 1), (None, 2), (1, 2), (1, 3), (2, 3)], 3, (1, 4),
        {(1, 2): 1, (1, 3): 1, (2, 3): 1},
    ),
    # zero-support edges all peel in round 1
    "zero_counts": ([(1, 2), (3, 4), (4, 5)], 3, (1, 4), {}),
    "hot_key": (
        [(0, i) for i in range(1, 21)] + [(1, 2)], 3, (1, 4),
        {(0, 1): 1, (0, 2): 1, (1, 2): 1},
    ),
    # formerly test_peel_knobs.py's driver-finish parity checks: every
    # budget (incl. the budget-exhausted trailing support pass)
    # against the plain-Python unroll; duplicates count once
    "strip": (_STRIP, 3, (1, 2, 3, 4), "reference"),
    "strip_duplicated": (
        _STRIP + [(1, 3), (4, 5), (4, 5), (6, 7)], 3, (1, 2, 3, 4), "reference",
    ),
}


@pytest.mark.parametrize("case", sorted(KTRUSS_INPUTS))
def test_ktruss_peel_both_paths(spark, switch_bound, case):
    rows, k, budgets, golden = KTRUSS_INPUTS[case]
    df = spark.createDataFrame(rows, "u long, v long")
    for budget in budgets:
        got = _both_paths(
            switch_bound, "trussRows",
            lambda: map(tuple, ktruss_peel(df, k=k, max_rounds=budget).collect()),
        )
        want = (
            _py_ktruss_rounds(set(rows), k, budget)
            if golden == "reference" else golden
        )
        assert {(u, v): s for u, v, s in got} == want, budget


def test_ktruss_peel_rejects_k_below_3(spark):
    df = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss_peel(df, k=2)


# ---------------------------------------------------------------------------
# pava_isotonic — pavaRows: driver-side O(n²) minimax
# ---------------------------------------------------------------------------

# name → (rows (bin, cnt, tot), golden {bin: (cnt, y_star)} or None)
PAVA_INPUTS = {
    "empty": ([], {}),
    "one_row": ([(1, 2, 5)], {1: (2, 2.5)}),
    # rows of one bin pool: bin 1 is cnt 3, tot 11
    "duplicated": ([(1, 2, 10), (1, 1, 1), (2, 1, 5)],
                   {1: (3, 11 / 3), 2: (1, 5.0)}),
    # a null cnt or tot adds nothing, a null bin is dropped; bin 1
    # alone (cnt 0) has no mean and pools with bin 2
    "nulls": (
        [(1, None, 4), (2, 2, None), (None, 1, 1), (3, 1, 3)],
        {1: (0, 2.0), 2: (2, 2.0), 3: (1, 3.0)},
    ),
    "zero_counts": ([(1, 2, 5), (2, 0, 3), (3, 1, 1), (5, 0, 0)], None),
    "hot_key": ([(1, 1, 1)] * 30 + [(2, 1, 0)],
                {1: (30, 30 / 31), 2: (1, 30 / 31)}),
    # formerly test_stats_ops.py's driver-vs-join-form check: mixed
    # violations over non-contiguous bins
    "mixed_violations": (
        [(1, 2, 5), (3, 1, 1), (4, 3, 9), (7, 1, 2), (9, 2, 8)], None,
    ),
}


@pytest.mark.parametrize("case", sorted(PAVA_INPUTS))
def test_pava_isotonic_both_paths(spark, switch_bound, case):
    rows, golden = PAVA_INPUTS[case]
    df = spark.createDataFrame(rows, "bin long, cnt long, tot long")
    got = _both_paths(
        switch_bound, "pavaRows",
        lambda: map(tuple, pava_isotonic(df).collect()),
    )
    assert len(got) == len({b for b, _c, _t in rows if b is not None})
    if golden is not None:
        assert {b: (c, y) for b, c, y in got} == golden


def test_small_path_rule(spark, switch_bound):
    from pygr_spark.tuning import SMALL_PATH_BOUNDS, small_path

    assert set(SMALL_PATH_BOUNDS) == {
        "broadcastBytes", "peelRows", "trussRows", "pavaRows"
    }
    assert small_path(spark, "pavaRows", 512)  # the default bound
    assert not small_path(spark, "pavaRows", 513)
    assert not small_path(spark, "pavaRows", None)  # unmeasured: large
    switch_bound("pavaRows", LARGE)
    assert not small_path(spark, "pavaRows", 0)  # 0 = never small
    switch_bound("pavaRows", SMALL)
    assert small_path(spark, "pavaRows", 10**12)
