"""Property-based tests for the round-4 operators: randomized
invariants over resample_ffill, edit_distance_join, chunk_udtf and
kmeans_spherical (same bounded-example strategy as
test_properties.py — breadth of structure over volume)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pygr_spark.operators.dedup import edit_distance_join
from pygr_spark.operators.timeseries import resample_ffill

SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

NS = 1_000_000_000

events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),       # user
        st.integers(min_value=0, max_value=500),     # seconds
        st.integers(min_value=-5, max_value=5),      # value
    ),
    min_size=1,
    max_size=20,
)


@given(events)
@SET
def test_resample_grid_is_dense_and_fill_matches_brute_force(spark, evs):
    step = 60
    rows = [
        (u, s * NS, v, i) for i, (u, s, v) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, v long, event_id long"
    )
    out = resample_ffill(
        df, key="user_id", ts_ns="ts", value="v", step_s=step,
        order_tiebreak="event_id",
    ).collect()
    # brute-force expectation
    by_user: dict[int, list[tuple[int, int, int]]] = {}
    for u, s, v in [(r[0], r[1], r[2]) for r in rows]:
        by_user.setdefault(u, []).append((s // NS, v))
    got = {(r.user_id, r.bucket_start_s): (r.v, r.observed) for r in out}
    for u, obs in by_user.items():
        # pick the winning observation per bucket: max (sec, event_id)
        per_bucket: dict[int, tuple] = {}
        for i, (uu, s, v) in enumerate(evs):
            if uu != u:
                continue
            bk = (s // step) * step
            key = (s, i)
            if bk not in per_bucket or key > per_bucket[bk][0]:
                per_bucket[bk] = (key, v)
        lo = min(bk for bk in per_bucket)
        hi = max(bk for bk in per_bucket)
        last = None
        for bk in range(lo, hi + step, step):
            if bk in per_bucket:
                last = per_bucket[bk][1]
                assert got[(u, bk)] == (last, 1)
            else:
                assert got[(u, bk)] == (last, 0)
    # grid is exactly the union of the per-user dense ranges
    assert len(got) == sum(
        (max(b for b in pb) - min(b for b in pb)) // step + 1
        for pb in [
            {(s // step) * step for uu, s, _ in evs if uu == u}
            for u in by_user
        ]
    )


titles = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.text(
            alphabet="abX", min_size=0, max_size=12
        ),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(titles)
@SET
def test_edit_distance_join_matches_brute_force_within_blocks(spark, rows):
    def lev(a, b):
        # classic DP — independent reimplementation for the oracle
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                cur = min(
                    d[j] + 1,
                    d[j - 1] + 1,
                    prev + (a[i - 1] != b[j - 1]),
                )
                prev, d[j] = d[j], cur
        return d[n]

    bp, md = 3, 2
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_join(
            df, df, "title", max_dist=md, block_prefix=bp
        ).collect()
    }
    want = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            a, b = (ia, ta) if ia < ib else (ib, tb)
            c, d_ = (ib, tb) if ia < ib else (ia, ta)
            if ta[:bp] == tb[:bp] and lev(ta, tb) <= md:
                want[(a, c)] = lev(b, d_)
    assert got == want


texts = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.text(alphabet="ab ", min_size=0, max_size=40),
    ),
    min_size=1,
    max_size=6,
    unique_by=lambda t: t[0],
)


@given(texts)
@SET
def test_chunk_udtf_reassembles_losslessly(spark, rows):
    """Joining a doc's chunks back with single spaces reproduces the
    original text exactly (chunker is a partition of the token list)."""
    from pygr_spark.functions.udtfs import chunk_udtf

    spark.udtf.register("chunks4", chunk_udtf(4))
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "_prop_udtf"
    )
    out = spark.sql(
        "SELECT s.* FROM _prop_udtf d, LATERAL chunks4(d.doc_id, d.text) s"
    ).collect()
    rebuilt: dict[int, list[tuple[int, str, int]]] = {}
    for r in out:
        rebuilt.setdefault(r.doc_id, []).append((r.chunk_no, r.chunk, r.n_tokens))
    for doc_id, text in rows:
        parts = sorted(rebuilt[doc_id])
        assert [c for c, _, _ in parts] == list(range(1, len(parts) + 1))
        assert " ".join(p for _, p, _ in parts) == text
        assert sum(n for _, _, n in parts) == len(text.split(" "))


vecs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=99),
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=4, max_size=4
        ),
    ),
    min_size=3,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(vecs)
@settings(
    # r12 pytest-budget trim (32.2s at 10 examples)
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_kmeans_total_assignment_and_row_order_invariance(spark, rows):
    from pygr_spark.operators.clustering import kmeans_spherical

    # avoid zero vectors (cosine undefined — operator contract)
    rows = [
        (i, [float(x) for x in v] if any(v) else [1.0, 0.0, 0.0, 0.0])
        for i, v in rows
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = kmeans_spherical(df, k=2, n_iter=1).select("vec_id", "cluster_id")
    b = kmeans_spherical(
        df.orderBy(F.rand(seed=7)), k=2, n_iter=1
    ).select("vec_id", "cluster_id")
    ga = {r.vec_id: r.cluster_id for r in a.collect()}
    gb = {r.vec_id: r.cluster_id for r in b.collect()}
    assert ga == gb                      # row order never changes the result
    assert len(ga) == len(rows)          # total assignment
