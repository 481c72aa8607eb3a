"""Golden tests for co-purchase co-occurrence (operators/cooccur.py)
and the exact-integer stats entries (sales_trend slope arithmetic,
anomaly z-square rewrite)."""

from pyspark.sql import functions as F

from pygr_spark.operators.cooccur import copurchase_topn


def _baskets(spark, rows):
    return spark.createDataFrame(rows, "b long, i long")


class TestCopurchase:
    def test_golden_pairs(self, spark):
        # baskets: {1,2,3}, {1,2}, {1,2}, {3,4}
        rows = [(10, 1), (10, 2), (10, 3), (11, 1), (11, 2), (12, 1), (12, 2), (13, 3), (13, 4)]
        out = copurchase_topn(
            _baskets(spark, rows), "b", "i", top_n=2
        ).collect()
        got = {(r.item, r.co_item): (r.pair_count, r.rank) for r in out}
        # pair (1,2) count 3 — both directions, rank 1; nothing else >= 2
        assert got == {(1, 2): (3, 1), (2, 1): (3, 1)}

    def test_duplicate_lines_count_once(self, spark):
        # the same item twice in one basket is ONE membership
        rows = [(10, 1), (10, 1), (10, 2), (11, 1), (11, 2)]
        out = copurchase_topn(
            _baskets(spark, rows), "b", "i", top_n=3
        ).collect()
        assert {(r.item, r.co_item, r.pair_count) for r in out} == {
            (1, 2, 2),
            (2, 1, 2),
        }

    def test_max_basket_drops_megabasket(self, spark):
        # basket 99 has 5 items > cap 4 -> contributes no pairs
        rows = [(99, i) for i in range(5)] + [(1, 1), (1, 2), (2, 1), (2, 2)]
        out = copurchase_topn(
            _baskets(spark, rows), "b", "i", top_n=3,
            max_basket=4,
        ).collect()
        assert {(r.item, r.co_item) for r in out} == {(1, 2), (2, 1)}

    def test_rank_ties_break_on_id(self, spark):
        # item 1 pairs equally with 2 and 3 -> rank order by co_item
        rows = [(10, 1), (10, 2), (11, 1), (11, 2), (20, 1), (20, 3), (21, 1), (21, 3)]
        out = (
            copurchase_topn(_baskets(spark, rows), "b", "i", top_n=2)
            .filter(F.col("item") == 1)
            .orderBy("rank")
            .collect()
        )
        assert [(r.co_item, r.rank) for r in out] == [(2, 1), (3, 2)]


class TestExactStats:
    def test_slope_arithmetic(self, spark):
        # y = 100x + 7 exactly -> num/den == 100
        pts = spark.createDataFrame(
            [("N", x, 100 * x + 7) for x in range(5)], "n string, x long, y long"
        )
        s = pts.groupBy("n").agg(
            F.count(F.lit(1)).alias("n_"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        ).collect()[0]
        num = s.n_ * s.sxy - s.sx * s.sy
        den = s.n_ * s.sxx - s.sx * s.sx
        assert den > 0 and num % den == 0 and num // den == 100

    def test_zsquare_rewrite_matches_float(self, spark):
        # integer rewrite (n*v - S)^2 > 9*(n*Sq - S^2) flags exactly
        # the |z| > 3 rows of the float formulation
        import statistics

        vals = [100] * 50 + [103, 97, 500]  # 500 is the outlier
        mu = statistics.mean(vals)
        sd = statistics.pstdev(vals)
        float_flags = {i for i, v in enumerate(vals) if sd and abs(v - mu) > 3 * sd}
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, c long"
        )
        n = len(vals)
        sc = sum(vals)
        scc = sum(v * v for v in vals)
        out = df.filter(
            (F.col("c") * n - sc) * (F.col("c") * n - sc)
            > 9 * (n * scc - sc * sc)
        ).collect()
        assert {r.id for r in out} == float_flags
