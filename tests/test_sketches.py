"""Count-Min sketch: determinism + the overestimate guarantee."""

from pyspark.sql import functions as F

from pygr_spark.operators.sketches import countmin_build, countmin_estimate


def test_countmin_never_underestimates(spark):
    items = spark.createDataFrame(
        [(w,) for w in ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"]], ["item"]
    )
    sketch = countmin_build(items, width=16)  # narrow -> collisions
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["item"])
    est = {r.item: r.estimate for r in countmin_estimate(sketch, probes, width=16).collect()}
    exact = {"a": 50, "b": 20, "c": 5, "d": 1}
    for k, v in exact.items():
        assert est[k] >= v  # CM guarantee
    # total mass bound: no cell exceeds the stream size
    assert sketch.agg(F.max("total")).collect()[0][0] <= 76


def test_countmin_deterministic_across_builds(spark):
    items = spark.createDataFrame([(f"w{i % 7}",) for i in range(100)], ["item"])
    a = sorted(map(tuple, countmin_build(items).collect()))
    b = sorted(map(tuple, countmin_build(items).collect()))
    assert a == b
    assert len(a) <= 4 * 256


def test_countmin_unseen_item_estimates_low(spark):
    items = spark.createDataFrame([("x",)] * 10, ["item"])
    sketch = countmin_build(items, width=256)
    probes = spark.createDataFrame([("never-seen",)], ["item"])
    est = countmin_estimate(sketch, probes, width=256).collect()[0]
    # with 1 distinct item in 4x256 cells, an unseen probe almost
    # surely misses every cell -> estimate 0 (min over empty cells)
    assert est.estimate in (0, 10)


def test_hll_estimate_within_hll_error_bound(spark):
    """The dyadic pair (L, num) emitted by the hll_distinct entry must
    reconstruct to alpha_64*64^2*2^L/num within HLL's expected error
    (1.04/sqrt(64) ~ 13%; allow 3 sigma) for a 5k-distinct stream."""
    from pygr_spark.operators.sketches import hll_registers

    n = 5000
    items = spark.createDataFrame([(f"item-{i}",) for i in range(n)], ["item"])
    regs = hll_registers(items.withColumn("g", F.lit("x")), ["g"], m=64)
    rows = {r.register: r.m_j for r in regs.collect()}
    assert len(rows) <= 64
    L = max(rows.values())
    num = sum(2 ** (L - rows.get(j, 0)) for j in range(64))
    est = 0.709 * 64 * 64 * (2**L) / num
    assert abs(est - n) / n < 0.40  # 3 sigma of 1.04/sqrt(64)


def test_hll_duplicates_do_not_change_registers(spark):
    from pygr_spark.operators.sketches import hll_registers

    once = spark.createDataFrame([(f"i{i}",) for i in range(200)], ["item"])
    thrice = once.unionAll(once).unionAll(once)
    a = sorted(map(tuple, hll_registers(once.withColumn("g", F.lit(1)), ["g"]).collect()))
    b = sorted(map(tuple, hll_registers(thrice.withColumn("g", F.lit(1)), ["g"]).collect()))
    assert a == b


def test_hll_merge_of_random_splits_equals_direct_build(spark):
    """The merge law as a library API (hll_merge): partition a stream
    into k random slices, sketch each slice independently, merge —
    the merged register state must be bit-identical to the direct
    single-pass build, for every k and every split. Also re-merging
    the merge (idempotence) and merging in two stages (associativity)
    must change nothing."""
    import random

    from pygr_spark.operators.sketches import hll_merge, hll_registers

    rng = random.Random(42)
    rows = [(f"doc-{i}", f"g{i % 3}") for i in range(500)]
    direct = sorted(
        map(
            tuple,
            hll_registers(
                spark.createDataFrame(rows, ["item", "g"]), ["g"], m=32
            ).collect(),
        )
    )
    for k in (2, 5):
        slices = [[] for _ in range(k)]
        for r in rows:
            slices[rng.randrange(k)].append(r)
        sketches = [
            hll_registers(spark.createDataFrame(s, ["item", "g"]), ["g"], m=32)
            for s in slices
            if s
        ]
        unioned = sketches[0]
        for s in sketches[1:]:
            unioned = unioned.unionByName(s)
        merged = hll_merge(unioned, ["g"])
        assert sorted(map(tuple, merged.collect())) == direct, f"k={k}"
        # idempotent: merging the merged state is a no-op
        assert sorted(map(tuple, hll_merge(merged, ["g"]).collect())) == direct
    # associative: ((s0+s1)+s2...) staged merge == flat merge
    staged = hll_merge(sketches[0].unionByName(sketches[1]), ["g"])
    for s in sketches[2:]:
        staged = hll_merge(staged.unionByName(s), ["g"])
    assert sorted(map(tuple, staged.collect())) == direct


def test_hll_estimate_terms_matches_catalog_entry(spark, sf_dir):
    """hll_estimate_terms (the library reduction) must produce the
    same (hll_l, hll_num) pairs the gated hll_distinct entry emits."""
    from pygr_spark.operators.sketches import hll_estimate_terms, hll_registers
    from pygr_spark.queries import _t, q_hll_distinct

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_partkey").alias("item")
    )
    regs = hll_registers(li, ["l_returnflag"], m=64)
    api = {
        r.l_returnflag: (r.hll_l, r.hll_num)
        for r in hll_estimate_terms(regs, ["l_returnflag"]).collect()
    }
    entry = {
        r.l_returnflag: (r.hll_l, r.hll_num)
        for r in q_hll_distinct(spark, sf_dir).collect()
    }
    assert api == entry


def test_bloom_prune_no_false_negatives(spark, sf_dir):
    """Every true member must survive the Bloom pruning (the one-sided
    guarantee); false positives are allowed and labeled."""
    from pygr_spark.queries import q_bloom_prune, _t

    out = q_bloom_prune(spark, sf_dir).toPandas()
    orders = _t(spark, sf_dir, "orders")
    true_members = {
        r.o_custkey
        for r in orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey").distinct().collect()
    }
    got_members = set(out[out.is_member == 1].c_custkey)
    assert got_members == true_members
    # and the filter actually prunes something at sf0.001/sf0.01
    n_cust = _t(spark, sf_dir, "customer").count()
    assert len(out) <= n_cust


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer guarantee: two docs sharing a substring of length
    >= k + w - 1 = 23 share at least one fingerprint."""
    from pygr_spark.operators.dedup import md5_hash60
    from pyspark.sql import Window

    shared = "the quick brown fox jumps over it"  # 33 chars
    docs = spark.createDataFrame(
        [(1, "aaax" + shared + "zzzq" * 3), (2, "bb bb" + shared + "ppp qq rr")],
        ["doc_id", "text"],
    )
    grams = (
        docs.select("doc_id", F.lower("text").alias("s"))
        .filter(F.length("s") >= 23)
        .select(
            "doc_id",
            (F.length("s") - 7).alias("n_h"),
            F.explode(F.sequence(F.lit(1), F.length("s") - 7)).alias("pos"),
            "s",
        )
        .select("doc_id", "n_h", "pos", md5_hash60(F.expr("substring(s, pos, 8)")).alias("h"))
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 15)
    fps = (
        grams.withColumn("fp", F.min("h").over(wmin))
        .filter(F.col("pos") <= F.col("n_h") - 15)
        .select("doc_id", "fp").distinct().toPandas()
    )
    a = set(fps[fps.doc_id == 1].fp)
    b = set(fps[fps.doc_id == 2].fp)
    assert a & b, "shared 33-char substring must produce a shared fingerprint"


def test_weighted_sample_rate_tracks_weight(spark, sf_dir):
    """Inclusion probability is proportional to price: the kept set's
    mean price must exceed the population mean (heavier rows more
    likely kept), and every max-price row is always kept (p=1)."""
    from pygr_spark.queries import q_weighted_sample, _t, cents

    kept = q_weighted_sample(spark, sf_dir).toPandas()
    pop = (
        _t(spark, sf_dir, "orders")
        .select(cents(F.col("o_totalprice")).alias("c"))
        .toPandas()
    )
    assert kept.price_cents.mean() > pop.c.mean()
    assert kept.price_cents.max() == pop.c.max()
