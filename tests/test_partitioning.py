import pytest
from pyspark.sql import functions as F

from pygr_spark.operators.partitioning import (
    bucketed_table,
    salted_join,
    slices_from_chunks,
    write_bucketed,
)
from pygr_spark.sources.fasta import chunked


def test_salted_join_matches_plain(spark):
    skewed = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 1)], ["k", "v"]
    )
    other = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    plain = sorted(
        (r.k, r.v, r.tag) for r in skewed.join(other, "k").collect()
    )
    salted = sorted(
        (r.k, r.v, r.tag) for r in salted_join(skewed, other, "k", salt=4).collect()
    )
    assert salted == plain
    assert len(salted) == 501


def test_salted_join_left_keeps_unmatched_once(spark):
    skewed = spark.createDataFrame([("hot", 1), ("lonely", 2)], ["k", "v"])
    other = spark.createDataFrame([("hot", "H")], ["k", "tag"])
    got = sorted(
        (r.k, r.v, r.tag)
        for r in salted_join(skewed, other, "k", salt=4, how="left").collect()
    )
    assert got == [("hot", 1, "H"), ("lonely", 2, None)]


def test_salted_join_rejects_replica_duplicating_outer_modes(spark):
    # ADVICE r1: right/full outer would emit each unmatched row of the
    # replicated side once per salt replica
    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    for how in ("right", "full", "outer", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, df, "k", salt=2, how=how)


def test_split_prefix_works_on_any_column_name(spark):
    # ADVICE r1: the local-id component was hardcoded to a column
    # literally named `id`
    from pygr_spark.operators.annotation import split_prefix

    df = spark.createDataFrame(
        [("genome.chr1.5",), ("db2.x",)], ["res_name"]
    )
    pfx, local = split_prefix(F.col("res_name"))
    got = sorted(
        (r[0], r[1])
        for r in df.select(pfx.alias("p"), local.alias("l")).collect()
    )
    assert got == [("db2", "x"), ("genome", "chr1.5")]


def test_bucketed_join_has_no_shuffle(spark):
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "bt_a", "k", buckets=8, sort_by="k")
    write_bucketed(b, "bt_b", "k", buckets=8, sort_by="k")
    ta, tb = bucketed_table(spark, "bt_a"), bucketed_table(spark, "bt_b")
    joined = ta.join(tb, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # co-located buckets
    assert joined.count() == 1000
    agg = ta.groupBy("k").agg(F.sum("va"))
    plan2 = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan2


def test_slice_from_chunks(spark):
    df = spark.createDataFrame([("s", "abcdefghijklmnop")], ["id", "seq"])
    ch = chunked(df, chunk=4)
    req = spark.createDataFrame(
        [("s", 2, 11), ("s", 5, 7), ("s", 0, 16)],
        "id string, start long, stop long",
    )
    out = {(r.start, r.stop): r.letters for r in slices_from_chunks(ch, req).collect()}
    assert out == {
        (2, 11): "cdefghijk",
        (5, 7): "fg",  # slice inside one chunk
        (0, 16): "abcdefghijklmnop",  # full length
    }


def test_slices_from_chunks_batch(spark):
    df = spark.createDataFrame(
        [("a", "abcdefghijklmnop"), ("b", "xyz")], ["id", "seq"]
    )
    ch = chunked(df, chunk=4)
    req = spark.createDataFrame(
        [("a", 2, 11), ("a", 5, 7), ("b", 0, 3), ("b", 1, 2)],
        ["id", "start", "stop"],
    )
    out = {
        (r.id, r.start, r.stop): r.letters
        for r in slices_from_chunks(ch, req).collect()
    }
    assert out == {
        ("a", 2, 11): "cdefghijk",
        ("a", 5, 7): "fg",
        ("b", 0, 3): "xyz",
        ("b", 1, 2): "y",
    }


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (plan-time directory pruning), not a data filter over all files."""
    from pygr_spark.operators.partitioning import (
        read_partitioned,
        write_partitioned,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    back = read_partitioned(spark, path)
    pruned = back.filter(back.lang == "en").select("doc_id")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    # pruned scan answers match the unpartitioned source
    want = docs.filter(docs.lang == "en").count()
    assert pruned.count() == want
    # every partition value round-trips (string column survives inference)
    langs = {r.lang for r in back.select("lang").distinct().collect()}
    assert langs == {r.lang for r in docs.select("lang").distinct().collect()}


def test_orc_roundtrip_pushes_filter(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    li.write.mode("overwrite").format("orc").save(path)
    back = spark.read.format("orc").load(path).filter("l_returnflag = 'R'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_returnflag" in plan
    assert back.count() == li.filter("l_returnflag = 'R'").count()


class TestZorder:
    def test_morton_interleave_golden(self, spark):
        from pygr_spark.operators.partitioning import zorder_key

        df = spark.createDataFrame(
            [(0, 0), (3, 1), (1, 3), (5, 5)], "a long, b long"
        )
        out = {
            (r.a, r.b): r.z
            for r in df.select("a", "b", zorder_key("a", "b", bits=4).alias("z")).collect()
        }
        # interleave: bit i of a -> bit 2i, bit i of b -> bit 2i+1
        def morton(a, b):
            z = 0
            for i in range(4):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        assert out == {(a, b): morton(a, b) for a, b in [(0, 0), (3, 1), (1, 3), (5, 5)]}

    def test_zorder_sort_clusters_both_dims(self, spark):
        """After a Morton sort, consecutive chunks span narrow ranges
        of BOTH columns (the property row-group pruning relies on)."""
        from pygr_spark.operators.partitioning import zorder_key
        import pyspark.sql.functions as SF

        n = 4096
        df = spark.range(n).select(
            (SF.col("id") * 2654435761 % 64).alias("x"),
            (SF.col("id") * 40503 % 64).alias("y"),
        )
        rows = (
            df.withColumn("z", zorder_key("x", "y", bits=6))
            .orderBy("z")
            .collect()
        )
        chunk = 256
        spans = []
        for i in range(0, n, chunk):
            cx = [r.x for r in rows[i : i + chunk]]
            cy = [r.y for r in rows[i : i + chunk]]
            spans.append((max(cx) - min(cx)) * (max(cy) - min(cy)))
        # each 256-row chunk of a 64x64 morton-sorted grid covers a
        # small tile, far below the full 63*63 area
        assert sum(spans) / len(spans) < 63 * 63 / 4
