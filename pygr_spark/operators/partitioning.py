"""Partitioning strategies for 100 TB joins: salting for skewed keys,
bucketing for shuffle-free co-located joins, and chunked random access
for genome-length strings.

These are the knobs SURVEY.md §4 maps from the reference's hand-built
physical tricks (manual coordinate-system partitioning at int32
overflow, cnestedlist.pyx:1437-1444; clustered prefetch,
sqlgraph.py:992-1031) onto Spark's:

- **salted_join**: a hot key (one sequence id owning most intervals,
  one document template duplicated millions of times) turns a shuffle
  partition into a straggler. Salting splits the hot side's key into
  ``salt`` sub-keys and replicates the other side ``salt``-ways —
  bounded memory, even partitions. AQE's skew-join handles moderate
  skew automatically; salting is for the pathological tail.

- **write_bucketed / bucketed_table**: pre-shuffle a fact table ONCE
  into hash buckets on its join key; every later equi-join or
  aggregation on that key reads co-located buckets with NO exchange
  (asserted in tests/test_partitioning.py by plan inspection). This
  replaces the reference's union/LPO coordinate partitioning as the
  "reuse a partitioning across stages" primitive.

- **slices_from_chunks**: random-access substrings over sequences
  stored as fixed-width chunk rows (sources.fasta.chunked) — the
  fseek-into-.pureseq path (seqdb.py:458-472) as a pruned chunk join:
  each (id, start, stop) request reads only the chunks overlapping
  [start, stop) (range predicate on chunk_start → parquet row-group
  pruning at scale). A single slice is a one-row request frame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to heavy key skew on ``skewed``: its rows get
    a deterministic sub-key in [0, salt); ``other`` is replicated once
    per sub-key; the join key becomes (key, salt) so a hot key spreads
    over ``salt`` partitions. Join columns/semantics match a plain
    ``skewed.join(other, key, how)`` for the skewed-side-preserving
    modes only — with right/full outer, each unmatched ``other`` row
    would surface once per salt replica, so those modes raise."""
    allowed = {"inner", "cross", "left", "leftouter", "left_outer",
               "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): right/full outer would duplicate "
            "unmatched rows of the replicated side once per salt replica; "
            "swap the inputs or use a plain join with AQE skew handling."
        )
    s = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    )
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(salt)]))
    )
    return s.join(o, [key, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on ``key``
    — the write-once pre-shuffle that later joins/aggregations on
    ``key`` reuse without an Exchange."""
    spark = df.sparkSession
    # a previous session may have left the managed location behind
    # without a catalog entry; overwrite can't recover from that
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def slices_from_chunks(
    chunks: DataFrame,
    slices: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Batch strslice over chunked storage: ``slices`` holds
    ``(id, start, stop)`` requests; each is answered by joining ONLY
    the chunk rows it overlaps (chunk_start pushdown-able), clipping
    each chunk to the request, and concatenating in chunk order.
    Returns ``(id, start, stop, letters)``, over the layout built by
    ``pygr_spark.sources.fasta.chunked``."""
    j = chunks.join(slices, id_col).filter(
        (F.col("chunk_start") < F.col("stop"))
        & (F.col("chunk_start") + F.length("chunk") > F.col("start"))
    )
    local_start = F.greatest(F.col("start") - F.col("chunk_start"), F.lit(0))
    local_stop = F.least(F.col("stop") - F.col("chunk_start"), F.length("chunk"))
    clipped = j.select(
        id_col,
        "start",
        "stop",
        "chunk_no",
        F.substring(
            F.col("chunk"),
            (local_start + 1).cast("int"),
            (local_stop - local_start).cast("int"),
        ).alias("piece"),
    )
    return clipped.groupBy(id_col, "start", "stop").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_no", "piece"))),
                lambda x: x["piece"],
            ),
        ).alias("letters")
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned layout: one directory per distinct value
    of the partition columns. A filter on a partition column prunes
    whole directories at PLANNING time (``PartitionFilters`` in the
    scan node — zero IO for excluded partitions), which is THE 100 TB
    scan lever: a lang/tenant/date-partitioned corpus answers
    single-partition queries at single-partition cost. This is the
    Spark-native replacement for the reference's clustered prefetch
    (sqlgraph.py:992-1031 loads a whole cluster by cluster key ≈ one
    partition directory) and resource-per-namespace layout. Fixed
    ``path`` + overwrite keeps reruns leak-free."""
    df.write.mode(mode).format(fmt).partitionBy(*partition_by).save(path)


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a partitioned layout; partition columns come back as real
    columns recovered from directory names."""
    return spark.read.format(fmt).load(path)


def zorder_key(col_a: str, col_b: str, bits: int = 16) -> "Column":
    """Morton (Z-order) interleave of the low ``bits`` of two integer
    columns — ONE codegen expression (2·bits shift-mask-or terms built
    as a single SQL string; the Column-API build would pay a py4j trip
    per term).

    Sorting a table by this key before writing clusters BOTH
    dimensions into each parquet row group, so min/max row-group
    stats prune scans filtered on EITHER column — the lakehouse
    multi-dimensional layout trick (Delta/Iceberg OPTIMIZE ZORDER) as
    a plain expression. At 100 TB this is the difference between a
    full scan and touching a few percent of row groups for a 2-D
    range predicate."""
    from pyspark.sql import functions as F

    terms = " | ".join(
        f"(((CAST({col_a} AS BIGINT) >> {i}) & 1) << {2 * i}) | "
        f"(((CAST({col_b} AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return F.expr(f"({terms})")
