"""Build a k×-replicated copy of a testdata scale dir to probe operator
scaling (near-linear runtime vs data size; catches accidentally
quadratic plans that a single-SF bench cannot see).

Replication keeps the star-schema semantics: dimension tables
(region/nation) stay fixed; every fact/entity table is unioned k times
with its id-like keys offset by a large stride so foreign keys stay
consistent within each replica and never collide across replicas.
Text/value/timestamp columns are left untouched — duplicate documents
across replicas are realistic (crawl-style duplication) and exercise
the dedup operators' worst case.

Usage: python scripts/make_scaled.py [k] [src_dir] [dst_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pygr_spark.session import DRIVER_TABLES, get_spark

STRIDE = 10_000_000

#: id columns to offset per table; absent tables copy through unchanged
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/scaled_x{k}"
    spark = get_spark("make_scaled")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    os.makedirs(dst, exist_ok=True)
    for t in DRIVER_TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        df = spark.read.parquet(p)
        keys = KEYS.get(t, [])
        if not keys:
            out = df
        else:
            parts = []
            for i in range(k):
                rep = df
                for c in keys:
                    rep = rep.withColumn(c, F.col(c) + F.lit(i * STRIDE))
                parts.append(rep)
            out = parts[0]
            for rep in parts[1:]:
                out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
        print(f"{t}: x{k if keys else 1}")
    print(dst)


if __name__ == "__main__":
    main()
