"""Per-entry wall-clock probe mirroring bench.py's run_query protocol
(fresh warmed session, xxhash64-forced evaluation, min over N passes).

Usage: python scripts/time_entries.py SF_DIR [PASSES] entry [entry ...]

The per-entry numbers printed here are directly comparable to the
tier maps in BENCH_FULL.json — same forcing, same cache clearing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pygr_spark.queries import QUERIES  # noqa: E402
from pygr_spark.session import DRIVER_TABLES, get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    passes = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark("time_entries")
    for t in DRIVER_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()
    best: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.select(
                F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
            ).agg(F.expr("bit_xor(h)")).collect()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
            for rdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                try:
                    rdd.unpersist(False)
                except Exception:
                    pass
            spark.catalog.clearCache()
            if os.environ.get("TIME_ENTRIES_GC") == "1":
                # ContextCleaner frees checkpoint/broadcast blocks only
                # after a driver GC collects their weak refs; without
                # one, a long catalog pass ratchets the block manager
                # and late entries pay the bill
                spark.sparkContext._jvm.System.gc()
    for name in names:
        print(f"{name}: {best[name]:.3f}s")
    print(f"TOTAL: {sum(best.values()):.3f}s")


if __name__ == "__main__":
    main()
