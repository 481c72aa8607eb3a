"""Per-entry wall-clock probe on bench.py's force/release protocol
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

from bench import force, release  # noqa: E402
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
            force(QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
            release(spark)
    for name in names:
        print(f"{name}: {best[name]:.3f}s")
    print(f"TOTAL: {sum(best.values()):.3f}s")


if __name__ == "__main__":
    main()
