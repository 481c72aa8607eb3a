"""Per-entry Spark JOB counter — the tier-3 floor diagnostic.

Each Spark action costs a fixed ~0.3-0.5s of scheduling/codegen in
local mode regardless of data size (bench.py tier-3 note), so the
per-entry job count IS the per-entry floor multiplier. This script
runs each entry once and reports how many jobs fired during
(a) construction (the QUERIES[name] call itself — guard probes,
eager checkpoints, iterative rounds) and (b) the single forcing
action, via the status tracker's job-id high-water mark.

Usage: python scripts/job_count.py SF_DIR entry [entry ...]
       python scripts/job_count.py SF_DIR --tier3
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pygr_spark.queries import QUERIES  # noqa: E402
from pygr_spark.session import DRIVER_TABLES, get_spark  # noqa: E402


def _job_ids(spark) -> int:
    """Number of job ids seen so far (high-water mark)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--tier3"]:
        names = bench.HEADLINE3
    elif names == ["--tier2"]:
        names = bench.HEADLINE2
    elif names == ["--tier1"]:
        names = bench.HEADLINE
    spark = get_spark("job_count")
    for t in DRIVER_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).count()
    out = {}
    for name in names:
        j0 = _job_ids(spark)
        df = QUERIES[name](spark, sf_dir)
        j1 = _job_ids(spark)
        bench.force(df)
        j2 = _job_ids(spark)
        out[name] = {"build": j1 - j0, "force": j2 - j1, "total": j2 - j0}
        bench.release(spark)
    for name, d in sorted(out.items(), key=lambda kv: -kv[1]["total"]):
        print(f"{name}: total={d['total']} build={d['build']} force={d['force']}")
    tot = sum(d["total"] for d in out.values())
    print(f"SUM: {tot} jobs over {len(out)} entries "
          f"(avg {tot / max(len(out), 1):.1f}/entry)")


if __name__ == "__main__":
    main()
