"""Time each HEADLINE query's DuckDB oracle at a scale factor — the
same-machine comparison the judge makes against bench.py output.

Usage: python scripts/oracle_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import HEADLINE  # noqa: E402
from pygr_spark.queries import ORACLES  # noqa: E402
from pygr_spark.session import DRIVER_TABLES  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out, total = {}, 0.0
    for name in HEADLINE:
        if name not in ORACLES:
            out[name] = None
            continue
        best = None
        for _ in range(2):
            t0 = time.time()
            con.execute(ORACLES[name]).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 4)
        total += best
    print(json.dumps({"total": round(total, 4), "queries": out}))


if __name__ == "__main__":
    main()
