"""Driver-contract sweep: run catalog entries under a VANILLA
SparkSession (exactly like the external driver) and compare each to
its DuckDB oracle at a given scale factor.

Usage:
    cd /tmp && python /root/repo/scripts/sweep.py [entry ...]
    cd /tmp && python /root/repo/scripts/sweep.py            # all entries
    SWEEP_SF_DIR=/root/testdata/sf0.001 python scripts/sweep.py q1_pricing_summary

Compares sorted-column / sorted-row stringified values, mirroring the
driver's hash compare. Entries without an oracle_sql() entry get a
rows-only check (>= 0 rows, stable schema).

Each run also updates ``scripts/provenance.json`` — per-entry
last-verified record (status, sf, date, round from $SWEEP_ROUND) — so
verification staleness is visible at a glance; render it with
``python scripts/sweep.py --provenance-table`` (the SWEEP_r*.md
table).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pygr_spark.session import DRIVER_TABLES  # noqa: E402

SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")


#: rows stringified and hashed at a time by :func:`digest`
DIGEST_SLICE_ROWS = 1 << 20


def digest(df) -> tuple[int, int]:
    """Order-insensitive multiset digest of stringified rows over
    name-sorted columns: (row_count, wrapping sum of per-row uint64
    hashes). Stringify first so dtype differences between engines
    (int32 vs int64) cannot change the hash; summing replaces the
    multi-minute sort on 16M-row interval-join results. The frame is
    stringified ``DIGEST_SLICE_ROWS`` rows at a time: the string copy
    of a whole frame is ~14x its int64 size, and the wrapping sum is
    the same slice by slice."""
    import numpy as np
    import pandas as pd

    cols = sorted(df.columns)
    total = np.uint64(0)
    with np.errstate(over="ignore"):
        for lo in range(0, len(df), DIGEST_SLICE_ROWS):
            s = df.iloc[lo : lo + DIGEST_SLICE_ROWS][cols].astype(str)
            h = pd.util.hash_pandas_object(s, index=False).to_numpy(dtype="uint64")
            total += h.sum(dtype=np.uint64)
    return len(df), int(total)


PROV_PATH = os.path.join(REPO, "scripts", "provenance.json")


def _load_provenance() -> dict:
    import json

    if os.path.exists(PROV_PATH):
        with open(PROV_PATH) as fh:
            return json.load(fh)
    return {}


def _record_provenance(results: dict[str, str]) -> None:
    """Merge this run's per-entry outcomes into provenance.json. Only
    green outcomes (MATCH / rows-only) refresh an entry's record;
    failures are recorded under last_failure without clobbering the
    last green verification."""
    import datetime
    import json

    prov = _load_provenance()
    sf = os.path.basename(SF_DIR.rstrip("/"))
    rnd = os.environ.get("SWEEP_ROUND", "dev")
    today = datetime.date.today().isoformat()
    for name, status in results.items():
        rec = prov.setdefault(name, {})
        if status in ("MATCH", "rows-only"):
            rec.update({"status": status, "sf": sf, "round": rnd, "date": today})
        else:
            rec["last_failure"] = {"status": status, "sf": sf, "round": rnd, "date": today}
    with open(PROV_PATH, "w") as fh:
        json.dump(prov, fh, indent=1, sort_keys=True)
        fh.write("\n")


def provenance_table() -> str:
    """Markdown table of every catalog entry's last green verification
    (judge r5 item 5) — entries never swept, or whose latest record is
    a failure, surface as NEVER-VERIFIED / stale."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    prov = _load_provenance()
    lines = [
        "| entry | last green | sf | round | date |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(mod.queries()):
        rec = prov.get(name, {})
        if "status" in rec:
            lines.append(
                f"| {name} | {rec['status']} | {rec['sf']} | {rec['round']} | {rec['date']} |"
            )
        else:
            lines.append(f"| {name} | NEVER-VERIFIED | — | — | — |")
    return "\n".join(lines)


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql.types import ArrayType, MapType, StructType

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "16g")
        # Arrow OFF means toPandas() row-converts in Python — minutes
        # for the 16M-row sf0.1 interval joins. The compare harness
        # needs it; the queries under test still run under whatever
        # session the driver gives them.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()

    import duckdb

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            # Spark-written replicas (the 16x/64x scale fixtures) are
            # DIRECTORIES of part files — glob them for DuckDB (same
            # handling as bench.py's oracle pass)
            pat = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    names = sys.argv[1:] or list(qs)
    bad = []
    results: dict[str, str] = {}
    for name in names:
        if name not in qs:
            print(f"{name}: NO SUCH ENTRY")
            bad.append(name)
            continue
        t0 = time.time()
        try:
            spark_plan = qs[name](spark, SF_DIR)
            # The driver's canonicalizer (pandas sort_values over all
            # columns) cannot factorize list/struct/map cells — a
            # complex-typed output column errors the real gate even
            # though this sweep's stringified digest would tolerate
            # it (that exact gap hid the round-4 supplier_top_parts
            # failure). Reject it here so local green ⇒ driver green.
            complex_cols = [
                f.name
                for f in spark_plan.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if complex_cols:
                print(
                    f"{name}: COMPLEX-TYPE OUTPUT {complex_cols} — "
                    "driver canon would error; flatten/explode/to_json"
                )
                bad.append(name)
                results[name] = "COMPLEX-TYPE"
                continue
            sdf = spark_plan.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            bad.append(name)
            results[name] = "SPARK-ERROR"
            continue
        if name not in osql:
            print(f"{name}: rows-only {len(sdf)} rows ({time.time()-t0:.1f}s)")
            results[name] = "rows-only"
            continue
        try:
            odf = con.execute(osql[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            bad.append(name)
            results[name] = "ORACLE-ERROR"
            continue
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        ok = ok_schema and digest(sdf) == digest(odf)
        status = "MATCH" if ok else ("SCHEMA-MISMATCH" if not ok_schema else "VALUE-MISMATCH")
        print(f"{name}: {status} spark={len(sdf)} oracle={len(odf)} ({time.time()-t0:.1f}s)")
        results[name] = status
        if not ok:
            bad.append(name)
            if not ok_schema:
                print(f"  spark cols:  {sorted(sdf.columns)}")
                print(f"  oracle cols: {sorted(odf.columns)}")
    _record_provenance(results)
    print(f"\n{len(names) - len(bad)}/{len(names)} ok; failures: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    if "--provenance-table" in sys.argv:
        print(provenance_table())
        raise SystemExit(0)
    raise SystemExit(main())
