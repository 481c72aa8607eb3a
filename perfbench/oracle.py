"""DuckDB oracle results for the benchmark's generated inputs.

The row multiset of the inputs does not depend on the workload seed, so
each entry's oracle runs once per input set (``gen.GEN_VERSION``) and
oracle text, and its result is cached under the benchmark's cache dir:

- ``<entry>.<key>.parquet``: the oracle's rows, read back by the worker
  to compute the expected value of the in-Spark digest;
- ``<entry>.<key>.json``: ``scripts/sweep.py``'s ``digest`` of the same
  rows (row count and wrapping sum of row hashes), for the sweep-style
  verification in the self-test.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

from perfbench import gen


def _key(sql: str) -> str:
    return hashlib.sha256(f"{gen.GEN_VERSION}\n{sql}".encode()).hexdigest()[:12]


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in gen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def ensure(cache_dir: str, data_dir: str, entries, oracles: dict, digest) -> dict[str, dict]:
    """Oracle result path and sweep digest per entry, computing missing ones."""
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, dict] = {}
    con = None
    for name in entries:
        stem = os.path.join(cache_dir, f"{name}.{_key(oracles[name])}")
        if not os.path.exists(stem + ".json"):
            if con is None:
                con = connect(data_dir)
            rows = con.execute(oracles[name]).arrow()
            pq.write_table(rows, stem + ".parquet.part")
            os.replace(stem + ".parquet.part", stem + ".parquet")
            # DuckDB's own pandas conversion, as scripts/sweep.py digests it
            n, h = digest(con.from_arrow(rows).df())
            with open(stem + ".json.part", "w") as fh:
                json.dump({"rows": n, "digest": str(h)}, fh)
            os.replace(stem + ".json.part", stem + ".json")
        with open(stem + ".json") as fh:
            rec = json.load(fh)
        out[name] = {"parquet": stem + ".parquet", "rows": rec["rows"], "digest": int(rec["digest"])}
    if con is not None:
        con.close()
    return out
