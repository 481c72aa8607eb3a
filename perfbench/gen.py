"""Benchmark inputs: sf0.1-shaped input tables, written from scratch.

``base_tables()`` builds the ten tables of ``session.DRIVER_TABLES``
with the schemas, row counts and value distributions of the sf0.1
fixtures: lineitem 600k rows, orders 150k, events 100k, documents 5k,
embeddings 2k, and the small dimension tables. The rows come from a
fixed generator seed, so every run of the benchmark sees the same row
multiset and the DuckDB oracle digests can be computed once.

``permuted(tables, seed)`` puts those rows in a seed-permuted row order,
and ``write_tables`` writes one parquet file and one row group per
table. The workload seed therefore changes the physical layout (and so
partition contents and the order rows reach every operator) but never
the answer.

``profile(tables)`` summarizes a table set: schemas, row counts,
per-column ranges, means and distinct counts, category shares, lines per
order and ship-minus-order days. ``fixture_profile_sf0.1.json`` holds
that summary of the sf0.1 fixtures, and the tests compare the generated
tables with it. To write it again from a fixture directory:

    python3 -m perfbench.gen --profile <sf0.1 dir> > perfbench/fixture_profile_sf0.1.json
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pygr_spark.session import DRIVER_TABLES

#: Generator seed of the row multiset; bump GEN_VERSION when the rows change
#: so cached oracle digests are recomputed.
BASE_SEED = 20241016
GEN_VERSION = 2

TABLES = DRIVER_TABLES

#: Row counts at sf0.1; ``scale`` multiplies the fact/entity tables.
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "new", "small", "large", "green",
            "old", "dark", "bright", "cold", "heavy", "light"]
PART_NOUN = ["anvil", "bolt", "plate", "ring", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a the data spark query table join scan filter sort hash group agg "
         "key value row column order part line customer batch stream window "
         "merge vector fast slow big small").split()

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, stop: str) -> pa.Array:
    """Midnight timestamps (timestamp[us], no zone) uniform in [start, stop]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(d * _DAY_US, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    words = np.array(WORDS)
    lens = rng.integers(8, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # crawl-style duplication for the dedup operators: a few exact copies
    # and ~2% near copies (one word swapped)
    for i in rng.choice(n, 10, replace=False):
        texts[i] = texts[(i + 1) % n]
    for i in rng.choice(n, n // 50, replace=False):
        toks = texts[(i + 7) % n].split()
        toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def base_tables(scale: float = 1.0) -> dict[str, pa.Table]:
    """The benchmark's row multiset; deterministic in ``scale``."""
    rng = np.random.default_rng(BASE_SEED)
    n = {k: max(10, int(v * scale)) for k, v in SIZES.items()}
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    out["customer"] = {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    }
    out["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
    }
    pk = np.arange(np_, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), np_)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), np_)]
    out["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 1)),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    }
    nl = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    }
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, ne, dtype=np.int64))
    out["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(1500 * scale)), ne, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.normal(0.0, 1.0, (nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)  # unit rows
    out["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.field("element", pa.float32()))
        ),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    }
    return {t: pa.table(out[t]) for t in TABLES}


def write_tables(tables: dict[str, pa.Table], dst: str) -> None:
    """One parquet file and one row group per table, as in the fixtures."""
    os.makedirs(dst, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"), row_group_size=max(1, t.num_rows))


def permuted(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The same rows in a seed-dependent order (tables permuted independently)."""
    rng = np.random.default_rng(seed)
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in tables.items()}


def read_tables(src: str) -> dict[str, pa.Table]:
    return {name: pq.read_table(os.path.join(src, f"{name}.parquet")) for name in TABLES}


def profile(tables: dict[str, pa.Table]) -> dict:
    """The summary the generated tables are checked against (see module doc)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, t in tables.items():
        con.register(name, t)
    one = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    out: dict[str, dict] = {}
    for name, t in tables.items():
        cols: dict[str, dict] = {}
        for f in t.schema:
            c = f.name
            if pa.types.is_list(f.type):
                lo, hi, norm = one(
                    f"SELECT min(len({c})), max(len({c})), "
                    f"avg(sqrt(list_sum(list_transform({c}, x -> x * x)))) FROM {name}"
                )
                cols[c] = {"len": [lo, hi], "mean_norm": norm}
            elif pa.types.is_string(f.type):
                nd, lo, hi, mean = one(
                    f"SELECT count(DISTINCT {c}), min(length({c})), max(length({c})), "
                    f"avg(length({c})) FROM {name}"
                )
                cols[c] = {"distinct": nd, "len": [lo, hi], "mean_len": mean}
                if nd <= 30:
                    cols[c]["share"] = {
                        k: v / t.num_rows
                        for k, v in con.execute(f"SELECT {c}, count(*) FROM {name} GROUP BY 1").fetchall()
                    }
            else:
                x = f"epoch_us({c})" if pa.types.is_timestamp(f.type) else c
                nd, lo, hi, mean, std = one(
                    f"SELECT count(DISTINCT {c}), min({x}), max({x}), avg({x}), "
                    f"stddev_pop({x}) FROM {name}"
                )
                cols[c] = {"distinct": nd, "min": float(lo), "max": float(hi),
                           "mean": float(mean), "std": float(std)}
        out[name] = {"rows": t.num_rows, "schema": [f"{f.name}: {f.type}" for f in t.schema],
                     "columns": cols}
    li = out["lineitem"]
    li["lines_per_order"] = {
        str(k): v for k, v in con.execute(
            "SELECT n, count(*) FROM (SELECT count(l_orderkey) AS n FROM orders "
            "LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderkey) "
            "GROUP BY 1 ORDER BY 1"
        ).fetchall()
    }
    lo, hi, mean, std = one(
        "SELECT min(d), max(d), avg(d), stddev_pop(d) FROM (SELECT "
        "datediff('day', o_orderdate, l_shipdate) AS d FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey)"
    )
    li["ship_minus_order_days"] = {"min": lo, "max": hi, "mean": mean, "std": std}
    out["documents"]["duplicate_texts"] = one(
        "SELECT count(*) - count(DISTINCT text) FROM documents")[0]
    con.close()
    return out


if __name__ == "__main__":
    import argparse
    import json

    ap = argparse.ArgumentParser(description="Print the profile of a fixture directory as JSON.")
    ap.add_argument("--profile", required=True, metavar="DIR")
    print(json.dumps(profile(read_tables(ap.parse_args().profile)), indent=1, sort_keys=True))
