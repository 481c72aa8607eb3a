"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The last test is the self-test: one entry per workload, end to end, on
sf0.001-sized inputs (``--scale 0.01``), with the untimed sweep-digest
verification pass and, for one workload, the traced run.
"""

from __future__ import annotations

import copy
import json
import math
import os
import pickle
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from perfbench import gen, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def test_seeded_copies_keep_the_row_multiset_but_not_the_order():
    from sweep import digest

    base = gen.base_tables(scale=0.01)
    one, two = gen.permuted(base, 1), gen.permuted(base, 2)
    for name, t in base.items():
        want = digest(t.to_pandas())
        assert digest(one[name].to_pandas()) == want, name
        assert digest(two[name].to_pandas()) == want, name
        assert one[name].schema.equals(t.schema), name
    for name in ("lineitem", "orders", "events", "documents"):
        assert not one[name].equals(two[name]), name
        assert not one[name].equals(base[name]), name


def test_inputs_are_one_file_and_one_row_group_per_table(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(gen.permuted(gen.base_tables(scale=0.01), 3), str(tmp_path))
    for name in gen.TABLES:
        meta = pq.ParquetFile(tmp_path / f"{name}.parquet").metadata
        assert meta.num_row_groups == 1, name


def test_base_tables_are_deterministic():
    a, b = gen.base_tables(scale=0.01), gen.base_tables(scale=0.01)
    assert all(a[n].equals(b[n]) for n in gen.TABLES)


#: Two independent samples, four standard errors of their difference.
Z = 4 * math.sqrt(2)


def _close_share(a: float, b: float, n: int) -> bool:
    p = max(a, b)
    return abs(a - b) <= Z * math.sqrt(p * (1 - p) / n) + 1e-12


def diff_profiles(want: dict, got: dict) -> list[str]:
    """Where ``got`` departs from ``want`` (both ``gen.profile`` output) by
    more than sampling noise: schemas and row counts exactly; means and
    category shares within Z standard errors; spreads within 10%; distinct
    counts within 3%; extremes within 15% of the range."""
    bad: list[str] = []

    def chk(ok, where, w, g):
        if not ok:
            bad.append(f"{where}: fixture {w}, generated {g}")

    def numeric(where, w, g, n):
        slack = 0.15 * (w["max"] - w["min"]) + 1e-9
        chk(abs(g["min"] - w["min"]) <= slack and abs(g["max"] - w["max"]) <= slack,
            where + ".range", [w["min"], w["max"]], [g["min"], g["max"]])
        chk(abs(g["mean"] - w["mean"]) <= Z * w["std"] / math.sqrt(n) + 1e-9 * abs(w["mean"]),
            where + ".mean", w["mean"], g["mean"])
        chk(abs(g["std"] - w["std"]) <= 0.1 * w["std"] + 1e-12, where + ".std", w["std"], g["std"])

    for t, w in want.items():
        g, n = got[t], w["rows"]
        chk(g["rows"] == n, f"{t}.rows", n, g["rows"])
        chk(g["schema"] == w["schema"], f"{t}.schema", w["schema"], g["schema"])
        for c, wc in w["columns"].items():
            gc, where = g["columns"][c], f"{t}.{c}"
            if "mean_norm" in wc:
                chk(gc["len"] == wc["len"], where + ".len", wc["len"], gc["len"])
                chk(abs(gc["mean_norm"] - wc["mean_norm"]) <= 0.02 * wc["mean_norm"],
                    where + ".mean_norm", wc["mean_norm"], gc["mean_norm"])
                continue
            chk(abs(gc["distinct"] - wc["distinct"]) <= max(2, 0.03 * wc["distinct"]),
                where + ".distinct", wc["distinct"], gc["distinct"])
            if "len" not in wc:
                numeric(where, wc, gc, n)
                continue
            slack = 0.15 * (wc["len"][1] - wc["len"][0]) + 1
            chk(all(abs(a - b) <= slack for a, b in zip(wc["len"], gc["len"])),
                where + ".len", wc["len"], gc["len"])
            chk(abs(gc["mean_len"] - wc["mean_len"]) <= 0.03 * wc["mean_len"],
                where + ".mean_len", wc["mean_len"], gc["mean_len"])
            share = gc.get("share", {})
            chk(set(share) == set(wc.get("share", {})), where + ".categories",
                sorted(wc.get("share", {})), sorted(share))
            for k, v in wc.get("share", {}).items():
                chk(_close_share(v, share.get(k, 0.0), n), f"{where}.share[{k}]", v, share.get(k))
    no = want["orders"]["rows"]
    lw, lg = want["lineitem"]["lines_per_order"], got["lineitem"]["lines_per_order"]
    for k in set(lw) | set(lg):
        chk(_close_share(lw.get(k, 0) / no, lg.get(k, 0) / no, no),
            f"lineitem.lines_per_order[{k}]", lw.get(k), lg.get(k))
    numeric("lineitem.ship_minus_order_days", want["lineitem"]["ship_minus_order_days"],
            got["lineitem"]["ship_minus_order_days"], want["lineitem"]["rows"])
    dw, dg = want["documents"]["duplicate_texts"], got["documents"]["duplicate_texts"]
    chk(abs(dw - dg) <= 10, "documents.duplicate_texts", dw, dg)
    return bad


def _fixture_profile() -> dict:
    with open(os.path.join(HERE, "fixture_profile_sf0.1.json")) as fh:
        return json.load(fh)


def test_generated_tables_match_the_fixture_profile():
    got = json.loads(json.dumps(gen.profile(gen.base_tables(scale=1.0))))
    assert diff_profiles(_fixture_profile(), got) == []


def test_profile_check_catches_a_different_shape():
    want = _fixture_profile()
    got = copy.deepcopy(want)
    # one to seven lines for every order, none without lines
    got["lineitem"]["lines_per_order"] = {str(k): want["orders"]["rows"] // 7 for k in range(1, 8)}
    got["lineitem"]["ship_minus_order_days"].update(min=1, max=121, mean=61.0, std=35.0)
    got["events"]["schema"] = [c.replace("timestamp[us]", "timestamp[ns]") for c in want["events"]["schema"]]
    bad = diff_profiles(want, got)
    assert any("lines_per_order[0]" in b for b in bad)
    assert any("ship_minus_order_days" in b for b in bad)
    assert any("events.schema" in b for b in bad)


def test_workload_entries_exist_with_oracles():
    from pygr_spark.queries import ORACLES, QUERIES

    for w in WORKLOADS.values():
        assert w["entries"] and len(w["why"]) <= 200
        for e in w["entries"]:
            assert e in QUERIES and e in ORACLES, e


def _double(x, y=1):
    return 2 * x + y


def test_timer_passes_through_and_pickles_as_the_original():
    tr = tracing.Tracer()
    timed = tracing._Timed(_double, "operators.test", tr)
    assert timed(3, y=2) == 8 and tr.spans == []
    tr.enabled = True
    assert timed(3) == 7
    assert [s[0] for s in tr.spans] == ["operators.test"]
    assert pickle.loads(pickle.dumps(timed)) is _double


def test_summarize_counts_jobs_by_group_and_window(tmp_path):
    def job(jid, group, start, end, stages):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": 2_000_000}]},
            "Task Metrics": {"Executor CPU Time": 5e8, "Executor Run Time": 700,
                             "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
                             "Output Metrics": {"Bytes Written": 0}}}
    events = (job(0, "q.build", 1000_000, 1000_100, [0])
              + job(1, "q.force", 1000_200, 1000_500, [1]) + [task]
              + job(2, "q.build", 9000_000, 9000_100, [2]))  # outside the window
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    records = [{"name": "q", "pass": 1, "w": [1000.0, 1000.15, 1000.6], "plan_ms": 20.0}]
    out = tracing.summarize(str(tmp_path), tracing.Tracer(), records, [(1000.0, 1001.0)])
    assert out["spark.build_jobs"][0] == 1 and out["spark.force_jobs"][0] == 1
    assert out["spark.tasks"][0] == 1 and out["spark.job_floor_ms"][0] == pytest.approx(300)
    assert out["spark.no_job_frac"][0] == pytest.approx(0.6)
    assert out["spark.task_cpu_s"][0] == pytest.approx(0.5)
    assert out["spark.shuffle_write_mb"][0] == pytest.approx(3.0)
    assert out["functions.py_mb"][0] == pytest.approx(2.0)
    assert out["catalyst.plan_s"][0] == pytest.approx(0.02)
    assert out["queries.self_s"][0] == pytest.approx(0.15)

    # every per-layer metric of BENCHMARK.json, with its unit, and no other
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    from perfbench.run import END_TO_END_UNITS, RUN_LEVEL_LAYERS

    emitted = {k: u for k, (_v, u) in out.items()} | RUN_LEVEL_LAYERS
    assert emitted == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert END_TO_END_UNITS == {m["name"]: m["unit"] for m in bench["end_to_end"]}


def _run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,entry,trace", [
    ("tpch", "q1_pricing_summary", "0"),
    ("operators", "cheapest_path", "1"),
])
def test_selftest_one_entry_per_workload(workload, entry, trace):
    out = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace,
               "--scale", "0.01", "--entries", entry, "--verify")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    metrics = out["metrics"]
    if trace == "0":
        assert set(metrics) == {"entries_per_min", "entry_s.p50", "cold_pass_s", "setup_s"}
    else:
        assert metrics["operators.graphs.calls"]["value"] >= 1
        assert metrics["tuning.probes"]["value"] >= 1
        assert metrics["spark.force_jobs"]["value"] >= 1
    assert all(m["value"] >= 0 for m in metrics.values() if not m["unit"].endswith("/min"))
