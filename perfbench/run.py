"""pygr_spark benchmark: one named workload, one seed, one closed-loop run.

Usage (from the repository root):

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

Steps:

1. Build once per checkout, cached under ``perfbench/.cache``: the sf0.1-shaped
   input tables (``perfbench/gen.py``) and every workload entry's DuckDB
   oracle result (``perfbench/oracle.py``).
2. Write the cached rows in a seed-permuted order into a private run
   directory, which also holds the worker's TMPDIR, SPARK_LOCAL_DIRS and
   warehouse.
3. Run ``perfbench/worker.py`` in a fresh child process: set-up (timed
   from the spawn to a session with every table scanned), one cold pass,
   then warm passes until ``--seconds`` have passed (at least two). Every
   entry's output is checked against its oracle.
4. Measure what the run left in its TMPDIR and SPARK_LOCAL_DIRS, stop
   every process of the worker, remove the run directory and print the
   metrics.

With ``--trace 1`` the run turns on Spark's event log and job groups, and
times warm passes in ABBA blocks with and without QueryPlanningTracker
reads and pass-through timers on the program's modules. It prints the per-layer
metrics of the timed passes and the tracing overhead (traced minus
untraced ``entries_per_min``). End-to-end metrics come from untraced runs.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Child-process budget: the whole run, traced or not, must end in 180 s.
RUN_BUDGET_S = 170.0
DRIVER_MEM = "3g"

END_TO_END_UNITS = {
    "entries_per_min": "1/min",
    "entry_s.p50": "s",
    "cold_pass_s": "s",
    "setup_s": "s",
}
#: Per-layer metrics the parent adds to the traced run's layer metrics.
RUN_LEVEL_LAYERS = {
    "run.failed_frac": "ratio",
    "run.disk_left_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_entries_per_min": "1/min",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for dirpath, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except FileNotFoundError:
                    pass
    return total / 1e6


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end and _group_alive(pgid):
            time.sleep(0.1)


def submit_args(tmp: str, eventlog: str | None) -> str:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    parts = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    parts += [f"--conf {k}={v}" for k, v in conf.items()]
    return " ".join(parts + ["pyspark-shell"])


def run_worker(run_dir: str, cfg: dict, trace: bool, deadline: float) -> dict:
    """One worker child in a private TMPDIR/SPARK_LOCAL_DIRS; returns its
    result with ``disk_left_mb`` added."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    eventlog = os.path.join(run_dir, "eventlog") if trace else None
    for d in (tmp, local, eventlog):
        if d:
            os.makedirs(d)
    cfg = dict(cfg, trace=trace, eventlog=eventlog,
               out=os.path.join(run_dir, "result.json"))
    cfg_path = os.path.join(run_dir, "cfg.json")
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=submit_args(tmp, eventlog),
        PYSPARK_PYTHON=sys.executable,
        PYGR_SPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
    )
    log_path = os.path.join(run_dir, "worker.log")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            if proc.poll() is None:
                proc.wait()
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(cfg["out"]) as fh:
        res = json.load(fh)
    res["disk_left_mb"] = du_mb(tmp, local)
    return res


def build(entries: list[str], scale: float) -> dict:
    """Cached inputs and oracle results for this checkout."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from sweep import digest

    from perfbench import gen, oracle
    from pygr_spark.queries import ORACLES

    cache = os.path.join(HERE, ".cache", f"v{gen.GEN_VERSION}-x{scale:g}")
    base = os.path.join(cache, "base")
    t = time.perf_counter()
    if not os.path.exists(os.path.join(base, "DONE")):
        shutil.rmtree(base, ignore_errors=True)
        gen.write_tables(gen.base_tables(scale), base)
        open(os.path.join(base, "DONE"), "w").close()
    oracles = oracle.ensure(os.path.join(cache, "oracle"), base, entries, ORACLES, digest)
    log(f"inputs and oracles ready in {time.perf_counter() - t:.1f}s (cache {cache})")
    return {
        "cache": cache,
        "base": base,
        "oracles": {k: v["parquet"] for k, v in oracles.items()},
        "oracle_digests": {k: [v["rows"], v["digest"]] for k, v in oracles.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier of the sf0.1 input shape (self-test: 0.01)")
    ap.add_argument("--entries", default=None,
                    help="comma-separated subset of the workload's entries (self-test)")
    ap.add_argument("--verify", action="store_true",
                    help="add an untimed pass checking each entry with scripts/sweep.py's digest")
    args = ap.parse_args(argv)
    # a terminated run still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "pygr_spark", "queries.py")):
        log(f"no pygr_spark sources under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    entries = WORKLOADS[args.workload]["entries"]
    if args.entries:
        unknown = set(args.entries.split(",")) - set(entries)
        if unknown:
            log(f"not in workload {args.workload}: {sorted(unknown)}")
            return 2
        entries = args.entries.split(",")
    built = build(entries, args.scale)

    from perfbench import gen

    run_dir = os.path.join(HERE, ".run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t = time.perf_counter()
        data = os.path.join(run_dir, "data")
        gen.write_tables(gen.permuted(gen.read_tables(built["base"]), args.seed), data)
        inputs_s = time.perf_counter() - t
        cfg = {
            "root": ROOT, "data": data, "entries": entries, "seed": args.seed,
            "seconds": args.seconds, "cpus": len(os.sched_getaffinity(0)),
            "oracles": built["oracles"], "oracle_digests": built["oracle_digests"],
            "verify": args.verify,
            "expect_cache": os.path.join(built["cache"], "expected.json"),
        }
        res = run_worker(run_dir, cfg, bool(args.trace), deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    m = res["metrics"]
    log(
        f"workload={args.workload} seed={args.seed} passes={res['passes']} "
        f"failed_frac={res['failed'] / res['attempted']:.4f} "
        f"({res['failed']}/{res['attempted']}) disk_left_mb={res['disk_left_mb']:.2f} "
        f"peak_rss_mb={res['peak_rss_mb']:.0f} inputs_s={inputs_s:.2f} setup_s={m['setup_s']:.2f}"
    )
    log("per-entry warm median s: " + json.dumps({k: round(v, 3) for k, v in res["per_entry_p50_s"].items()}))
    log(f"warm pass s: {[round(x, 2) for x in res['pass_s']]}")
    log("set-up s since spawn: " + json.dumps({k: round(v, 2) for k, v in res["setup_marks_s"].items()}))
    for why in res["failures"]:
        log(f"FAILED {why}")
    if args.trace:
        oh = res["overhead"]
        run_level = {
            "run.failed_frac": res["failed"] / res["attempted"],
            "run.disk_left_mb": res["disk_left_mb"],
            "jvm.peak_rss_mb": res["peak_rss_mb"],
            "trace.overhead_entries_per_min": oh["traced"] - oh["untraced"],
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["per_layer"].items()}
        metrics.update({k: {"value": v, "unit": RUN_LEVEL_LAYERS[k]} for k, v in run_level.items()})
    else:
        print(f"entry_s.p50 is the median of {res['samples']} warm entry runs")
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    log(f"run took {time.time() - t_start:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
