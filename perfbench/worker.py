"""Benchmark worker: one workload in one Spark session, as a closed loop.

``perfbench/run.py`` writes the run's inputs, then starts this file in a
child process whose TMPDIR, SPARK_LOCAL_DIRS and PYSPARK_SUBMIT_ARGS point
into the run's private directory. ``argv[1]`` is a JSON config; the result
is written as JSON to the config's ``out`` path.

One client submits catalog entries one after another: build
(``QUERIES[name](spark, dir)``), then force (the ``xxhash64``/``bit_xor``
aggregate of ``bench.py``, plus a row count and a sum of the row hashes).
The count and sum are compared with the same digest of the entry's DuckDB
oracle rows, so every timed execution is also checked.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback

MIN_WARM_PASSES = 2
#: Traced runs time warm passes in ABBA blocks (traced, untraced, untraced,
#: traced), so JIT warm-up weighs on both sides of the overhead alike.
TRACED_BLOCK = (True, False, False, True)


def force_df(df):
    """bench.py's forcing aggregate over name-sorted columns, plus count and
    hash sum so the result is an order-insensitive multiset digest."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("h")
    return df.select(h).agg(
        F.expr("bit_xor(h)"),
        F.count(F.lit(1)),
        F.sum(F.col("h").cast("decimal(20,0)")),
    )


def digest_of(row) -> list:
    return [int(row[1]), str(row[2])]


def release(spark) -> None:
    """Drop blocks an entry pinned, as bench.py does between entries."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        try:
            rdd.unpersist(False)
        except Exception:  # noqa: BLE001 - an RDD already gone is fine
            pass
    spark.catalog.clearCache()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def expected_digest(spark, schema, oracle_parquet: str):
    """Digest of the oracle rows cast to the entry's output schema, or None
    when the column names differ."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(oracle_parquet)
    if sorted(o.columns) != sorted(schema.names):
        return None
    cast = o.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])
    return digest_of(force_df(cast).collect()[0])


class Runner:
    def __init__(self, cfg: dict, spark, queries, tracer=None):
        self.cfg = cfg
        self.spark = spark
        self.queries = queries
        self.tracer = tracer
        self.records: list[dict] = []

    def run_entry(self, name: str, pass_no: int) -> None:
        sc = self.spark.sparkContext
        rec = {"name": name, "pass": pass_no}
        tr = self.tracer
        try:
            if tr:
                sc.setJobGroup(f"{name}.build", name)
            t0 = time.perf_counter()
            w0 = time.time()
            df = self.queries[name](self.spark, self.cfg["data"])
            t1 = time.perf_counter()
            w1 = time.time()
            if tr:
                sc.setJobGroup(f"{name}.force", name)
            fdf = force_df(df)
            row = fdf.collect()[0]
            t2 = time.perf_counter()
            w2 = time.time()
            rec.update(build_s=t1 - t0, force_s=t2 - t1, digest=digest_of(row))
            rec["schema"] = df.schema.json()
            if tr:
                rec.update(w=[w0, w1, w2], plan_ms=tr.planning_ms(fdf))
        except Exception as e:  # noqa: BLE001 - a failing entry is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            if tr:
                sc.setJobGroup("perfbench.idle", "between entries")
            release(self.spark)
        self.records.append(rec)

    def run_pass(self, order: list[str], pass_no: int) -> None:
        for name in order:
            self.run_entry(name, pass_no)

    def verify_pass(self, order: list[str], digest, oracle_digests: dict) -> None:
        """Untimed: each entry's rows collected and digested as
        scripts/sweep.py does, against the DuckDB oracle's digest."""
        for name in order:
            rec = {"name": name, "pass": -1}
            try:
                got = list(digest(self.queries[name](self.spark, self.cfg["data"]).toPandas()))
                want = oracle_digests[name]
                if got != want:
                    rec["error"] = f"sweep digest {got} != oracle {want}"
            except Exception as e:  # noqa: BLE001 - counted as a failure
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                release(self.spark)
            self.records.append(rec)


def setup(cfg: dict, get_spark, load_tables, marks: dict):
    """A session with every input table loaded and scanned once; ``marks``
    gets the wall time at which the session was up and the tables scanned."""
    spark = get_spark("perfbench", cpus=cfg["cpus"])
    marks["session"] = time.time()
    for df in load_tables(spark, cfg["data"], register=False).values():
        df.count()
    marks["scanned"] = time.time()
    return spark


def check(records: list[dict], expect: dict) -> tuple[int, int, list[str]]:
    failed, why = 0, []
    for r in records:
        if "error" in r:
            failed += 1
            why.append(f"{r['name']} (pass {r['pass']}): {r['error']}")
        elif "digest" in r and r["digest"] != expect.get(r["name"]):
            failed += 1
            why.append(f"{r['name']} (pass {r['pass']}): digest {r['digest']} != oracle {expect.get(r['name'])}")
    return len(records), failed, why


def expected_digests(spark, cfg: dict, records: list[dict]) -> dict:
    """Oracle digest per entry, cached per checkout by entry, oracle file and
    output schema (it needs the schema, so it runs after the cold pass)."""
    from pyspark.sql.types import StructType

    path = cfg["expect_cache"]
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    expect = {}
    for r in records:
        if "schema" not in r or r["name"] in expect:
            continue
        oracle = cfg["oracles"][r["name"]]
        key = f"{os.path.basename(oracle)}|{r['schema']}"
        if key not in cache:
            schema = StructType.fromJson(json.loads(r["schema"]))
            cache[key] = expected_digest(spark, schema, oracle)
        expect[r["name"]] = cache[key]
    with open(path + ".part", "w") as fh:
        json.dump(cache, fh)
    os.replace(path + ".part", path)
    return expect


def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    from pygr_spark.queries import QUERIES
    from pygr_spark.session import get_spark, load_tables

    marks = {"imported": time.time()}
    tracer = None
    if cfg["trace"]:
        from perfbench import tracing

        tracer = tracing.Tracer()

    # set-up counts from the spawn of this process: imports, JVM launch,
    # session, first scan of every table
    spark = setup(cfg, get_spark, load_tables, marks)
    setup_s = marks["scanned"] - cfg["t_spawn"]
    rng = random.Random(cfg["seed"])

    if tracer:
        tracer.install()
    runner = Runner(cfg, spark, QUERIES, tracer)
    order = list(cfg["entries"])
    rng.shuffle(order)
    t = time.perf_counter()
    runner.run_pass(order, 0)
    cold_pass_s = time.perf_counter() - t
    expect = expected_digests(spark, cfg, runner.records)
    if cfg["verify"]:
        sys.path.insert(0, os.path.join(cfg["root"], "scripts"))
        from sweep import digest

        runner.verify_pass(order, digest, cfg["oracle_digests"])

    # warm passes until the deadline, and at least MIN_WARM_PASSES: the JIT
    # is still warming for the first minute, so every run must sample the
    # same passes of that curve. A traced run turns the timers on and off
    # in whole ABBA blocks, so the overhead is measured in one session.
    windows = {True: [], False: []}
    t0 = time.perf_counter()
    deadline = t0 + cfg["seconds"]
    block = len(TRACED_BLOCK) if tracer else 1
    passes = 0
    while passes < MIN_WARM_PASSES or passes % block or time.perf_counter() < deadline:
        rng.shuffle(order)
        on = bool(tracer) and TRACED_BLOCK[passes % block]
        passes += 1
        if tracer:
            tracer.enabled = on
        w0 = time.time()
        runner.run_pass(order, passes)
        windows[on].append((passes, w0, time.time()))
    warm_s = time.perf_counter() - t0
    if tracer:
        tracer.enabled = False
    peak_rss = jvm_peak_rss_mb(spark)

    attempted, failed, why = check(runner.records, expect)
    warm = [r for r in runner.records if r["pass"] > 0 and "error" not in r]
    times = [r["build_s"] + r["force_s"] for r in warm]
    per_entry = {
        name: statistics.median(r["build_s"] + r["force_s"] for r in warm if r["name"] == name)
        for name in sorted({r["name"] for r in warm})
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "failures": why[:20],
        "passes": passes,
        "samples": len(times),
        "per_entry_p50_s": per_entry,
        "pass_s": [b - a for _p, a, b in sorted(windows[True] + windows[False])],
        "metrics": {
            "entries_per_min": len(warm) / (warm_s / 60.0),
            "entry_s.p50": statistics.median(times),
            "cold_pass_s": cold_pass_s,
            "setup_s": setup_s,
        },
        "peak_rss_mb": peak_rss,
        "setup_marks_s": {k: v - cfg["t_spawn"] for k, v in marks.items()},
    }
    if tracer:
        by_pass = {}
        for r in runner.records:
            by_pass.setdefault(r["pass"], []).append(r)

        def window_rate(on):
            done = sum("error" not in r for p, _a, _b in windows[on] for r in by_pass[p])
            return done / (sum(b - a for _p, a, b in windows[on]) / 60.0)

        out["overhead"] = {"traced": window_rate(True), "untraced": window_rate(False)}
    gw = spark.sparkContext._gateway
    spark.stop()
    if tracer:
        traced = {p for p, _a, _b in windows[True]}
        out["per_layer"] = tracing.summarize(
            cfg["eventlog"], tracer,
            [r for r in runner.records if r["pass"] in traced],
            [(a, b) for _p, a, b in windows[True]],
        )
    with open(cfg["out"], "w") as fh:
        json.dump(out, fh)
    # the JVM exits when its stdin closes; wait for it
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
