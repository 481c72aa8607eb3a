"""Traced-run instrumentation, all of it outside the program.

- ``Tracer.install`` replaces each public function of the program's layer
  modules (``pygr_spark.operators.*``, ``tuning``, ``sources``, ``plans``,
  ``streaming``, ``functions``) with a pass-through timer, in every
  ``pygr_spark`` module namespace that holds it, so a name imported at
  module top is patched where it is looked up. A timer only records a span
  (layer, start, end); arguments and results pass through unchanged, and
  it pickles as the original function, so Python workers never see it.
- ``Tracer.planning_ms`` reads Spark's QueryPlanningTracker of a forcing
  query (analysis + optimization + planning).
- ``summarize`` parses the uncompressed Spark event log with plain JSON and
  joins it with the spans and the worker's per-entry records.

Every per-layer value is per traced warm pass (totals divided by passes).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import pkgutil
import pydoc
import statistics
import sys
import threading
import time
import types

#: Operator modules reported as ``operators.<module>.{s,calls,jobs}``.
OPERATOR_MODULES = ("graphs", "overlap", "alignments", "dedup", "scd", "similarity")
#: Other layers reported as ``<layer>.s`` / ``<layer>.calls``.
OTHER_LAYERS = ("sources", "plans", "streaming")

#: Modules whose functions are not wrapped: the catalog itself is timed
#: from outside (``queries.*``), and these hold no layer work.
UNWRAPPED = {"queries", "session", "validators"}


def layer_of(modname: str) -> str:
    parts = modname.split(".")
    if len(parts) > 2 and parts[1] == "operators":
        return "operators." + parts[2]
    return parts[1]


class _Timed:
    """Pass-through timer standing in for one program function."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._fn, args, kwargs)

    def __get__(self, obj, objtype=None):
        # stands in for a method too
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        # pickle (e.g. into a Python UDF) as the original function, which
        # is what a Python worker's fresh import of the module holds
        return (pydoc.locate, (f"{self._fn.__module__}.{self._fn.__qualname__}",))


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[tuple[str, float, float, bool]] = []
        self._local = threading.local()

    def call(self, layer, fn, args, kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        active = self._local.__dict__.setdefault("active", [])
        if layer in active:  # a call inside the same layer is already timed
            return fn(*args, **kwargs)
        top = not active
        active.append(layer)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            active.pop()
            self.spans.append((layer, t0, t1, top))

    def install(self) -> None:
        """Wrap every public layer function and public method of a layer
        class."""
        import pygr_spark

        for info in pkgutil.walk_packages(pygr_spark.__path__, "pygr_spark."):
            importlib.import_module(info.name)
        mods = [m for n, m in list(sys.modules.items()) if n.startswith("pygr_spark.")]
        wrappers: dict[int, tuple] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer in UNWRAPPED:
                continue
            for attr, fn in vars(mod).items():
                if (
                    attr.startswith("_")
                    or not isinstance(fn, types.FunctionType)
                    or fn.__module__ != mod.__name__
                    or hasattr(fn, "evalType")  # a pandas/Python UDF
                ):
                    continue
                wrappers[id(fn)] = (fn, _Timed(fn, layer, self))
            for cls in vars(mod).values():
                if not isinstance(cls, type) or cls.__module__ != mod.__name__:
                    continue
                for attr, fn in list(vars(cls).items()):
                    if not attr.startswith("_") and isinstance(fn, types.FunctionType):
                        setattr(cls, attr, _Timed(fn, layer, self))
        for mod in mods:
            for attr, v in list(vars(mod).items()):
                hit = wrappers.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(mod, attr, hit[1])

    @staticmethod
    def planning_ms(fdf) -> float:
        phases = fdf._jdf.queryExecution().tracker().phases()
        total = 0.0
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total


def _events(eventlog_dir: str):
    names = [n for n in os.listdir(eventlog_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {names}")
    with open(os.path.join(eventlog_dir, names[0])) as fh:
        for line in fh:
            yield json.loads(line)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def summarize(eventlog_dir, tracer: Tracer, records, windows) -> dict:
    """Per-layer metrics per traced warm pass: name -> (value, unit).
    ``records`` are the worker's entry records of those passes and
    ``windows`` their (start, end) wall times."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(eventlog_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[ev["Job ID"]] = {"start": t, "end": t, "group": group, "tasks": 0,
                                  "cpu": 0, "run": 0, "gc": 0, "shuffle": 0, "spill": 0,
                                  "output": 0, "py": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job["tasks"] += 1
            job["cpu"] += tm.get("Executor CPU Time", 0)
            job["run"] += tm.get("Executor Run Time", 0)
            job["gc"] += tm.get("JVM GC Time", 0)
            job["shuffle"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job["spill"] += tm.get("Disk Bytes Spilled", 0)
            job["output"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                if acc.get("Name") in PY_METRICS:
                    job["py"] += int(acc.get("Update") or 0)
    warm = [j for j in jobs.values() if any(a <= j["start"] <= b for a, b in windows)]
    n = float(max(1, len(windows)))
    wall = sum(b - a for a, b in windows)
    busy = sum(_covered([(j["start"], j["end"]) for j in warm], a, b) for a, b in windows)
    single = [1000.0 * (j["end"] - j["start"]) for j in warm if j["tasks"] == 1]
    out = {
        "spark.build_jobs": (sum(j["group"].endswith(".build") for j in warm) / n, "count"),
        "spark.force_jobs": (sum(j["group"].endswith(".force") for j in warm) / n, "count"),
        "spark.no_job_frac": (1.0 - busy / wall, "ratio"),
        "spark.job_floor_ms": (statistics.median(single) if single else 0.0, "ms"),
        "spark.tasks": (sum(j["tasks"] for j in warm) / n, "count"),
        "spark.task_cpu_s": (sum(j["cpu"] for j in warm) / 1e9 / n, "s"),
        "spark.task_run_s": (sum(j["run"] for j in warm) / 1e3 / n, "s"),
        "spark.shuffle_write_mb": (sum(j["shuffle"] for j in warm) / 1e6 / n, "MB"),
        "spark.spill_mb": (sum(j["spill"] for j in warm) / 1e6 / n, "MB"),
        "spark.gc_s": (sum(j["gc"] for j in warm) / 1e3 / n, "s"),
        "spark.output_mb": (sum(j["output"] for j in warm) / 1e6 / n, "MB"),
        "functions.py_mb": (sum(j["py"] for j in warm) / 1e6 / n, "MB"),
    }

    timed = [r for r in records if "w" in r]
    spans = [s for s in tracer.spans if any(a <= s[1] <= b for a, b in windows)]
    top = [(a, b) for _layer, a, b, is_top in spans if is_top]
    build = sum(r["w"][1] - r["w"][0] for r in timed)
    inner = sum(_covered(top, r["w"][0], r["w"][1]) for r in timed)
    out["queries.build_s"] = (build / n, "s")
    out["queries.self_s"] = ((build - inner) / n, "s")
    out["queries.force_s"] = (sum(r["w"][2] - r["w"][1] for r in timed) / n, "s")
    out["catalyst.plan_s"] = (sum(r["plan_ms"] for r in timed) / 1e3 / n, "s")

    def layer(key):
        ls = [(a, b) for lay, a, b, _t in spans if lay == key]
        hits = sum(any(a <= j["start"] <= b for a, b in ls) for j in warm)
        return sum(b - a for a, b in ls) / n, len(ls) / n, hits / n

    s, c, _j = layer("tuning")
    out["tuning.probe_s"] = (s, "s")
    out["tuning.probes"] = (c, "count")
    for mod in OPERATOR_MODULES:
        s, c, j = layer("operators." + mod)
        out[f"operators.{mod}.s"] = (s, "s")
        out[f"operators.{mod}.calls"] = (c, "count")
        out[f"operators.{mod}.jobs"] = (j, "count")
    for key in OTHER_LAYERS:
        s, c, _j = layer(key)
        out[f"{key}.s"] = (s, "s")
        out[f"{key}.calls"] = (c, "count")
    return out
