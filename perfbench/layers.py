"""Per-layer trace: staged passes, action spans and the Spark event log.

A traced run (``--trace 1``) runs with the Spark event log on.  After the
set-ups and warm-up passes it times a few fused passes (the untraced
reference), then:

* one staged drill pass: each layer of ``drill.drill`` is called through
  the program's public functions and materialised on its own
  (``localCheckpoint``) — cover, footprint candidates, ``drill_partials``
  (its eager planning call, then its execution), the final combine, the
  edge-flag attach and the parquet write;
* on workloads with a ``resume`` spec, one resumable pass: the program's
  own ``run_drill_resumable`` increments and ``finalize_drill``, with
  their DataFrame actions wrapped so each is timed and named by the
  program function that issued it (ledger lookup, partials write, lineage
  write, ledger append);
* the Spark-free kernel ceiling.

The event log then gives task and SQL-metric counters for the time window
of each span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import time

FUSED = 3

# per-layer metric name -> unit; every traced run reports all of them
# (0 for a layer the workload does not run)
UNITS = {
    "cover.s": "s", "cover.cells": "count",
    "candidates.s": "s", "candidates.footprints": "count",
    "candidates.pairs_per_footprint": "count",
    "partials.plan_s": "s", "partials.run_s": "s",
    "python.total_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "kernel.tiles_per_s": "1/s",
    "combine.s": "s", "combine.shuffle_bytes": "bytes",
    "flags.s": "s", "flags.poly_extents": "count",
    "write.s": "s", "write.bytes": "bytes", "write.files": "count",
    "ledger.remaining_s": "s", "ledger.next_batch_s": "s",
    "ledger.mark_s": "s", "ledger.rows": "count",
    "resume.plan_s": "s", "resume.partials_s": "s", "lineage.s": "s",
    "resume.other_s": "s",
    "finalize.s": "s",
    "resume.s": "s", "resume.step_s.first": "s", "resume.step_s.last": "s",
    "resume.coverage": "ratio",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.coverage": "ratio", "trace.overhead": "ratio",
}

# spans whose sum is a staged drill pass (cover and candidates re-run
# inside partials.plan_s, so they are reported but not summed) and a
# resumable pass
DRILL_LAYERS = ["partials.plan_s", "partials.run_s", "combine.s", "flags.s",
                "write.s"]
RESUME_LAYERS = ["ledger.remaining_s", "ledger.next_batch_s",
                 "resume.plan_s", "resume.partials_s", "lineage.s",
                 "ledger.mark_s", "resume.other_s", "finalize.s"]

PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}


class Spans:
    """Named wall-clock spans (epoch seconds) of one traced pass."""

    def __init__(self):
        self.items: list = []   # (name, t0, t1, depth)
        self.depth = 0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        self.depth += 1
        try:
            yield
        finally:
            self.depth -= 1
            self.items.append((name, t0, time.time(), self.depth))

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, d in self.items
                   if n == name and d == 0)

    def window(self, name: str) -> tuple:
        got = [(t0, t1) for n, t0, t1, _ in self.items if n == name]
        return (min(a for a, _ in got), max(b for _, b in got)) if got \
            else (0.0, 0.0)


# -- staged drill pass -----------------------------------------------------

def staged_drill(run, spans: Spans, out: str) -> dict:
    """One drill pass, each layer materialised on its own."""
    from pyspark.sql import functions as F

    from dea_conflux_spark.operators import cover, drill
    from dea_conflux_spark.operators.tilecells import extents_by_ts

    c = {}
    with spans.span("cover.s"):
        cells = cover.polygon_cover_df(run.polygons).localCheckpoint()
    c["cover.cells"] = cells.count()
    with spans.span("candidates.s"):
        fc = drill.footprint_candidates(run.meta, cells,
                                        run.grid).localCheckpoint()
    row = fc.agg(F.count("*").alias("n"),
                 F.avg(F.size("cand_polys")).alias("per")).first()
    c["candidates.footprints"] = row["n"]
    c["candidates.pairs_per_footprint"] = row["per"] or 0.0
    with spans.span("partials.plan_s"):
        parts = drill.drill_partials(run.tiles, run.polygons, run.plugin,
                                     run.grid, meta=run.meta)
    with spans.span("partials.run_s"):
        parts = parts.localCheckpoint()
    with spans.span("combine.s"):
        res = parts.groupBy("poly_id", "ts").agg(
            *run.plugin.final_aggs()).localCheckpoint()
    extents = extents_by_ts(run.meta)
    with spans.span("flags.s"):
        res = drill.attach_edge_flags(res, run.polygons,
                                      extents).localCheckpoint()
    n_ext = extents.select("ex0", "ey0", "ex1", "ey1").distinct().count()
    c["flags.poly_extents"] = n_ext * len(run.polys)
    with spans.span("write.s"):
        res.write.parquet(out)
    files = [f for f in glob.glob(os.path.join(out, "*.parquet"))]
    c["write.files"] = len(files)
    c["write.bytes"] = sum(os.path.getsize(f) for f in files)
    return c


# -- instrumented resume pass ----------------------------------------------

def _caller() -> str:
    """Name of the nearest program function on the stack."""
    f = sys._getframe(2)
    while f is not None:
        if "dea_conflux_spark" in f.f_code.co_filename:
            return f.f_code.co_name
        f = f.f_back
    return "?"


@contextlib.contextmanager
def action_spans(run, spans: Spans):
    """Time each DataFrame action the resumable drill issues, named by
    the program function that issued it and the written path."""
    from pyspark.sql import DataFrameWriter

    from dea_conflux_spark.operators import drill

    DataFrame = type(run.base)    # the concrete (classic) DataFrame class

    def name_of(kind: str, who: str, path: str | None) -> str:
        if who == "run_drill_resumable":
            if kind == "count":
                return "ledger.remaining_s"
            return "lineage.s" if path.endswith("_lineage") \
                else "resume.partials_s"
        if who == "next_batch_id":
            return "ledger.next_batch_s"
        if who == "mark_done":
            return "ledger.mark_s"
        return "resume.other_s"

    def wrap(cls, attr, kind):
        orig = getattr(cls, attr)

        def timed(self, *a, **k):
            if spans.depth:
                return orig(self, *a, **k)
            path = a[0] if kind == "write" and a else k.get("path")
            with spans.span(name_of(kind, _caller(), path)):
                return orig(self, *a, **k)
        return orig, timed

    patches = [(DataFrame, "count", "count"), (DataFrame, "first", "first"),
               (DataFrame, "collect", "collect"),
               (DataFrameWriter, "parquet", "write")]
    saved = []
    for cls, attr, kind in patches:
        orig, timed = wrap(cls, attr, kind)
        saved.append((cls, attr, orig))
        setattr(cls, attr, timed)
    orig_partials = drill.drill_partials

    def partials(*a, **k):
        with spans.span("resume.plan_s"):
            return orig_partials(*a, **k)

    drill.drill_partials = partials
    try:
        yield
    finally:
        drill.drill_partials = orig_partials
        for cls, attr, orig in saved:
            setattr(cls, attr, orig)


def staged_resume(run, spans: Spans, out: str) -> dict:
    """The workload's stored tiles x ``rep`` arrive in ``increments``
    equal timestep slices; after each arrival ``run_drill_resumable``
    runs over everything arrived so far (the ledger skips what is done),
    then ``finalize_drill`` runs and its result is written."""
    from pyspark.sql import functions as F

    from dea_conflux_spark.operators import ledger

    from inputs import replicate

    wl = run.wl
    rep, increments = wl.resume
    tiles = replicate(run.base, rep, wl.T)
    per = wl.T * rep // increments
    ts_idx = F.regexp_extract("image_id", r"^t(\d+)_", 1).cast("int")
    parts = os.path.join(out, "partials")
    led = os.path.join(out, "ledger")
    steps = []
    t_start = time.perf_counter()
    with action_spans(run, spans):
        for i in range(increments):
            t0 = time.perf_counter()
            ledger.run_drill_resumable(
                tiles.filter(ts_idx < (i + 1) * per), run.polygons,
                run.plugin, run.grid, parts, led)
            steps.append(time.perf_counter() - t0)
        with spans.span("finalize.s"):
            (ledger.finalize_drill(run.spark, parts, run.plugin)
             .write.parquet(os.path.join(out, "result")))
    total = time.perf_counter() - t_start
    c = {"resume.s": total,
         "resume.step_s.first": steps[0], "resume.step_s.last": steps[-1],
         "ledger.rows": run.spark.read.parquet(led).count()}
    run.finish_pass("resume", total, os.path.join(out, "result"),
                    rep=rep, flags=False)
    shutil.rmtree(out, ignore_errors=True)
    return c


# -- Spark-free kernel ceiling ---------------------------------------------

def kernel_ceiling(run, repeats: int = 3) -> float:
    """Tiles/s of ``plugin.partials_grouped_raw_batch`` alone over the
    workload's time stacks: per footprint, its stored tiles replicated
    ``rep`` times, in stacks of at most one Arrow batch, with the
    footprint's owner raster (dense candidate positions, last wins)."""
    import numpy as np
    import pandas as pd

    from dea_conflux_spark.core import geom

    g, wl = run.grid, run.wl
    tiles = pd.read_parquet(os.path.join(run.data_dir, "tiles.parquet"),
                            columns=["image_id", "bytes"])
    stacks = {}
    for iid, b in zip(tiles["image_id"], tiles["bytes"]):
        gx, gy = int(iid[7:10]), int(iid[12:15])
        stacks.setdefault((gx, gy), []).append(np.frombuffer(b, np.uint8))
    preps = [(p["ordinal"], geom.prepare(p["rings"])) for p in run.polys]
    preps.sort(key=lambda q: q[0])
    spent = [0.0] * repeats
    for (gx, gy), rows in stacks.items():
        x0, y0 = g.tile_origin(gx, gy)
        xs = x0 + (np.arange(g.w) + 0.5) * g.px_res
        ys = y0 + (np.arange(g.h) + 0.5) * g.px_res
        owner = np.full((g.h, g.w), -1, dtype=np.int32)
        pos = 0
        for _, prep in preps:
            bx0, by0, bx1, by1 = prep.bbox
            if bx1 <= xs[0] or bx0 >= xs[-1] or by1 <= ys[0] \
                    or by0 >= ys[-1]:
                continue
            owner[geom.contains_grid(prep, xs, ys)] = pos
            pos += 1
        stack = np.tile(np.stack(rows), (wl.rep, 1))
        chunks = [stack[i:i + 512] for i in range(0, len(stack), 512)]
        for r in range(repeats):
            scratch = {}
            t0 = time.perf_counter()
            for ch in chunks:
                run.plugin.partials_grouped_raw_batch(ch, owner,
                                                      scratch=scratch)
            spent[r] += time.perf_counter() - t0
    rates = [wl.n_tiles / s for s in spent]
    return statistics.median(rates)


# -- event log -------------------------------------------------------------

def read_events(event_dir: str) -> list:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _arrow_accumulators(events: list) -> dict:
    """accumulator id -> (layer metric, seconds-per-unit) for the Python
    metrics of every MapInArrow node in any (adaptive) SQL plan."""
    ids = {}

    def walk(node):
        if node.get("nodeName") == "MapInArrow":
            for m in node.get("metrics", []):
                name = PY_METRICS.get(m["name"])
                if name:
                    scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(
                        m.get("metricType"), 1.0)
                    ids[m["accumulatorId"]] = (name, scale)
        for ch in node.get("children", []):
            walk(ch)

    for e in events:
        info = e.get("sparkPlanInfo")
        if info:
            walk(info)
    return ids


def event_counters(events: list, windows: dict) -> dict:
    """Counters per named window (epoch seconds): tasks finishing inside
    the window count towards it."""
    acc = _arrow_accumulators(events)
    tasks = [e for e in events if e.get("Event") == "SparkListenerTaskEnd"]
    jobs = [e for e in events if e.get("Event") == "SparkListenerJobStart"]
    out = {}
    for wname, (a, b) in windows.items():
        lo, hi = a * 1000, b * 1000
        c = {"jobs": sum(lo <= j["Submission Time"] <= hi for j in jobs),
             "tasks": 0, "tasks_failed": 0, "gc_s": 0.0, "spill_bytes": 0,
             "shuffle_bytes": 0}
        c.update({v: 0.0 for v in PY_METRICS.values()})
        for t in tasks:
            info = t["Task Info"]
            if not lo <= info["Finish Time"] <= hi:
                continue
            c["tasks"] += 1
            c["tasks_failed"] += bool(info.get("Failed"))
            m = t.get("Task Metrics") or {}
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for u in info.get("Accumulables", []):
                hit = acc.get(u.get("ID"))
                if hit and u.get("Update") is not None:
                    c[hit[0]] += float(u["Update"]) * hit[1]
        out[wname] = c
    return out


# -- the traced run --------------------------------------------------------

def traced(run) -> dict:
    """Warm-up, fused reference passes, one staged drill pass and (if the
    workload has one) one resumable pass; per-layer metrics from the
    spans and the event log."""
    from inputs import WARM

    for _ in range(WARM):
        run.one_pass("warm")
    fused, windows = [], {}
    for _ in range(FUSED):
        t0 = time.time()
        fused.append(run.one_pass("fused"))
        windows["fused"] = (t0, time.time())   # the last one
    spans = Spans()
    out = run.out_dir()
    t0 = time.perf_counter()
    m = {k: 0.0 for k in UNITS}
    m.update(staged_drill(run, spans, out))
    staged_s = time.perf_counter() - t0
    run.finish_pass("staged", staged_s, out)
    if run.wl.resume:
        m.update(staged_resume(run, spans, run.out_dir()))
    run.stop()   # flushes the event log
    m["kernel.tiles_per_s"] = kernel_ceiling(run)

    names = {n for n, *_ in spans.items}
    for n in names:
        m[n] = spans.total(n)
    windows.update({n: spans.window(n) for n in names})
    ev = event_counters(read_events(run.event_dir), windows)
    for k in PY_METRICS.values():
        m[k] = ev["partials.run_s"][k]
    m["combine.shuffle_bytes"] = ev["combine.s"]["shuffle_bytes"]
    for k in ("jobs", "tasks", "tasks_failed", "gc_s", "spill_bytes"):
        m[f"spark.{k}"] = ev["fused"][k]
    fused_s = statistics.median(fused)
    m["trace.coverage"] = sum(m[n] for n in DRILL_LAYERS) / fused_s
    m["trace.overhead"] = staged_s / fused_s
    if run.wl.resume:
        m["resume.coverage"] = sum(m[n] for n in RESUME_LAYERS) / m["resume.s"]
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
