"""Drill benchmark: one workload, one seed, one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload deep --seed 1 --seconds 15 --trace 0

Every run uses ``local[2]`` with a pinned driver heap.  A run generates
(or reuses) the seed's inputs and oracle, then sets Spark up ``SETUPS``
times (session start and input registration; the first also launches the
JVM; ``setup_s`` is their median), runs the workload's warm-up passes and
then times full passes until ``--seconds`` of pass time have elapsed.
Each pass writes the complete result to a fresh parquet directory, which
is read back and checked against the oracle outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and prints the per-layer metrics (see ``layers.py``).
Every pass time, warm-up passes included, and every set-up time are
printed as a JSON line before the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SLOTS = 2           # local[2]: two JVM task threads + two Python workers
DRIVER_MEM = "2g"   # pinned, so RSS does not follow GC heap sizing
SETUPS = 5
MIN_TIMED = 3


class Run:
    """Spark session, registered inputs and pass bookkeeping of one run."""

    def __init__(self, wl, seed: int, data_dir: str, work_dir: str,
                 event_dir: str | None):
        from dea_conflux_spark.plugins import get_plugin

        import inputs

        self.wl = wl
        self.data_dir, self.work_dir = data_dir, work_dir
        self.event_dir = event_dir
        self.grid = inputs.grid_of(wl, seed)
        self.polys = inputs.polygons_of(wl, seed)
        self.plugin = get_plugin("waterbodies_c3")
        self.spark = None
        self.passes: list = []      # {"phase", "s", "ok"}
        self.failures: list = []
        self._n_out = 0
        self._want = {}

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        from dea_conflux_spark.config import get_spark

        # initial = max heap, touched at JVM start: the JVM's share of RSS
        # is then fixed, not a trace of G1's heap sizing (which follows the
        # allocation rate, i.e. host speed); the first option is the one
        # get_spark sets itself
        extra = {"spark.driver.extraJavaOptions":
                 "-Djava.net.preferIPv4Stack=true "
                 f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={tempfile.gettempdir()}"}
        if self.event_dir:
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + self.event_dir,
                          "spark.eventLog.compress": "false"})
        self.spark = get_spark(app=f"perfbench-{self.wl.name}", cpus=SLOTS,
                               extra=extra)

    def register(self) -> None:
        """Cache the stored tiles and build the replicated tile table, its
        metadata-only twin and the polygon table."""
        from dea_conflux_spark import datagen
        from dea_conflux_spark.operators.tilecells import tile_meta

        from inputs import PARTITIONS, replicate

        path = os.path.join(self.data_dir, "tiles.parquet")
        self.base = (self.spark.read.parquet(path)
                     .repartition(PARTITIONS).cache())
        self.base.count()
        self.tiles = replicate(self.base, self.wl.rep, self.wl.T)
        self.meta = tile_meta(replicate(
            self.spark.read.parquet(path).select("image_id"),
            self.wl.rep, self.wl.T), self.grid)
        self.polygons = datagen.polygons_df(self.spark, self.polys)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop Spark, end the JVM and wait until every process this run
        started has exited (killing what is left after ``timeout``)."""
        from pyspark import SparkContext

        import procs

        started = procs.descendants()
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        procs.reap(started, timeout)

    # -- passes -----------------------------------------------------------
    def out_dir(self) -> str:
        self._n_out += 1
        return os.path.join(self.work_dir, f"pass_{self._n_out:03d}")

    def one_pass(self, phase: str) -> float:
        """Run, time and check one full drill pass; returns its seconds."""
        from dea_conflux_spark.operators import drill

        out = self.out_dir()
        t0 = time.perf_counter()
        drill.drill(self.tiles, self.polygons, self.plugin, self.grid,
                    partial=True, meta=self.meta).write.parquet(out)
        dt = time.perf_counter() - t0
        self.finish_pass(phase, dt, out)
        return dt

    def finish_pass(self, phase: str, dt: float, out: str,
                    rep: int | None = None, flags: bool = True) -> None:
        """Check the result in ``out`` against the oracle over ``rep``
        timestep replicas, record the pass and delete the output (all
        outside the timed window)."""
        import pandas as pd

        import inputs

        key = (rep or self.wl.rep, flags)
        if key not in self._want:
            self._want[key] = inputs.expected(self.data_dir, self.wl, *key)
        why = inputs.mismatch(pd.read_parquet(out), self._want[key])
        if why:
            self.failures.append(f"{phase} pass: {why}")
        self.passes.append({"phase": phase, "s": round(dt, 6),
                            "ok": why is None})
        shutil.rmtree(out, ignore_errors=True)

    def failed_pass(self, phase: str, err: BaseException) -> None:
        self.failures.append(f"{phase} pass raised {type(err).__name__}: "
                             f"{err}")
        self.passes.append({"phase": phase, "s": None, "ok": False})


def guarded(run: Run, phase: str):
    """One pass; a raised error counts as a failed pass."""
    try:
        return run.one_pass(phase)
    except Exception as err:  # noqa: BLE001 - a failed pass is a result
        run.failed_pass(phase, err)
        return None


def set_up(run: Run) -> list:
    """``SETUPS`` set-ups, each a fresh Spark session (the first also
    launches the JVM) plus input registration.  The last session stays
    up.  Returns the set-up times."""
    times = []
    for i in range(SETUPS):
        if i:
            run.stop()
        t0 = time.perf_counter()
        run.start()
        run.register()
        times.append(time.perf_counter() - t0)
    return times


def measure(run: Run, seconds: float) -> tuple:
    """Warm-up passes, then timed passes until ``seconds`` of pass time
    (at least MIN_TIMED passes).  Returns the timed pass times and the
    peak RSS bytes of each timed pass (its check included)."""
    import procs
    from inputs import WARM

    for _ in range(WARM):
        guarded(run, "warm")
    timed, peaks = [], []
    with procs.PeakRss() as rss:
        while sum(timed) < seconds or len(timed) < MIN_TIMED:
            rss.take()
            dt = guarded(run, "timed")
            if dt is None:
                break
            timed.append(dt)
            peaks.append(rss.take())
    return timed, peaks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("dea_conflux_spark") is None:
        print("perfbench: dea_conflux_spark not found; run from the root of "
              "a checkout", file=sys.stderr)
        return 2
    import inputs

    wl = inputs.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(inputs.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # every file the run, Spark and the JVM write stays in the checkout
    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["TMPDIR"] = tempfile.tempdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    data_dir = inputs.ensure_inputs(os.path.join(ROOT, ".perfbench_data"),
                                    wl, args.seed)
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    run = Run(wl, args.seed, data_dir, work, event_dir)
    try:
        setups = set_up(run)
        if args.trace:
            import layers

            metrics = layers.traced(run)
        else:
            timed, peaks = measure(run, args.seconds)
            metrics = end_to_end(wl, setups, timed, peaks)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        for f in run.failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)

    attempted = len(run.passes)
    failed = sum(not p["ok"] for p in run.passes)
    print(json.dumps({"workload": wl.name, "seed": args.seed,
                      "tiles_per_pass": wl.n_tiles, "slots": SLOTS,
                      "driver_mem": DRIVER_MEM,
                      "failed_frac": failed / attempted,
                      "setup_s": [round(s, 6) for s in setups],
                      "passes": run.passes}))
    if metrics is None:
        print("perfbench: no timed pass completed", file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def end_to_end(wl, setups: list, timed: list, peaks: list) -> dict | None:
    if not timed:
        return None
    return {
        "tiles_per_s": {"value": wl.n_tiles / statistics.median(timed),
                        "unit": "1/s"},
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "peak_rss_mb": {"value": statistics.median(peaks) / 2**20,
                        "unit": "MB"},
    }


if __name__ == "__main__":
    sys.exit(main())
