"""Workload definitions, seeded input generation and the cached oracle.

Inputs are generated once per (workload shape, seed) into a cache directory
under the checkout and reused by every later run with that seed.  The
generator and the oracle run before any timed or set-up window.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import os
from multiprocessing import resource_tracker
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    G: int             # G x G tile footprints
    T: int             # stored timesteps
    w: int             # tile side in pixels
    rep: int           # timestep replication factor (JVM-side)
    polys: tuple       # (small, medium, huge) polygon counts
    resume: tuple = ()  # traced run only: (rep, increments) of a
    #                     resumable pass over the same stored tiles

    @property
    def n_tiles(self) -> int:
        return self.G * self.G * self.T * self.rep

    @property
    def data_key(self) -> str:
        s, m, h = self.polys
        return f"G{self.G}_T{self.T}_w{self.w}_p{s}-{m}-{h}"


# deep: few footprints, many timesteps -> payload-bound (Arrow transfer,
# stacked kernel, combine, flagged write).  Its traced run also takes the
# stored tiles through the resumable ledger path in increments.
# wide: many footprints, two timesteps -> footprint-bound (cover,
# candidates, rasterisation, ring broadcast, edge flags).
WORKLOADS = {
    "deep": Workload("deep", G=8, T=8, w=128, rep=24, polys=(750, 8, 2),
                     resume=(2, 4)),
    "wide": Workload("wide", G=32, T=2, w=64, rep=1, polys=(750, 8, 2)),
}

# partitions of the cached stored tiles: per-task cost dominates a pass,
# and 16 partitions made each pass ~2.5 s slower than 4 at local[2]
PARTITIONS = 4
# warm-up passes before the timed ones (the first is the JVM's cold pass)
WARM = 2


def grid_of(wl: Workload, seed: int):
    from dea_conflux_spark import datagen

    return datagen.GridSpec(G=wl.G, T=wl.T, w=wl.w, h=wl.w, seed=seed)


def polygons_of(wl: Workload, seed: int) -> list:
    from dea_conflux_spark import datagen

    return datagen.make_polygons(grid_of(wl, seed), *wl.polys)


def replicate(tiles, rep: int, t_stored: int):
    """``rep`` shifted copies of every tile from one scan: copy k moves the
    timestep in ``image_id`` to ``t + k*t_stored`` (bytes untouched)."""
    from pyspark.sql import functions as F

    if rep <= 1:
        return tiles
    ts = (F.regexp_extract("image_id", r"^t(\d+)_", 1).cast("int")
          + F.col("rep_k") * t_stored)
    gx = F.regexp_extract("image_id", r"_x(\d+)_", 1).cast("int")
    gy = F.regexp_extract("image_id", r"_y(\d+)$", 1).cast("int")
    return (tiles.withColumn(
        "rep_k", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("image_id",
                    F.format_string("t%04d_x%03d_y%03d", ts, gx, gy))
        .drop("rep_k"))


def _oracle_one_timestep(args) -> pd.DataFrame:
    """Oracle rows of stored timestep ``t`` alone (a one-timestep grid over
    that timestep's tiles, shifted back to day ``t``)."""
    grid, polys, tiles_t, t = args
    from dataclasses import replace

    from dea_conflux_spark import oracle
    from dea_conflux_spark.plugins import get_plugin

    out = oracle.oracle_drill(replace(grid, T=1), polys, tiles_t,
                              get_plugin("waterbodies_c3"))
    out["ts"] = out["ts"] + pd.Timedelta(days=t)
    return out


def ensure_inputs(cache_root: str, wl: Workload, seed: int) -> str:
    """Generate (once) the stored tiles and the stored-timestep oracle for
    ``wl`` at ``seed``; returns the cache directory."""
    from dea_conflux_spark import datagen

    d = os.path.join(cache_root, f"{wl.data_key}_s{seed}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    grid = grid_of(wl, seed)
    polys = polygons_of(wl, seed)
    tiles = datagen.make_tiles_pdf(grid, polys)
    tiles.to_parquet(os.path.join(d, "tiles.parquet"), index=False,
                     row_group_size=256)
    # oracle per stored timestep in parallel (timesteps are independent:
    # ownership is time-invariant and the extent is the full grid)
    jobs = []
    for t in range(grid.T):
        sub = tiles[tiles["image_id"].str.startswith(f"t{t:04d}_")].copy()
        sub["image_id"] = sub["image_id"].str.replace(
            f"t{t:04d}_", "t0000_", regex=False)
        jobs.append((grid, polys, sub, t))
    pool = mp.get_context("spawn").Pool(min(4, len(jobs)))
    try:
        parts = pool.map(_oracle_one_timestep, jobs)
    finally:
        pool.close()
        pool.join()
    # release the pool's semaphores, then end the resource tracker the
    # spawn start method launched, so no helper process outlives this step
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    want = (pd.concat(parts).sort_values(["poly_id", "ts"])
            .reset_index(drop=True))
    want.to_parquet(os.path.join(d, "oracle.parquet"), index=False)
    open(done, "w").close()
    return d


def expected(cache_dir: str, wl: Workload, rep: int,
             flags: bool) -> pd.DataFrame:
    """The oracle over ``rep`` replicas of the stored timesteps: stored
    timestep ``t`` reappears as ``t + k*T`` with identical metrics."""
    base = pd.read_parquet(os.path.join(cache_dir, "oracle.parquet"))
    if not flags:
        base = base.drop(columns=[c for c in base.columns
                                  if c.startswith("conflux_")])
    parts = []
    for k in range(rep):
        p = base.copy()
        p["ts"] = p["ts"] + pd.Timedelta(days=k * wl.T)
        parts.append(p)
    return (pd.concat(parts).sort_values(["poly_id", "ts"])
            .reset_index(drop=True))


EXACT = ["px_wet", "conflux_n", "conflux_s", "conflux_e", "conflux_w"]
CLOSE = ["pc_wet", "pc_missing"]


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals the oracle: keys, integer counts and flags
    exactly, fractions within allclose.  Otherwise a one-line reason."""
    if list(sorted(got.columns)) != list(sorted(want.columns)):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    got = got.sort_values(["poly_id", "ts"]).reset_index(drop=True)
    if not (got["poly_id"].to_numpy() == want["poly_id"].to_numpy()).all():
        return "poly_id keys differ"
    g_ts = got["ts"].to_numpy().astype("datetime64[us]")
    w_ts = want["ts"].to_numpy().astype("datetime64[us]")
    if not (g_ts == w_ts).all():
        return "ts keys differ"
    for c in EXACT:
        if c in want and not np.array_equal(
                got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float),
                equal_nan=True):
            return f"{c} differs"
    for c in CLOSE:
        if not np.allclose(got[c].to_numpy(dtype=float),
                           want[c].to_numpy(dtype=float),
                           rtol=1e-9, atol=1e-12, equal_nan=True):
            return f"{c} not close"
    return None
