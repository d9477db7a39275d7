"""Tile metadata parsing and JVM-side cell emission.

``tile_meta`` derives grid placement from ``image_id`` with pure Spark
expressions (regexp_extract + arithmetic) — no UDF, so Catalyst can prune
the heavy ``bytes`` column out of every plan that only needs placement
(the scan for the candidate join reads only ``image_id``).

``tile_cells`` emits, per tile footprint, its covering cells at BASE_RES
**and every ancestor resolution down to the polygon covers' coarsest
level**, entirely with ``sequence``/``explode`` + bit arithmetic
(whole-stage codegen; no Python).  A single equi-join of this against the
polygons' compact adaptive cover then matches every tile-overlaps-polygon
pair — the distributable replacement for the reference's whole-scene
rasterisation spatial join (reference drill.py:32-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import BASE_RES, EPOCH, RES_BITS, WORLD
from ..datagen import GridSpec

COARSEST_COVER_RES = 4


def tile_meta(tiles: DataFrame, grid: GridSpec) -> DataFrame:
    """(image_id, ts_idx, gx, gy, ts, x0, y0, x1, y1) — placement columns
    derived from image_id; never touches ``bytes``."""
    sx, sy = grid.tile_span_x, grid.tile_span_y
    return tiles.select(
        "image_id",
        F.regexp_extract("image_id", r"^t(\d+)_", 1).cast("int").alias("ts_idx"),
        F.regexp_extract("image_id", r"_x(\d+)_", 1).cast("int").alias("gx"),
        F.regexp_extract("image_id", r"_y(\d+)$", 1).cast("int").alias("gy"),
    ).select(
        "image_id", "ts_idx", "gx", "gy",
        F.timestamp_add("DAY", F.col("ts_idx"),
                        F.lit(EPOCH).cast("timestamp")).alias("ts"),
        (F.lit(grid.x_off) + F.col("gx") * sx).alias("x0"),
        (F.lit(grid.y_off) + F.col("gy") * sy).alias("y0"),
        (F.lit(grid.x_off) + (F.col("gx") + 1) * sx).alias("x1"),
        (F.lit(grid.y_off) + (F.col("gy") + 1) * sy).alias("y1"),
    )


def tile_cells(meta: DataFrame, base_res: int = BASE_RES,
               coarsest: int = COARSEST_COVER_RES) -> DataFrame:
    """(gx, gy, cell) — footprint bbox cover at every res in [coarsest,
    base_res].  All JVM-side: explode(sequence(...)) x2 plus bit packing;
    ~(base_res - coarsest) + a few dozen rows per footprint.  Built from
    SQL expression strings: one gateway call per step instead of one per
    column function (the plan is rebuilt on every drill)."""
    csize = f"({WORLD!r}D / power(2.0D, cres))"
    df = meta.selectExpr(
        "gx", "gy", "x0", "y0", "x1", "y1",
        f"explode(sequence({coarsest}, {base_res})) AS cres")
    df = df.selectExpr(
        "gx", "gy", "cres",
        f"floor(x0 / {csize}) AS ix0",
        f"floor((x1 - 1.0E-6D) / {csize}) AS ix1",
        f"floor(y0 / {csize}) AS iy0",
        f"floor((y1 - 1.0E-6D) / {csize}) AS iy1")
    df = df.selectExpr("gx", "gy", "cres", "iy0", "iy1",
                       "explode(sequence(ix0, ix1)) AS ix")
    df = df.selectExpr("gx", "gy", "cres", "ix",
                       "explode(sequence(iy0, iy1)) AS iy")
    return df.selectExpr(
        "gx", "gy",
        f"shiftleft(CAST(cres AS BIGINT), 58) | shiftleft(ix, {RES_BITS})"
        " | iy AS cell")


def extents_by_ts(meta: DataFrame) -> DataFrame:
    """Per-timestep observed extent (bbox of all tiles present) — the
    engine's analogue of the reference's scene extent used for edge-direction
    flags (reference drill.py:604-616)."""
    return meta.groupBy("ts").agg(
        F.expr("min(x0) AS ex0"), F.expr("min(y0) AS ey0"),
        F.expr("max(x1) AS ex1"), F.expr("max(y1) AS ey1"),
    )
