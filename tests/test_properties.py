"""Property-based tests (hypothesis) — the reference's only property test
fuzzes date serialisation round-trips (reference tests/test_io.py:62-67);
here the same style covers the cell index, codec, and geometry cores."""

import numpy as np
from hypothesis import given, settings, strategies as st

from dea_conflux_spark.config import WORLD
from dea_conflux_spark.core import cells, codec, geom


@given(res=st.integers(0, 24),
       fx=st.floats(0, 1, exclude_max=True),
       fy=st.floats(0, 1, exclude_max=True))
@settings(max_examples=200, deadline=None)
def test_cell_pack_roundtrip(res, fx, fy):
    n = 1 << res
    ix, iy = int(fx * n), int(fy * n)
    c = cells.pack(res, ix, iy)
    r2, x2, y2 = cells.unpack(c)
    assert (int(r2), int(x2), int(y2)) == (res, ix, iy)
    assert int(c) >= 0


@given(x=st.floats(0, WORLD, exclude_max=True),
       y=st.floats(0, WORLD, exclude_max=True),
       res=st.integers(1, 20))
@settings(max_examples=200, deadline=None)
def test_cell_of_within_bounds_and_parent_contains(x, y, res):
    c = cells.cell_of(x, y, res)
    x0, y0, x1, y1 = cells.cell_bounds(c)
    assert x0 <= x < x1 and y0 <= y < y1
    p = cells.parent(c)
    px0, py0, px1, py1 = cells.cell_bounds(p)
    assert px0 <= x0 and px1 >= x1 and py0 <= y0 and py1 >= y1
    assert int(c) in [int(k) for k in cells.children(p).ravel()]


@given(data=st.binary(min_size=64, max_size=64))
@settings(max_examples=100, deadline=None)
def test_codec_raw_roundtrip_any_bytes(data):
    arr = np.frombuffer(data, dtype=np.uint8).reshape(8, 8)
    assert codec.decode(codec.encode(arr, "raw"), 8, 8, "raw").tobytes() == data


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_codec_dct_psnr_property(seed):
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:32, 0:32]
    img = np.clip(128 + 70 * np.sin(x / rng.uniform(3, 15))
                  * np.cos(y / rng.uniform(3, 15))
                  + rng.normal(0, 3, (32, 32)), 0, 255).astype(np.uint8)
    dec = codec.decode(codec.encode(img, "dct"), 32, 32, "dct")
    assert codec.psnr(img, dec) >= 40.0


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=30, deadline=None)
def test_pip_agrees_across_implementations(seed):
    """Broadcast ray-cast and scanline rasteriser agree on random polygons
    and random probe points."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 20))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.2, 1.0, n)
    ring = np.stack([50 + 40 * rad * np.cos(ang),
                     50 + 40 * rad * np.sin(ang)], axis=1)
    prep = geom.prepare([ring])
    xs = np.linspace(0, 100, 23) + 0.137
    ys = np.linspace(0, 100, 19) + 0.731
    grid = geom.contains_grid(prep, xs, ys)
    gx, gy = np.meshgrid(xs, ys, indexing="xy")
    flat = geom.contains(prep, gx.ravel(), gy.ravel()).reshape(grid.shape)
    assert (grid == flat).all()


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_polygon_cover_is_superset(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 16))
    cx, cy = rng.uniform(10000, 100000, 2)
    r = rng.uniform(100, 5000)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    ring = np.stack([cx + r * rng.uniform(0.5, 1, n) * np.cos(ang),
                     cy + r * rng.uniform(0.5, 1, n) * np.sin(ang)], axis=1)
    cov, full = cells.polygon_cover([ring], base_res=13)
    covset = set(int(c) for c in cov)
    prep = geom.prepare([ring])
    pts = rng.uniform([cx - r, cy - r], [cx + r, cy + r], size=(100, 2))
    inside = geom.contains(prep, pts[:, 0], pts[:, 1])
    for x, y in pts[inside]:
        base = int(cells.cell_of(x, y, 13))
        assert ({base} | set(cells.ancestors(base))) & covset


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_plugin_raw_path_identical_to_generic(seed):
    """partials_grouped_raw (the per-tile hot path: owner-sorted gather +
    slice-local counts) must be bit-identical to transform() +
    partials_grouped() for arbitrary tiles and owner rasters — the
    invariant every drill-UDF optimisation round leans on."""
    from dea_conflux_spark.plugins import get_plugin

    rng = np.random.default_rng(seed)
    h = w = int(rng.integers(4, 48))
    raw = rng.integers(0, 256, (h, w), dtype=np.uint8)
    n_cands = int(rng.integers(1, 12))
    owner = rng.integers(-1, n_cands, (h, w)).astype(np.int32)
    ords = list(range(n_cands))
    # full-coverage single-owner raster: exercises the gather-free
    # full_tile_segment fast path (huge-polygon interiors)
    owner_full = np.full((h, w), int(rng.integers(0, n_cands)),
                         dtype=np.int32)
    for name in ("waterbodies_c3", "sum_wet", "ga_ls_wo_3_flags",
                 "wofs_albers_flags"):
        plugin = get_plugin(name)
        for ow in (owner, owner_full):
            got = plugin.partials_grouped_raw(raw, ow, ords, scratch={})
            exp = plugin.partials_grouped(plugin.transform(raw), ow, ords,
                                          scratch={})
            assert got == exp, (name, got, exp)


@given(seed=st.integers(0, 2**31 - 1), snap=st.booleans())
@settings(max_examples=300, deadline=None)
def test_edge_flag_bbox_prefilter_is_exact(seed, snap):
    """Wherever the bbox prefilter lets the edge-flag rule skip the clip
    (bbox inside the extent, or meeting it in at most an edge or corner)
    ``edge_directions`` reports no overflow — on random star polygons
    (some with a hole, some snapped to a 0.5 grid) against extents whose
    edges equal, touch, straddle or miss the polygon's bbox edges."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 10))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(1, 6, n)
    cx, cy = rng.integers(-4, 5, 2)
    outer = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
    rings = [outer]
    if rng.random() < 0.3:
        rings.append(np.array([[cx - .4, cy - .4], [cx + .4, cy - .4],
                               [cx + .4, cy + .4], [cx - .4, cy + .4]]))
    if snap:
        rings = [np.round(r * 2) / 2 for r in rings]
    bx0, by0, bx1, by1 = geom.bbox(rings)

    def edges(lo, hi):
        d = float(rng.choice([0.5, 1.0, 2.5]))
        opts = [lo, hi, lo - d, lo + d, hi - d, hi + d, (lo + hi) / 2,
                float(rng.uniform(lo - 8, hi + 8))]
        a, b = sorted(float(v) for v in rng.choice(opts, 2))
        return (a, b) if a < b else (a, a + d)

    (rx0, rx1), (ry0, ry1) = edges(bx0, bx1), edges(by0, by1)
    if rng.random() < 0.15:
        rx0, ry0, rx1, ry1 = bx0, by0, bx1, by1    # extent == bbox
    if not geom.overflow_possible((bx0, by0, bx1, by1), rx0, ry0, rx1, ry1):
        d = geom.edge_directions(rings, rx0, ry0, rx1, ry1)
        assert not any(d.values()), (rings, (rx0, ry0, rx1, ry1), d)


def _classify_rects_scalar(prep, x0, y0, x1, y1):
    """Loop reference of ``geom.classify_rects``: per rect, the slab
    clip of every edge, the four corner PIPs and the vertex-in-rect
    scan, in scalar floats."""
    bx0, by0, bx1, by1 = prep.bbox
    out = []
    for a, b, c, d in zip(x0, y0, x1, y1):
        if c <= bx0 or a >= bx1 or d <= by0 or b >= by1:
            out.append(0)
            continue
        crossed = False
        for ex, ey, fx, fy in zip(prep.x1, prep.y1, prep.x2, prep.y2):
            dx, dy = fx - ex, fy - ey
            t0, t1, outside = 0.0, 1.0, False
            for p, q in ((-dx, ex - a), (dx, c - ex), (-dy, ey - b),
                         (dy, d - ey)):
                if p == 0:
                    outside |= q < 0
                elif p < 0:
                    t0 = max(t0, q / p)
                else:
                    t1 = min(t1, q / p)
            if not outside and t0 <= t1:
                crossed = True
                break
        corners = all(geom.contains(prep, [px], [py])[0]
                      for px, py in ((a, b), (c, b), (a, d), (c, d)))
        vert_in = any(a <= vx < c and b <= vy < d
                      for vx, vy in zip(prep.x1, prep.y1))
        if corners and not crossed and not vert_in:
            out.append(2)
        else:
            out.append(1 if crossed or vert_in or corners else 0)
    return out


@given(seed=st.integers(0, 2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_classify_rects_matches_scalar_reference(seed):
    """The vectorised rect classifier (cover build, owner interior fast
    path) equals its scalar loop reference, rect edges on polygon
    vertices included."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 12))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(1, 6, n)
    rings = [np.c_[rad * np.cos(ang), rad * np.sin(ang)]]
    if rng.random() < 0.3:
        rings.append(np.array([[-.3, -.3], [.3, -.3], [.3, .3], [-.3, .3]]))
    if rng.random() < 0.5:
        rings = [np.round(r * 2) / 2 for r in rings]
    prep = geom.prepare(rings)
    x0 = rng.uniform(-8, 6, 24)
    y0 = rng.uniform(-8, 6, 24)
    k = rng.integers(0, len(prep.x1), 24)
    x0[:8] = prep.x1[k[:8]]
    y0[8:16] = prep.y1[k[8:16]]
    x1 = x0 + rng.uniform(0.1, 8, 24)
    y1 = y0 + rng.uniform(0.1, 8, 24)
    x1[16:] = prep.x1[k[16:]]
    x0[16:] = x1[16:] - rng.uniform(0.1, 8, 8)
    got = geom.classify_rects(prep, x0, y0, x1, y1)
    assert list(got) == _classify_rects_scalar(prep, x0, y0, x1, y1)
