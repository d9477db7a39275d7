"""Vectorized planar geometry core (pure numpy, no shapely/GEOS).

Polygons are ``rings``: a list of rings, each ring a (V, 2) float array (or
nested lists) of vertices; ring 0 is the outer boundary, further rings are
holes.  Containment uses the **even-odd rule over all rings combined**, with
the classic half-open ray-cast edge rule — the same pixel-center convention
rasterio's ``rasterize(all_touched=False)`` uses (reference drill.py:85-90),
so pixel→polygon assignment matches the reference's rasterisation.

``prepare`` precomputes flat edge arrays per polygon — the numpy equivalent
of Shapely "prepared geometries" for batch PIP.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class Prepared:
    """Prepared polygon: flat edge arrays for vectorized tests."""

    x1: np.ndarray  # (E,)
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    bbox: tuple  # (x0, y0, x1, y1)
    rings: list  # original rings as (V,2) float64 arrays


def _as_rings(rings) -> list:
    out = []
    for r in rings:
        try:
            a = np.asarray(r, dtype=np.float64)
        except ValueError:
            # object arrays of per-vertex arrays (as delivered by Arrow for
            # array<array<double>> columns)
            a = np.array([list(v) for v in r], dtype=np.float64)
        if a.ndim != 2 or a.shape[1] != 2:
            a = a.reshape(-1, 2)
        # Drop an explicit closing vertex if present.
        if len(a) > 1 and a[0, 0] == a[-1, 0] and a[0, 1] == a[-1, 1]:
            a = a[:-1]
        out.append(a)
    return out


def prepare(rings) -> Prepared:
    rs = _as_rings(rings)
    xs1, ys1, xs2, ys2 = [], [], [], []
    for a in rs:
        b = np.roll(a, -1, axis=0)
        xs1.append(a[:, 0]); ys1.append(a[:, 1])
        xs2.append(b[:, 0]); ys2.append(b[:, 1])
    x1 = np.concatenate(xs1); y1 = np.concatenate(ys1)
    x2 = np.concatenate(xs2); y2 = np.concatenate(ys2)
    allx = np.concatenate([a[:, 0] for a in rs])
    ally = np.concatenate([a[:, 1] for a in rs])
    return Prepared(x1, y1, x2, y2,
                    (allx.min(), ally.min(), allx.max(), ally.max()), rs)


def contains(prep: Prepared, px, py) -> np.ndarray:
    """Even-odd point-in-polygon for point arrays, vectorized over
    points x edges.  Half-open rule: an edge (x1,y1)-(x2,y2) is crossed by the
    horizontal ray from (px,py) iff (y1 > py) != (y2 > py) and the x-intercept
    is strictly right of px."""
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    x1 = prep.x1[:, None]; y1 = prep.y1[:, None]
    x2 = prep.x2[:, None]; y2 = prep.y2[:, None]
    cond = (y1 > py[None, :]) != (y2 > py[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py[None, :] - y1) * (x2 - x1) / (y2 - y1)
    cross = cond & (px[None, :] < xint)
    return (cross.sum(axis=0) % 2).astype(bool)


def contains_grid(prep: Prepared, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """PIP over a raster grid given pixel-center coordinate axes ``xs`` (W,)
    and ``ys`` (H,).  Exact vectorised scanline in O(E·H·logW + H·W):

    1. x-intercepts of all edges against all rows in one (E, H) pass,
    2. each intercept becomes a column index ``c`` = #pixel centres left
       of it (``searchsorted`` — the identical strict ``xint > x`` float
       comparison the naive (E, H, W) broadcast would do),
    3. per row, #crossings right of pixel j = #intercepts with c > j =
       E - cumsum(bincount(c))[j]; its parity is containment.

    Replaces the former (E, H, W) boolean broadcast: same results bit for
    bit, ~E× fewer inner ops and O(H·W) instead of O(E·H·W) memory
    traffic (the drill UDF's hot loop).  Returns (H, W) bool."""
    H, W = len(ys), len(xs)
    x1 = prep.x1[:, None]
    y1 = prep.y1[:, None]
    x2 = prep.x2[:, None]
    y2 = prep.y2[:, None]
    E = len(prep.x1)
    yrow = ys[None, :]
    cond = (y1 > yrow) != (y2 > yrow)  # (E, H)
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = (x2 - x1) / (y2 - y1)
        xint = x1 + (yrow - y1) * slope  # (E, H)
    # non-crossing edges can never lie right of a pixel
    xint = np.where(cond, xint, -np.inf)
    # c[e, i] = number of pixel centres strictly left of the intercept
    c = np.searchsorted(xs, xint.ravel(), side="left").reshape(E, H)
    # per-row histogram of intercept columns via one flat bincount
    lin = (np.arange(H)[None, :] * (W + 1) + c).ravel()
    hist = np.bincount(lin, minlength=H * (W + 1)).reshape(H, W + 1)
    crossings_right = E - np.cumsum(hist, axis=1)[:, :W]
    return (crossings_right & 1).astype(bool)


def area(rings) -> float:
    """Signed-shoelace area magnitude: |outer| - sum|holes|."""
    rs = _as_rings(rings)
    tot = 0.0
    for i, a in enumerate(rs):
        b = np.roll(a, -1, axis=0)
        s = 0.5 * np.abs(np.sum(a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]))
        tot += s if i == 0 else -s
    return float(tot)


def centroid(rings) -> tuple:
    """Area-weighted centroid of the outer ring (holes ignored — matches the
    quick-filter use of centroids, reference drill.py:327)."""
    a = _as_rings(rings)[0]
    b = np.roll(a, -1, axis=0)
    cr = a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]
    ar = cr.sum() / 2.0
    if abs(ar) < 1e-12:
        return float(a[:, 0].mean()), float(a[:, 1].mean())
    cx = ((a[:, 0] + b[:, 0]) * cr).sum() / (6.0 * ar)
    cy = ((a[:, 1] + b[:, 1]) * cr).sum() / (6.0 * ar)
    return float(cx), float(cy)


def bbox(rings) -> tuple:
    pts = np.concatenate(_as_rings(rings))
    return (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(),
            pts[:, 1].max())


# ---------------------------------------------------------------- rect tests

def _segments_cross_rect(prep: Prepared, rx0, ry0, rx1, ry1) -> np.ndarray:
    """For each rect (vectorized over N rects), does any polygon edge
    intersect the rect?  Uses the slab (Liang-Barsky style) clip test per
    edge x rect, all four slabs in one (4, E, N) pass.  rx* are arrays
    (N,)."""
    x1 = prep.x1[:, None]; y1 = prep.y1[:, None]
    dx = prep.x2[:, None] - x1
    dy = prep.y2[:, None] - y1
    p = np.stack([-dx, dx, -dy, dy])                                # (4,E,1)
    q = np.stack([x1 - rx0, rx1 - x1, y1 - ry0, ry1 - y1])          # (4,E,N)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = q / np.where(p == 0, 1.0, p)
    t0 = np.where(p < 0, r, 0.0).max(axis=0)    # latest entry
    t1 = np.where(p > 0, r, 1.0).min(axis=0)    # earliest exit
    # p == 0 and q < 0 -> parallel and outside the slab: no crossing
    outside = ((p == 0) & (q < 0)).any(axis=0)
    return ((t0 <= t1) & ~outside).any(axis=0)


def classify_rects(prep: Prepared, x0, y0, x1, y1) -> np.ndarray:
    """Classify axis-aligned rects against the polygon.

    Returns int8 array: 0 = disjoint, 1 = partial overlap, 2 = rect fully
    inside the polygon (safe to assign every contained pixel without PIP).
    """
    x0 = np.atleast_1d(np.asarray(x0, dtype=np.float64))
    y0 = np.atleast_1d(np.asarray(y0, dtype=np.float64))
    x1 = np.atleast_1d(np.asarray(x1, dtype=np.float64))
    y1 = np.atleast_1d(np.asarray(y1, dtype=np.float64))
    n = len(x0)
    out = np.zeros(n, dtype=np.int8)
    bx0, by0, bx1, by1 = prep.bbox
    cand = ~((x1 <= bx0) | (x0 >= bx1) | (y1 <= by0) | (y0 >= by1))
    if not cand.any():
        return out
    ci = np.nonzero(cand)[0]
    cx0, cy0, cx1, cy1 = x0[ci], y0[ci], x1[ci], y1[ci]
    crossed = _segments_cross_rect(prep, cx0, cy0, cx1, cy1)
    # All four corners inside? (one PIP pass over the 4 x N corners)
    corners_in = contains(prep, np.concatenate([cx0, cx1, cx0, cx1]),
                          np.concatenate([cy0, cy0, cy1, cy1])
                          ).reshape(4, -1).all(axis=0)
    full = corners_in & ~crossed
    # Partial: edge crosses, or rect engulfs part of the polygon (a vertex
    # inside the rect), or corners inside but boundary touches.
    vx = prep.x1[:, None]; vy = prep.y1[:, None]
    vert_in = ((vx >= cx0) & (vx < cx1) & (vy >= cy0) & (vy < cy1)).any(axis=0)
    some = crossed | vert_in | corners_in
    out[ci[full & ~vert_in]] = 2
    out[ci[some & ~(full & ~vert_in)]] = 1
    return out


def rect_fully_inside(prep: Prepared, rx0, ry0, rx1, ry1) -> bool:
    """Scalar convenience: is the rect fully interior to the polygon?"""
    return int(classify_rects(prep, rx0, ry0, rx1, ry1)[0]) == 2


# ------------------------------------------------------- clipping / overflow

def clip_rect(rings, rx0, ry0, rx1, ry1) -> list:
    """Sutherland–Hodgman clip of each ring to the rect.  Returns list of
    clipped rings (possibly empty)."""
    out_rings = []
    for ring in _as_rings(rings):
        poly = [tuple(p) for p in ring]
        for edge in range(4):
            if not poly:
                break
            clipped = []
            n = len(poly)
            for i in range(n):
                cx, cy = poly[i]
                px, py = poly[i - 1]
                if edge == 0:
                    cin, pin = cx >= rx0, px >= rx0
                elif edge == 1:
                    cin, pin = cx <= rx1, px <= rx1
                elif edge == 2:
                    cin, pin = cy >= ry0, py >= ry0
                else:
                    cin, pin = cy <= ry1, py <= ry1
                if cin != pin:
                    if edge == 0:
                        t = (rx0 - px) / (cx - px); ix, iy = rx0, py + t * (cy - py)
                    elif edge == 1:
                        t = (rx1 - px) / (cx - px); ix, iy = rx1, py + t * (cy - py)
                    elif edge == 2:
                        t = (ry0 - py) / (cy - py); ix, iy = px + t * (cx - px), ry0
                    else:
                        t = (ry1 - py) / (cy - py); ix, iy = px + t * (cx - px), ry1
                    clipped.append((ix, iy))
                if cin:
                    clipped.append((cx, cy))
            poly = clipped
        if len(poly) >= 3:
            out_rings.append(np.asarray(poly, dtype=np.float64))
    return out_rings


def _on_original_segment(xA, yA, xB, yB, segs, eps=1e-9) -> bool:
    """Is segment (A, B) a sub-segment of any original polygon edge?
    True iff both endpoints are collinear with and within the span of one
    COMMON original edge.  ``segs`` is the (E, 4) array of original
    edges."""
    ox1, oy1, ox2, oy2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = ox2 - ox1, oy2 - oy1
    ln2 = dx * dx + dy * dy
    safe = np.where(ln2 == 0, 1, ln2)
    tol = eps * np.maximum(1.0, np.sqrt(ln2))

    def on_edge(px, py):
        cross = np.abs((px - ox1) * dy - (py - oy1) * dx)
        t = ((px - ox1) * dx + (py - oy1) * dy) / safe
        return (cross <= tol) & (t >= -eps) & (t <= 1 + eps) & (ln2 > 0)

    return bool((on_edge(xA, yA) & on_edge(xB, yB)).any())


def overflow_possible(box, rx0, ry0, rx1, ry1) -> bool:
    """Exact bbox prefilter for :func:`edge_directions`: False when the
    polygon's bbox ``box`` lies inside the closed rect (the clip is the
    polygon itself) or meets it in at most an edge or corner (the clip
    has no area) — every flag is then False and the clip can be
    skipped."""
    bx0, by0, bx1, by1 = box
    if bx1 <= rx0 or bx0 >= rx1 or by1 <= ry0 or by0 >= ry1:
        return False
    return not (rx0 <= bx0 and bx1 <= rx1 and ry0 <= by0 and by1 <= ry1)


def edge_directions(rings, rx0, ry0, rx1, ry1) -> dict:
    """In which compass directions does the polygon overflow the extent rect?

    Re-implements the reference's rule (reference drill.py:104-182):
    clip the polygon to the extent; boundary segments of the clipped polygon
    that are NOT on the original boundary are classified by angle
    (horizontal iff |θ|<=π/4 or >=3π/4); a horizontal segment at the clipped
    polygon's min-y ⇒ South (max-y ⇒ North); a vertical one at min-x ⇒ West
    (max-x ⇒ East).  Returns {"North": bool, ...}; all-False when the polygon
    is fully inside or fully outside the extent.

    A clipped segment lying on the extent rect is only clip-INTRODUCED if
    it is not part of the original boundary (the reference excludes such
    edges via ``boundary.difference(og_geom.boundary)``, drill.py:140) —
    an original edge that happens to coincide with the extent boundary
    must not raise a spurious overflow flag.
    """
    dirs = {d: False for d in ("North", "South", "East", "West")}
    clipped = clip_rect(rings, rx0, ry0, rx1, ry1)
    if not clipped:
        return dirs
    orig = _as_rings(rings)
    orig_segs = np.concatenate([
        np.concatenate([a, np.roll(a, -1, axis=0)], axis=1) for a in orig])
    a_clip = sum(
        0.5 * abs(np.sum(r[:, 0] * np.roll(r[:, 1], -1)
                         - np.roll(r[:, 0], -1) * r[:, 1]))
        for r in clipped
    )
    if a_clip == 0 or abs(a_clip - area(rings)) < 1e-9 * max(a_clip, 1.0):
        return dirs
    allx = np.concatenate([r[:, 0] for r in clipped])
    ally = np.concatenate([r[:, 1] for r in clipped])
    minx, maxx = allx.min(), allx.max()
    miny, maxy = ally.min(), ally.max()
    eps = 1e-9
    for r in clipped:
        nxt = np.roll(r, -1, axis=0)
        for (xA, yA), (xB, yB) in zip(r, nxt):
            # New segments introduced by clipping lie on the rect boundary.
            on_rect = (
                (abs(xA - rx0) < eps and abs(xB - rx0) < eps)
                or (abs(xA - rx1) < eps and abs(xB - rx1) < eps)
                or (abs(yA - ry0) < eps and abs(yB - ry0) < eps)
                or (abs(yA - ry1) < eps and abs(yB - ry1) < eps)
            )
            if not on_rect:
                continue
            # original edges coinciding with the extent boundary are NOT
            # clip-introduced (reference boundary.difference semantics)
            if _on_original_segment(xA, yA, xB, yB, orig_segs):
                continue
            ang = np.arctan2(yB - yA, xB - xA)
            horizontal = abs(ang) <= np.pi / 4 or abs(ang) >= 3 * np.pi / 4
            if horizontal:
                s, n = min(yA, yB), max(yA, yB)
                if abs(s - miny) < eps:
                    dirs["South"] = True
                elif abs(n - maxy) < eps:
                    dirs["North"] = True
            else:
                w, e = min(xA, xB), max(xA, xB)
                if abs(w - minx) < eps:
                    dirs["West"] = True
                elif abs(e - maxx) < eps:
                    dirs["East"] = True
    return dirs


# ----------------------------------------------------------------- geohash

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lat: float, lon: float, precision: int = 9) -> str:
    """Standard geohash (used for reference-style polygon ids,
    reference stack.py:497-499)."""
    lat_r = [-90.0, 90.0]
    lon_r = [-180.0, 180.0]
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_r[0] + lon_r[1]) / 2
            if lon > mid:
                bits.append(1); lon_r[0] = mid
            else:
                bits.append(0); lon_r[1] = mid
        else:
            mid = (lat_r[0] + lat_r[1]) / 2
            if lat > mid:
                bits.append(1); lat_r[0] = mid
            else:
                bits.append(0); lat_r[1] = mid
        even = not even
    out = []
    for i in range(0, len(bits), 5):
        v = 0
        for b in bits[i:i + 5]:
            v = (v << 1) | b
        out.append(_B32[v])
    return "".join(out)


def geohash_decode(gh: str) -> tuple:
    """(lat, lon) centre of the geohash cell."""
    lat_r = [-90.0, 90.0]
    lon_r = [-180.0, 180.0]
    even = True
    for ch in gh:
        v = _B32.index(ch)
        for shift in range(4, -1, -1):
            bit = (v >> shift) & 1
            r = lon_r if even else lat_r
            mid = (r[0] + r[1]) / 2
            if bit:
                r[0] = mid
            else:
                r[1] = mid
            even = not even
    return (lat_r[0] + lat_r[1]) / 2, (lon_r[0] + lon_r[1]) / 2
