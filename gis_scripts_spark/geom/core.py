"""Planar geometry kernels: point-in-polygon, bbox ops, area, cell covering.

All vectorized numpy, designed to run inside pandas UDFs (many points × one
polygon per call). Semantics mirror the reference's OGR/shapely usage:
- polygon ∩ polygon area ratio (``seagrass_lib.py:185-192``)
- extent containment/clamping (``seagrass_lib.py:109-120``)
"""

from __future__ import annotations

import numpy as np

from gis_scripts_spark.index import cells as cells_mod


# ------------------------------------------------------------------- bboxes
def bbox_of_rings(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    ext = rings[0]
    return float(ext[:, 0].min()), float(ext[:, 1].min()), float(ext[:, 0].max()), float(ext[:, 1].max())


# ------------------------------------------------------------------ P-I-P
def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, vectorized over points (one ring).

    Standard crossing-number algorithm; boundary behavior is half-open
    (consistent under the engine's "points never on test-polygon edges"
    fixture discipline, FIXTURES.md).
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    cond = (y0[None, :] > py) != (y1[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x0[None, :] + (py - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    crossings = (cond & (px < x_int)).sum(axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over all rings: inside exterior minus holes."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    inside = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        inside += points_in_ring(px, py, ring)
    return (inside % 2).astype(bool)


def points_in_multipolygon(px, py, polys: list[list[np.ndarray]]) -> np.ndarray:
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    out = np.zeros(len(px), dtype=bool)
    for rings in polys:
        out |= points_in_polygon(px, py, rings)
    return out


# -------------------------------------------------------------------- area
def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: list[np.ndarray]) -> float:
    """|exterior| - sum(|holes|) (matches OGR GetArea semantics used at
    ``seagrass_lib.py:190-192``)."""
    if not rings:
        return 0.0
    return abs(ring_area(rings[0])) - sum(abs(ring_area(r)) for r in rings[1:])


def segments_intersect_bbox(ring: np.ndarray, bb) -> bool:
    """Does any ring segment intersect the bbox? Cohen–Sutherland-style
    outcode test per segment (conservative exact)."""
    x0, y0, x1, y1 = bb

    def outcode(x, y):
        code = np.zeros(len(x), dtype=np.int64)
        code |= (x < x0) * 1
        code |= (x > x1) * 2
        code |= (y < y0) * 4
        code |= (y > y1) * 8
        return code

    ax, ay = ring[:-1, 0], ring[:-1, 1]
    bx, by = ring[1:, 0], ring[1:, 1]
    ca = outcode(ax, ay)
    cb = outcode(bx, by)
    # trivially inside
    if np.any((ca == 0) | (cb == 0)):
        return True
    cand = (ca & cb) == 0  # not trivially outside
    if not cand.any():
        return False
    # exact segment-rectangle test for the candidates
    for i in np.nonzero(cand)[0]:
        if _seg_rect_intersect(ax[i], ay[i], bx[i], by[i], x0, y0, x1, y1):
            return True
    return False


def _seg_rect_intersect(ax, ay, bx, by, x0, y0, x1, y1) -> bool:
    # Liang-Barsky clip
    dx, dy = bx - ax, by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        if p == 0:
            if q < 0:
                return False
            continue
        t = q / p
        if p < 0:
            if t > t1:
                return False
            t0 = max(t0, t)
        else:
            if t < t0:
                return False
            t1 = min(t1, t)
    return t0 <= t1


def clip_ring_to_rect(ring: np.ndarray, bb) -> np.ndarray:
    """Sutherland–Hodgman clip of a ring against an axis-aligned rect.
    Returns the clipped (closed) ring, possibly empty. Exact for any simple
    polygon against a convex window — enough for footprint∩AOI-extent
    coverage (``seagrass_lib.py:185-192`` with rectangular AOIs)."""
    x0, y0, x1, y1 = bb
    pts = [tuple(p) for p in ring[:-1]] if np.array_equal(ring[0], ring[-1]) else [tuple(p) for p in ring]

    def clip_edge(points, inside, intersect):
        out = []
        n = len(points)
        for i in range(n):
            cur, prev = points[i], points[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def ix_v(xc):
        def f(a, b):
            t = (xc - a[0]) / (b[0] - a[0])
            return (xc, a[1] + t * (b[1] - a[1]))

        return f

    def ix_h(yc):
        def f(a, b):
            t = (yc - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), yc)

        return f

    for inside, ix in (
        (lambda p: p[0] >= x0, ix_v(x0)),
        (lambda p: p[0] <= x1, ix_v(x1)),
        (lambda p: p[1] >= y0, ix_h(y0)),
        (lambda p: p[1] <= y1, ix_h(y1)),
    ):
        pts = clip_edge(pts, inside, ix)
        if not pts:
            return np.empty((0, 2))
    arr = np.asarray(pts)
    return np.vstack([arr, arr[:1]])


def coverage_fraction(rings: list[np.ndarray], bb) -> float:
    """area(polygon ∩ rect) / area(polygon) — the reference's AOI coverage
    percent (``seagrass_lib.py:185-192``)."""
    total = polygon_area(rings)
    if total <= 0:
        return 0.0
    inter = 0.0
    for k, ring in enumerate(rings):
        clipped = clip_ring_to_rect(ring, bb)
        if len(clipped) >= 4:
            a = abs(ring_area(clipped))
            inter += a if k == 0 else -a
    return max(0.0, min(1.0, inter / total))


# ------------------------------------------------------------ cell covering
def cover_polygon(polys: list[list[np.ndarray]], z: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a (multi)polygon at grid zoom z.

    Returns (cells, full_flags): `full_flags[i]` True means the cell is
    ENTIRELY inside the polygon (join can skip the exact PIP check — the
    cheap `covers` path of SURVEY.md §2.3 J6); False means boundary cell
    (exact check required).
    """
    out_cells: list[np.ndarray] = []
    out_full: list[np.ndarray] = []
    for rings in polys:
        bb = bbox_of_rings(rings)
        cand = cells_mod.cover_bbox(*bb, z)
        if len(cand) == 0:
            continue
        full = np.zeros(len(cand), dtype=bool)
        keep = np.zeros(len(cand), dtype=bool)
        for idx, c in enumerate(cand):
            cb = cells_mod.cell_bounds(int(c))
            boundary = any(segments_intersect_bbox(r, cb) for r in rings)
            if boundary:
                keep[idx] = True
            else:
                # no edge crosses the cell: either fully inside or fully out
                cx = np.array([(cb[0] + cb[2]) / 2])
                cy = np.array([(cb[1] + cb[3]) / 2])
                if points_in_polygon(cx, cy, rings)[0]:
                    keep[idx] = True
                    full[idx] = True
        out_cells.append(cand[keep])
        out_full.append(full[keep])
    if not out_cells:
        return np.empty(0, np.int64), np.empty(0, bool)
    cells_all = np.concatenate(out_cells)
    full_all = np.concatenate(out_full)
    # dedupe across multipolygon parts (full wins over boundary)
    order = np.lexsort((~full_all, cells_all))
    cells_all, full_all = cells_all[order], full_all[order]
    first = np.ones(len(cells_all), dtype=bool)
    first[1:] = cells_all[1:] != cells_all[:-1]
    return cells_all[first], full_all[first]
