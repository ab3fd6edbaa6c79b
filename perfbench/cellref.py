"""S2 and hex7 cell ids for the pip_tile reference, written apart from the
engine's `index.s2` and `index.hex7`, so that a defect in those kernels
fails the output check instead of being copied into the reference.

Both follow the published definitions, by a different route than the
engine's kernels:
  s2    cube face, quadratic s/t transform, then the Hilbert position one
        level at a time (no 4-bit lookup tables), only down to `level`.
  hex7  icosahedron faces found by edge length (not by dot products),
        gnomonic projection onto the first face of largest cosine, the
        aperture-7 rotated axial lattice and cube rounding, then
        face(5) | res(4) | i+2^26 (27) | j+2^26 (27).
"""

from __future__ import annotations

import itertools
import math

import numpy as np

# ----------------------------------------------------------------------- S2
# Hilbert sub-cell order: IJ_TO_POS[orientation][2*i_bit + j_bit], and the
# orientation change after entering sub-cell `pos` (bit 0 swap, bit 1 invert)
S2_IJ_TO_POS = np.array([[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], np.uint64)
S2_POS_TO_ORIENT = np.array([1, 0, 0, 3], np.uint64)


def _st(u: np.ndarray) -> np.ndarray:
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def s2_cell_id(lat_deg: np.ndarray, lng_deg: np.ndarray, level: int) -> np.ndarray:
    """int64 view of the S2 cell id at `level` of each point."""
    lat, lng = np.radians(lat_deg), np.radians(lng_deg)
    p = np.stack([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng), np.sin(lat)])
    axis = np.argmax(np.abs(p), axis=0)
    x, y, z = p
    neg = np.take_along_axis(p, axis[None], 0)[0] < 0
    face = axis + 3 * neg
    with np.errstate(divide="ignore", invalid="ignore"):
        uv = {0: (y / x, z / x), 1: (-x / y, z / y), 2: (-x / z, -y / z),
              3: (z / x, y / x), 4: (z / y, -x / y), 5: (-y / z, -x / z)}
    u = np.select([face == f for f in range(6)], [uv[f][0] for f in range(6)])
    v = np.select([face == f for f in range(6)], [uv[f][1] for f in range(6)])
    n = 1 << level
    i = np.clip(np.floor(_st(u) * n), 0, n - 1).astype(np.uint64)
    j = np.clip(np.floor(_st(v) * n), 0, n - 1).astype(np.uint64)
    orient = face.astype(np.uint64) & np.uint64(1)
    pos = np.zeros(len(i), np.uint64)
    for k in range(level - 1, -1, -1):
        sub = S2_IJ_TO_POS[orient, ((i >> np.uint64(k)) & np.uint64(1)) * np.uint64(2)
                           + ((j >> np.uint64(k)) & np.uint64(1))]
        pos = (pos << np.uint64(2)) | sub
        orient ^= S2_POS_TO_ORIENT[sub]
    cid = ((face.astype(np.uint64) << np.uint64(61)) | (pos << np.uint64(61 - 2 * level))
           | np.uint64(1 << (60 - 2 * level)))
    return cid.view(np.int64)


# --------------------------------------------------------------------- hex7
HEX_U0 = 0.25  # res-0 lattice spacing in gnomonic units
HEX_OFF = 1 << 26


def _hex_faces() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Centers and tangent bases (e1 toward the face's lowest-numbered
    vertex, e2 = center x e1) of the 20 faces, numbered in order of their
    sorted vertex triples. Vertex k: for (a, b) in (+,+), (+,-), (-,+),
    (-,-), the three points (0, a, b phi), (a, b phi, 0), (a phi, 0, b)."""
    phi = (1.0 + math.sqrt(5.0)) / 2.0
    raw = np.array([pt for a in (1.0, -1.0) for b in (1.0, -1.0)
                    for pt in ((0.0, a, b * phi), (a, b * phi, 0.0), (a * phi, 0.0, b))])
    # on the unnormalised icosahedron an edge has length 2
    tris = [t for t in itertools.combinations(range(12), 3)
            if all(abs(np.sum((raw[p] - raw[q]) ** 2) - 4.0) < 1e-9 for p, q in itertools.combinations(t, 2))]
    vert = raw / np.linalg.norm(raw, axis=1, keepdims=True)
    centers, e1, e2 = [], [], []
    for a, b, c in tris:
        ctr = vert[a] + vert[b] + vert[c]
        ctr = ctr / np.linalg.norm(ctr)
        t = vert[a] - np.dot(vert[a], ctr) * ctr
        t = t / np.linalg.norm(t)
        centers.append(ctr)
        e1.append(t)
        e2.append(np.cross(ctr, t))
    return np.array(centers), np.array(e1), np.array(e2)


_HEX_CENTERS, _HEX_E1, _HEX_E2 = _hex_faces()


def hex7_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """int64 hex7 cell id at `res` of each point."""
    lonr, latr = lon * (math.pi / 180.0), lat * (math.pi / 180.0)
    px, py, pz = np.cos(latr) * np.cos(lonr), np.cos(latr) * np.sin(lonr), np.sin(latr)
    cos = px[:, None] * _HEX_CENTERS[:, 0] + py[:, None] * _HEX_CENTERS[:, 1] + pz[:, None] * _HEX_CENTERS[:, 2]
    face = np.argmax(cos, axis=1)
    d = cos[np.arange(len(face)), face]
    gx, gy, gz = px / d, py / d, pz / d
    a, b = _HEX_E1[face], _HEX_E2[face]
    x = gx * a[:, 0] + gy * a[:, 1] + gz * a[:, 2]
    y = gx * b[:, 0] + gy * b[:, 1] + gz * b[:, 2]
    # odd resolutions turn the lattice by atan(sqrt(3)/5)
    alpha = math.atan(math.sqrt(3.0) / 5.0) if res % 2 else 0.0
    xr = x * math.cos(alpha) + y * math.sin(alpha)
    yr = y * math.cos(alpha) - x * math.sin(alpha)
    spacing = HEX_U0 / math.sqrt(7.0) ** res
    q = xr / spacing - yr / (spacing * math.sqrt(3.0))
    r = 2.0 * yr / (spacing * math.sqrt(3.0))
    s = -q - r
    # cube rounding: round all three, then restore q + r + s = 0 through
    # the coordinate that moved most
    rq, rr, rs = np.floor(q + 0.5), np.floor(r + 0.5), np.floor(s + 0.5)
    dq, dr, ds = np.abs(rq - q), np.abs(rr - r), np.abs(rs - s)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr >= ds)
    i = np.where(fix_q, -rr - rs, rq).astype(np.int64)
    j = np.where(fix_r, -rq - rs, rr).astype(np.int64)
    return (face.astype(np.int64) << 58) | (np.int64(res) << 54) | ((i + HEX_OFF) << 27) | (j + HEX_OFF)
