"""Pure-numpy S2 cell ids (no external deps — the `s2` libs aren't in the
sandbox, so this is a from-scratch vectorized implementation of the PUBLIC
S2 geometry algorithm: cube-face projection + quadratic s/t transform +
Hilbert-curve position with 4-bit lookup tables).

Used as the secondary cell index (BASELINE.json north rule names "H3 (and
S2)"; the H3 library is likewise unavailable in-sandbox, so the engine's
hierarchical cell index API is S2 + the exact-covering equirect grid in
``cells.py``). Ids are bit-compatible with the reference S2 scheme:
64-bit = 3 face bits, 2*level Hilbert position bits, then a trailing 1.

Encoding is fully vectorized (8 table-gather steps per point), suitable for
Arrow-batched pandas UDFs at 10^12-row scale.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell traversal (public constants).
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT | _SWAP], dtype=np.int64)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p

_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level, i, j, orig_orient, pos, orient):
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orient] = (pos << 2) + orient
        _LOOKUP_IJ[(pos << 2) + orig_orient] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        _init_lookup(
            level,
            i + (int(r[idx]) >> 1),
            j + (int(r[idx]) & 1),
            orig_orient,
            pos + idx,
            orient ^ int(_POS_TO_ORIENT[idx]),
        )


for _orient in range(4):
    _init_lookup(0, 0, 0, _orient, 0, _orient)


# ------------------------------------------------------------ lat/lng -> ij
def _xyz_from_latlng(lat_deg, lng_deg):
    lat = np.radians(np.asarray(lat_deg, np.float64))
    lng = np.radians(np.asarray(lng_deg, np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lng), cos_lat * np.sin(lng), np.sin(lat)


def _face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    # u/v per face (public S2 face projection table)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve) in enumerate(
        [
            (lambda: y / x, lambda: z / x),      # face 0 (+x)
            (lambda: -x / y, lambda: z / y),     # face 1 (+y)
            (lambda: -x / z, lambda: -y / z),    # face 2 (+z)
            (lambda: z / x, lambda: y / x),      # face 3 (-x)
            (lambda: z / y, lambda: -x / y),     # face 4 (-y)
            (lambda: -y / z, lambda: -x / z),    # face 5 (-z)
        ]
    ):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _st_from_uv(u):
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _ij_from_st(s):
    return np.clip(np.floor(s * (1 << MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


# --------------------------------------------------------------- public API
def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_id(lat_deg, lng_deg, level: int = 12) -> np.ndarray:
    """Vectorized S2 cell id (int64, two's-complement view of the uint64 id)
    at the given level for arrays of lat/lng degrees."""
    x, y, z = _xyz_from_latlng(lat_deg, lng_deg)
    face, u, v = _face_uv(x, y, z)
    i = _ij_from_st(_st_from_uv(u))
    j = _ij_from_st(_st_from_uv(v))
    return cell_id_from_face_ij(face, i, j, level)


def cell_id_from_face_ij(face, i, j, level: int = MAX_LEVEL) -> np.ndarray:
    """Hilbert-encode (face, i, j) leaf coords to a cell id at `level`."""
    face = np.asarray(face, np.int64)
    i = np.asarray(i, np.int64)
    j = np.asarray(j, np.int64)
    n = face << 60
    bits = face & _SWAP
    mask = (1 << _LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2) << (k * 2 * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    leaf = n * 2 + 1
    if level >= MAX_LEVEL:
        return leaf
    lsb = np.int64(lsb_for_level(level))
    return (leaf & -lsb) | lsb


def cell_id_slow(face: int, i: int, j: int, level: int = MAX_LEVEL) -> int:
    """Independent bit-at-a-time Hilbert encoding (no lookup tables) — the
    property-test oracle for `cell_id_from_face_ij`."""
    orient = face & _SWAP
    pos = 0
    for k in range(MAX_LEVEL - 1, -1, -1):
        ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
        idx = int(_IJ_TO_POS[orient, ij])
        pos = (pos << 2) | idx
        orient ^= int(_POS_TO_ORIENT[idx])
    leaf = (((face << 60) | pos) * 2 + 1) & ((1 << 64) - 1)
    if level < MAX_LEVEL:
        lsb = lsb_for_level(level)
        leaf = (leaf & ((1 << 64) - lsb)) | lsb
    if leaf >= 1 << 63:  # two's-complement int64 view, matching numpy path
        leaf -= 1 << 64
    return leaf


def level_of(cell: np.ndarray) -> np.ndarray:
    """Level from the position of the lowest set bit."""
    cell = np.asarray(cell, np.int64)
    lsb = cell & -cell
    return MAX_LEVEL - (np.round(np.log2(lsb.astype(np.float64))) / 2).astype(np.int64)


def parent(cell, level: int) -> np.ndarray:
    cell = np.asarray(cell, np.int64)
    lsb = np.int64(lsb_for_level(level))
    return (cell & -lsb) | lsb


def token(cell: int) -> str:
    """Hex token (uint64, trailing zero nibbles stripped) — public format."""
    u = int(np.uint64(np.int64(cell)))
    s = f"{u:016x}".rstrip("0")
    return s or "X"


# ---------------------------------------------------------------- decoding
def _to_face_ij_orientation(cell: int) -> tuple[int, int, int, int]:
    """Inverse Hilbert traversal (public s2 algorithm): cell id -> (face,
    i, j, orientation). The top lookup step carries only 2 position bits
    (MAX_LEVEL - 7*LOOKUP_BITS = 2)."""
    u = int(np.uint64(np.int64(cell)))
    face = u >> 61
    bits = face & _SWAP
    i = j = 0
    for k in range(7, -1, -1):
        nbits = MAX_LEVEL - 7 * _LOOKUP_BITS if k == 7 else _LOOKUP_BITS
        bits += ((u >> (k * 2 * _LOOKUP_BITS + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = int(_LOOKUP_IJ[bits])
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return face, i, j, bits


def _uv_from_st(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


_FACE_UV_TO_XYZ = [
    lambda u, v: (1.0, u, v),
    lambda u, v: (-u, 1.0, v),
    lambda u, v: (-u, -v, 1.0),
    lambda u, v: (-1.0, -v, -u),
    lambda u, v: (v, -1.0, -u),
    lambda u, v: (v, u, -1.0),
]


def to_lat_lng(cell: int) -> tuple[float, float]:
    """Center (lat, lng) degrees of a cell at any level."""
    face, i, j, _ = _to_face_ij_orientation(int(cell))
    u_cell = int(np.uint64(np.int64(cell)))
    is_leaf = bool(u_cell & 1)
    if is_leaf:
        delta = 1
    else:
        # public center correction: odd traversal parity shifts the center
        delta = 2 if ((i ^ (u_cell >> 2)) & 1) else 0
    si = 2 * i + delta
    ti = 2 * j + delta
    s = si / float(1 << (MAX_LEVEL + 1))
    t = ti / float(1 << (MAX_LEVEL + 1))
    u = _uv_from_st(s)
    v = _uv_from_st(t)
    x, y, z = _FACE_UV_TO_XYZ[face](u, v)
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lng = np.degrees(np.arctan2(y, x))
    return float(lat), float(lng)
