"""Equirectangular lon/lat grid cells — the engine's primary spatial join key.

Replaces the reference's ad-hoc block grids (``local_match.py:508-542``
computes an M×N grid over a bounding rectangle; ``global_match.py:61-75``
prefilters joins by bbox) with a deterministic global grid:

    gx = floor((lon + 180) / 360 * 2^z),  gy = floor((90 - lat) / 180 * 2^z)

packed into one int64 ``cell = (z << 58) | (gx << 29) | gy`` (z <= 28).

Why equirectangular and not Web Mercator for the JOIN key: covering math for
polygons is exact closed-form floor arithmetic (no trig), identical between
the JVM, numpy, and any SQL oracle — so join prefilters are reproducible
bit-for-bit at any parallelism. Web-Mercator XYZ tiles (``tiles.py``) are
kept for serving-oriented tile assignment.

All functions come in two flavors:
- ``*_col``: pyspark Column expressions (JVM-side, whole-stage codegen; no
  UDF, no shuffle).
- numpy versions for driver-side covering, oracles and pandas-UDF kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_Z = 28
_GX_SHIFT = 29
_Z_SHIFT = 58


# ---------------------------------------------------------------- Column API
def grid_xy_col(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Grid x/y at zoom z as int64 Columns (clamped to valid range)."""
    n = 1 << z
    gx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    gy = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n)))
    gx = F.greatest(F.lit(0), F.least(F.lit(n - 1), gx))
    gy = F.greatest(F.lit(0), F.least(F.lit(n - 1), gy))
    return gx.cast("long"), gy.cast("long")


def cell_col(lon: Column, lat: Column, z: int) -> Column:
    """Packed int64 cell id at zoom z. Pure Column math — codegen'd."""
    gx, gy = grid_xy_col(lon, lat, z)
    return pack_col(z, gx, gy).alias(f"cell_z{z}")


def pack_col(z: int, gx: Column, gy: Column) -> Column:
    """Packed int64 cell id from long grid x/y Columns (see `pack`)."""
    return (
        (F.lit(int(z)).cast("long") * F.lit(1 << _Z_SHIFT).cast("long"))
        + gx * F.lit(1 << _GX_SHIFT).cast("long")
        + gy
    )


def cover_bbox_col(x0: Column, y0: Column, x1: Column, y1: Column, z: int) -> Column:
    """array<long> of the cells covering a bbox at zoom z — the Column twin
    of `cover_bbox` (same cells, same y-major order). The guard is on the
    clamped grid indices, not the coordinates: an inverted box whose edges
    clamp into one column still covers it, as in numpy, and Spark's
    `sequence` would otherwise count down."""
    gx0, gy0 = grid_xy_col(x0, y1, z)
    gx1, gy1 = grid_xy_col(x1, y0, z)
    cover = F.flatten(
        F.transform(
            F.sequence(gy0, gy1),
            lambda gy: F.transform(F.sequence(gx0, gx1), lambda gx: pack_col(z, gx, gy)),
        )
    )
    return F.when((gx0 <= gx1) & (gy0 <= gy1), cover).otherwise(F.array().cast("array<long>"))


def cell_prefix_col(cell: Column, z: int, prefix_z: int) -> Column:
    """Parent cell at coarser zoom `prefix_z` from a packed cell at zoom
    `z` — pure bit shifts (codegen'd). This is the "cell prefix" the north
    rule partitions tables by: coarse spatial locality with a bounded
    number of distinct values (4^prefix_z), suitable for Hive/Iceberg
    partition layout (`snaptable.write_snapshot(partition_by=...)`)."""
    if not 0 <= prefix_z <= z:
        raise ValueError(f"prefix_z must be in [0, {z}]")
    s = z - prefix_z
    gx = F.shiftright(cell, _GX_SHIFT).bitwiseAND(
        F.lit((1 << (_Z_SHIFT - _GX_SHIFT)) - 1)
    )
    gy = cell.bitwiseAND(F.lit((1 << _GX_SHIFT) - 1))
    return (
        (F.lit(int(prefix_z)).cast("long") * F.lit(1 << _Z_SHIFT).cast("long"))
        + F.shiftright(gx, s) * F.lit(1 << _GX_SHIFT).cast("long")
        + F.shiftright(gy, s)
    ).alias(f"cell_z{prefix_z}")


def cell_prefix(cell, prefix_z: int):
    """numpy twin of cell_prefix_col (oracles / driver-side checks)."""
    z, gx, gy = unpack(cell)
    s = z - np.int64(prefix_z)
    if np.any(s < 0):
        raise ValueError("prefix_z coarser than the cell's own zoom required")
    return pack(prefix_z, np.asarray(gx, np.int64) >> s, np.asarray(gy, np.int64) >> s)


def cell_gx_col(cell: Column) -> Column:
    return F.shiftright(cell, _GX_SHIFT).bitwiseAND(F.lit((1 << (_Z_SHIFT - _GX_SHIFT)) - 1))


def cell_gy_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit((1 << _GX_SHIFT) - 1))


# ----------------------------------------------------------------- numpy API
def grid_xy(lon, lat, z: int):
    """Vectorized numpy grid x/y — same floor math as grid_xy_col."""
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    gx = np.floor((lon + 180.0) / 360.0 * float(n)).astype(np.int64)
    gy = np.floor((90.0 - lat) / 180.0 * float(n)).astype(np.int64)
    np.clip(gx, 0, n - 1, out=gx)
    np.clip(gy, 0, n - 1, out=gy)
    return gx, gy


def pack(z, gx, gy):
    return (np.int64(z) << _Z_SHIFT) | (np.asarray(gx, np.int64) << _GX_SHIFT) | np.asarray(gy, np.int64)


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    z = cell >> _Z_SHIFT
    gx = (cell >> _GX_SHIFT) & ((1 << _Z_SHIFT - _GX_SHIFT) - 1)
    gy = cell & ((1 << _GX_SHIFT) - 1)
    return z, gx, gy


def cell(lon, lat, z: int):
    gx, gy = grid_xy(lon, lat, z)
    return pack(z, gx, gy)


def cell_bounds(cell_id: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    z, gx, gy = unpack(np.int64(cell_id))
    z, gx, gy = int(z), int(gx), int(gy)
    n = 1 << z
    lon0 = gx / n * 360.0 - 180.0
    lon1 = (gx + 1) / n * 360.0 - 180.0
    lat1 = 90.0 - gy / n * 180.0
    lat0 = 90.0 - (gy + 1) / n * 180.0
    return lon0, lat0, lon1, lat1


def cell_size_deg(z: int) -> tuple[float, float]:
    n = 1 << z
    return 360.0 / n, 180.0 / n


def disk(cell_id: int, r: int) -> np.ndarray:
    """All cells within Chebyshev distance r (the (2r+1)^2 disk), clamped to
    the grid — kNN ring expansion uses this (SURVEY.md §2.3 J8)."""
    z, gx, gy = unpack(np.int64(cell_id))
    z, gx, gy = int(z), int(gx), int(gy)
    n = 1 << z
    xs = np.arange(max(0, gx - r), min(n, gx + r + 1), dtype=np.int64)
    ys = np.arange(max(0, gy - r), min(n, gy + r + 1), dtype=np.int64)
    xx, yy = np.meshgrid(xs, ys)
    return pack(z, xx.ravel(), yy.ravel())


def disk_arr(cells_arr: np.ndarray, r: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized disk for an array of cells.

    Returns (repeated_input_index, neighbor_cell) pairs; neighbors outside
    the grid are dropped. Used by the IDW window's candidate generator.
    """
    arr = np.asarray(cells_arr, np.int64)
    z, gx, gy = unpack(arr)
    d = np.arange(-r, r + 1, dtype=np.int64)
    dx = np.tile(d, len(d))
    dy = np.repeat(d, len(d))
    nx = gx[:, None] + dx[None, :]
    ny = gy[:, None] + dy[None, :]
    n = (np.int64(1) << z)[:, None]
    ok = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
    idx = np.broadcast_to(np.arange(len(arr))[:, None], nx.shape)[ok]
    out = pack(np.broadcast_to(z[:, None], nx.shape)[ok], nx[ok], ny[ok])
    return idx, out


def cover_bbox(lon_min, lat_min, lon_max, lat_max, z: int) -> np.ndarray:
    """Exact cell covering of a bbox at zoom z (closed-form, no trig)."""
    n = 1 << z
    gx0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    gx1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * n), 0, n - 1))
    gy0 = int(np.clip(np.floor((90.0 - lat_max) / 180.0 * n), 0, n - 1))
    gy1 = int(np.clip(np.floor((90.0 - lat_min) / 180.0 * n), 0, n - 1))
    xs = np.arange(gx0, gx1 + 1, dtype=np.int64)
    ys = np.arange(gy0, gy1 + 1, dtype=np.int64)
    xx, yy = np.meshgrid(xs, ys)
    return pack(z, xx.ravel(), yy.ravel())
