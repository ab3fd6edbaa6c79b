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
- ``*_sql``: the key as one Spark SQL expression (JVM-side, whole-stage
  codegen; no UDF, no shuffle), turned into a Column by one ``F.expr``;
  ``cell_col``, ``cover_bbox_col`` and ``cell_prefix_col`` wrap them.
- numpy versions for driver-side covering, oracles and pandas-UDF kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

MAX_Z = 28
_GX_SHIFT = 29
_Z_SHIFT = 58


# ------------------------------------------------------------------- SQL API
# Each key is ONE SQL expression: this text is the only home of the per-row
# math, and `F.expr` turns a key into a Column with a single call into the
# JVM (a Column built operator by operator costs one Py4J round trip, plus
# PySpark's call-site capture, per `+`, `F.lit` or `F.floor`). Inputs are
# SQL text: a column name or an expression. Double literals carry the `D`
# suffix: Spark SQL reads a bare `180.0` as DECIMAL(4,1).


def sql(c: Column | str) -> str:
    """SQL text of a key input: a str is SQL already; a Column must be a
    plain column reference (``F.col("lon")``)."""
    if isinstance(c, str):
        return c
    jexpr = SparkSession.active()._jsparkSession.expression(c._jc)
    if jexpr.getClass().getSimpleName() not in ("UnresolvedAttribute", "AttributeReference"):
        raise ValueError(f"a key input Column must be a column reference, got {c}")
    return jexpr.sql()


def exprs(sqls: dict[str, str]) -> dict[str, Column]:
    """{name: SQL} -> {name: Column}, for one `withColumns` projection."""
    return {name: F.expr(text) for name, text in sqls.items()}


def dlit(v: float) -> str:
    """A double literal that round-trips `v` exactly."""
    return f"{float(v)!r}D"


def grid_xy_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    """Grid x/y at zoom z as bigint SQL (clamped to the valid range)."""
    n = 1 << z
    gx = f"floor((({lon}) + 180.0D) / 360.0D * {dlit(n)})"
    gy = f"floor((90.0D - ({lat})) / 180.0D * {dlit(n)})"
    return (
        f"CAST(greatest(0, least({n - 1}, {gx})) AS BIGINT)",
        f"CAST(greatest(0, least({n - 1}, {gy})) AS BIGINT)",
    )


def pack_sql(z: int, gx: str, gy: str) -> str:
    """Packed int64 cell id from bigint grid x/y SQL (see `pack`)."""
    return f"({int(z) << _Z_SHIFT}L + ({gx}) * {1 << _GX_SHIFT}L + ({gy}))"


def cell_sql(lon: str, lat: str, z: int) -> str:
    """Packed int64 cell id at zoom z."""
    return pack_sql(z, *grid_xy_sql(lon, lat, z))


def cover_bbox_sql(x0: str, y0: str, x1: str, y1: str, z: int) -> str:
    """array<bigint> of the cells covering a bbox at zoom z — the SQL twin
    of `cover_bbox` (same cells, same y-major order). The guard is on the
    clamped grid indices, not the coordinates: an inverted box whose edges
    clamp into one column still covers it, as in numpy, and Spark's
    `sequence` would otherwise count down."""
    gx0, gy0 = grid_xy_sql(x0, y1, z)
    gx1, gy1 = grid_xy_sql(x1, y0, z)
    cover = (
        f"flatten(transform(sequence({gy0}, {gy1}), _gy -> "
        f"transform(sequence({gx0}, {gx1}), _gx -> {pack_sql(z, '_gx', '_gy')})))"
    )
    return (
        f"CASE WHEN ({gx0} <= {gx1}) AND ({gy0} <= {gy1}) THEN {cover} "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def cell_gx_sql(cell: str) -> str:
    return f"(shiftright({cell}, {_GX_SHIFT}) & {(1 << (_Z_SHIFT - _GX_SHIFT)) - 1})"


def cell_gy_sql(cell: str) -> str:
    return f"(({cell}) & {(1 << _GX_SHIFT) - 1})"


def cell_prefix_sql(cell: str, z: int, prefix_z: int) -> str:
    """Parent cell at coarser zoom `prefix_z` from a packed cell at zoom
    `z` — pure bit shifts. This is the "cell prefix" the north rule
    partitions tables by: coarse spatial locality with a bounded number of
    distinct values (4^prefix_z), suitable for Hive/Iceberg partition
    layout (`snaptable.write_snapshot(partition_by=...)`)."""
    if not 0 <= prefix_z <= z:
        raise ValueError(f"prefix_z must be in [0, {z}]")
    s = z - prefix_z
    return pack_sql(
        prefix_z, f"shiftright({cell_gx_sql(cell)}, {s})", f"shiftright({cell_gy_sql(cell)}, {s})"
    )


# ------------------------------------------------------------- Column wrappers
def cell_col(lon: Column | str, lat: Column | str, z: int) -> Column:
    """Packed int64 cell id at zoom z, named ``cell_z{z}``."""
    return F.expr(f"{cell_sql(sql(lon), sql(lat), z)} AS cell_z{z}")


def cover_bbox_col(
    x0: Column | str, y0: Column | str, x1: Column | str, y1: Column | str, z: int
) -> Column:
    """`cover_bbox_sql` as a Column."""
    return F.expr(cover_bbox_sql(sql(x0), sql(y0), sql(x1), sql(y1), z))


def cell_prefix_col(cell: Column | str, z: int, prefix_z: int) -> Column:
    """`cell_prefix_sql` as a Column named ``cell_z{prefix_z}``."""
    return F.expr(f"{cell_prefix_sql(sql(cell), z, prefix_z)} AS cell_z{prefix_z}")


def cell_prefix(cell, prefix_z: int):
    """numpy twin of cell_prefix_sql (oracles / driver-side checks)."""
    z, gx, gy = unpack(cell)
    s = z - np.int64(prefix_z)
    if np.any(s < 0):
        raise ValueError("prefix_z coarser than the cell's own zoom required")
    return pack(prefix_z, np.asarray(gx, np.int64) >> s, np.asarray(gy, np.int64) >> s)


# ----------------------------------------------------------------- numpy API
def grid_xy(lon, lat, z: int):
    """Vectorized numpy grid x/y — same floor math as grid_xy_sql."""
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
