"""Slippy-map XYZ tiles + quadkeys (Web Mercator), deterministic tile IDs.

Re-expresses the reference's target-aligned-pixel tiling
(``gdalwarp -tap``, ``create_dem_tiles_from_array.py:250-258``;
block grid ``local_match.py:508-542``) as the standard public XYZ scheme:

    x = floor((lon + 180) / 360 * 2^z)
    y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * 2^z)

and Bing-style quadkeys (one base-4 digit per zoom level, digit =
2*bit(y) + bit(x)).

SQL flavor is pure JVM math (no UDF), one expression per key; numpy
flavor backs the pytest oracles (FIXTURES.md §3).
"""

from __future__ import annotations

import numpy as np

from gis_scripts_spark.index.cells import dlit, exprs

WEBMERC_LAT_MAX = 85.05112878


# ------------------------------------------------------------------- SQL API
# One SQL expression per key, as in `cells` (inputs are SQL text; double
# literals carry the `D` suffix).
def tile_xy_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    """Tile x/y at zoom z as int SQL (latitude clamped to Web Mercator)."""
    n = 1 << z
    lat_rad = f"radians(greatest({dlit(-WEBMERC_LAT_MAX)}, least({dlit(WEBMERC_LAT_MAX)}, {lat})))"
    x = f"floor((({lon}) + 180.0D) / 360.0D * {dlit(n)})"
    y = f"floor((1.0D - asinh(tan({lat_rad})) / {dlit(np.pi)}) / 2.0D * {dlit(n)})"
    return (
        f"CAST(greatest(0, least({n - 1}, {x})) AS INT)",
        f"CAST(greatest(0, least({n - 1}, {y})) AS INT)",
    )


def quadkey_sql(x: str, y: str, z: int) -> str:
    """Quadkey string from tile x/y at zoom z — z constant-unrolled digit
    expressions (whole-stage codegen); '' at z = 0."""
    digits = [
        f"CAST((shiftright(CAST({y} AS BIGINT), {i}) & 1) * 2"
        f" + (shiftright(CAST({x} AS BIGINT), {i}) & 1) AS STRING)"
        for i in range(z - 1, -1, -1)
    ]
    return f"concat({', '.join(digits)})" if digits else "''"


def tile_id_sql(x: str, y: str, z: int) -> str:
    """Packed int64 tile id: (z << 58) | (x << 29) | y — bijective with
    (z, x, y) for z <= 29, so the quadkey STRING is derivable on demand.
    This is the production-scale identifier: at 10^12 rows a 12-char
    quadkey costs 12+ bytes of heap churn per row (measurably GC-bound at
    high thread counts), while the packed id is 8 flat bytes inside
    whole-stage codegen."""
    return (
        f"(CAST({z} AS BIGINT) * {1 << 58} + CAST({x} AS BIGINT) * {1 << 29}"
        f" + CAST({y} AS BIGINT))"
    )


def tile_sql(lon: str, lat: str, z: int, prefix: str = "tile") -> tuple[dict, dict]:
    """The tile columns as two projections of {name: SQL}: z/x/y, then the
    id and quadkey, which read the x/y columns of the first."""
    x, y = tile_xy_sql(lon, lat, z)
    cx, cy = f"`{prefix}_x`", f"`{prefix}_y`"
    return (
        {f"{prefix}_z": str(z), f"{prefix}_x": x, f"{prefix}_y": y},
        {f"{prefix}_id": tile_id_sql(cx, cy, z), "quadkey": quadkey_sql(cx, cy, z)},
    )


def tile_cols(df, lon: str = "lon", lat: str = "lat", z: int = 12, prefix: str = "tile"):
    """Append tile_z/tile_x/tile_y/tile_id/quadkey columns. No shuffle.
    Catalyst prunes whichever id flavor downstream doesn't read."""
    first, second = tile_sql(lon, lat, z, prefix)
    return df.withColumns(exprs(first)).withColumns(exprs(second))


# ----------------------------------------------------------------- numpy API
def tile_xy(lon, lat, z: int):
    n = 1 << z
    lon = np.asarray(lon, np.float64)
    lat = np.clip(np.asarray(lat, np.float64), -WEBMERC_LAT_MAX, WEBMERC_LAT_MAX)
    lat_rad = np.radians(lat)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def quadkey(x, y, z: int) -> np.ndarray:
    x = np.asarray(x, np.int64)
    y = np.asarray(y, np.int64)
    out = np.full(x.shape, "", dtype=object)
    for i in range(z - 1, -1, -1):
        d = ((y >> i) & 1) * 2 + ((x >> i) & 1)
        out = np.char.add(out.astype(str), d.astype(str)).astype(object)
    return out.astype(str)


def quadkey_to_xyz(qk: str) -> tuple[int, int, int]:
    z = len(qk)
    x = y = 0
    for ch in qk:
        d = int(ch)
        x = (x << 1) | (d & 1)
        y = (y << 1) | (d >> 1)
    return z, x, y


def tile_id(x, y, z: int) -> np.ndarray:
    """numpy mirror of tile_id_sql (pytest oracle)."""
    return (np.int64(z) << 58) + (np.asarray(x, np.int64) << 29) + np.asarray(y, np.int64)


def tile_id_to_xyz(tid: int) -> tuple[int, int, int]:
    """Inverse of tile_id: (z, x, y)."""
    tid = int(tid)
    return tid >> 58, (tid >> 29) & ((1 << 29) - 1), tid & ((1 << 29) - 1)
