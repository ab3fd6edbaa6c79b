"""Deterministic raster↔vector tile assignment (SURVEY.md §2.8 R2).

The reference snaps rasters to target-aligned-pixel grids
(``gdalwarp -tap``, ``create_dem_tiles_from_array.py:250-258``) and sizes
block grids per image (``local_match.py:508-542``). Here every row gets
deterministic global tile ids — equirect grid cell, XYZ tile, quadkey,
S2 cell — as one SQL expression per key / one vectorized UDF. No
shuffle; tile ids are identical at any parallelism level (derived from
coordinates only, never from partition index).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.index import hex7 as hex7_mod
from gis_scripts_spark.index import s2 as s2_mod
from gis_scripts_spark.index import tiles as tiles_mod


def s2_cell_udf(level: int):
    """Arrow-vectorized S2 cell encode."""

    @F.arrow_udf(LongType())
    def enc(lat: pa.Array, lon: pa.Array) -> pa.Array:
        return pa.array(s2_mod.cell_id(_np(lat), _np(lon), level))

    return enc


def hex7_cell_udf(res: int):
    """Arrow-vectorized hex7 (H3-structure aperture-7 hex) cell encode."""

    @F.arrow_udf(LongType())
    def enc(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return pa.array(hex7_mod.encode(_np(lon), _np(lat), res))

    return enc


def _np(a: pa.Array):
    """numpy copy of an Arrow column; a float NULL reads as NaN, as in pandas."""
    return a.to_numpy(zero_copy_only=False)


def assign_tiles(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    grid_z: int = 7,
    tile_z: int = 12,
    s2_level: int | None = 12,
    hex_res: int | None = None,
) -> DataFrame:
    """Append cell/tile id columns: `cell` (grid), `tile_x/tile_y/tile_z`
    + `quadkey` (XYZ Web Mercator), `s2_cell` / `hex_cell` (optional,
    Arrow UDFs — the north rule's "encoded to H3 (and S2) cells").

    Two projections: the cell and tile x/y, then the tile id, quadkey and
    UDF cells. Each key is one SQL expression (`cells`, `tiles`)."""
    first, second = tiles_mod.tile_sql(lon, lat, tile_z)
    out = df.withColumns(cells_mod.exprs({"cell": cells_mod.cell_sql(lon, lat, grid_z), **first}))
    cols = cells_mod.exprs(second)
    if s2_level is not None:
        cols["s2_cell"] = s2_cell_udf(s2_level)(lat, lon)
    if hex_res is not None:
        cols["hex_cell"] = hex7_cell_udf(hex_res)(lon, lat)
    return out.withColumns(cols)
