"""Pixel-level mosaic compositing: merge overlapping images into per-tile
composite rasters with deterministic first-wins / last-wins semantics.

Reference parity (the final step of both match pipelines, previously
missing):
- last-wins  <- gdal_merge: later inputs overwrite valid pixels
  (``raster/merge_tif_files.py:48-58``)
- first-wins <- rasterio.merge default: first VALID pixel wins, nodata in
  an earlier image lets later images show through
  (``raster/merge_tif_files_rastario.py:31``)
- ``gdal.Warp``-into-mosaic (``seamless_mosaic/global_match.py:302-312``)
  and ``gdalbuildvrt`` (``seagrass_lib.py:429-437``) are the same per-pixel
  rule over a target grid.

Spark shape: the output tile grid is fixed (tile_px × tile_px pixels on the
global RES_DEG grid, pixel-snapped like TAP); each image's covering tile
range is pure Column math, exploded JVM-side (``sequence``), and the image
row is shuffled ONCE per covering tile — keyed by (tile_x, tile_y). This is
the one operator whose OUTPUT is pixels, so bytes legitimately enter this
single tile-keyed exchange: the volume is input_bytes × small bounded
replication (≤4 when tile_px >= image size), linear in data, no pair blowup.
Per tile, one applyInPandas paints sources in deterministic priority order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster.match import RES_DEG

COMPOSITE_SCHEMA = StructType(
    [
        StructField("tile_x", LongType(), False),
        StructField("tile_y", LongType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("bands", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("n_sources", IntegerType(), False),
        StructField("n_valid_px", LongType(), False),
    ]
)


def _representable(nd, dtype: np.dtype) -> bool:
    """True iff the nodata sentinel is exactly representable in `dtype` —
    explicit range/integrality checks, NOT cast-and-compare (float→int
    casts of out-of-range values are C-undefined and platform-dependent
    in numpy, so the wrapped value could coincidentally equal float(nd))."""
    v = float(nd)
    if not np.isfinite(v):
        return np.issubdtype(dtype, np.floating)
    if np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        return v.is_integer() and info.min <= v <= info.max
    # float dtypes: float32 must round-trip the value exactly
    return float(np.asarray(v, dtype)) == v


def mosaic_composite(
    images: DataFrame,
    tile_px: int = 256,
    order: str = "last",
    order_col: str | None = None,
    nodata_col: str = "nodata",
    fill_value: float = 0.0,
    out_fmt: str = "raw",
) -> DataFrame:
    """Composite overlapping images into tile rasters.

    order='last': gdal_merge semantics — the LAST image in priority order
    (ascending ``order_col`` then image_id; default image_id only) paints
    over earlier ones wherever it has valid pixels. order='first':
    rasterio.merge semantics — the FIRST valid pixel wins.

    Images are pixel-snapped to the global RES_DEG grid (TAP-style floor
    snap); tile (tx, ty) covers global pixel columns [tx*tile_px, ...) from
    lon=-180 and rows from lat=+90 southward. Returns one row per non-empty
    tile with RAW1-encoded composite bytes (dtype = promoted source dtype).
    """
    if order not in ("first", "last"):
        raise ValueError("order must be 'first' or 'last'")
    res = F.lit(RES_DEG)
    # global pixel-snap (round: images are grid-aligned by the footprint
    # model; round absorbs IEEE noise in lon/lat arithmetic)
    px0 = F.round((F.col("lon") + F.lit(180.0)) / res).cast("long")
    py0 = F.round((F.lit(90.0) - (F.col("lat") + F.col("h") * res)) / res).cast("long")
    tx0 = F.floor(px0 / F.lit(tile_px))
    tx1 = F.floor((px0 + F.col("w") - 1) / F.lit(tile_px))
    ty0 = F.floor(py0 / F.lit(tile_px))
    ty1 = F.floor((py0 + F.col("h") - 1) / F.lit(tile_px))

    ocol = F.col(order_col) if order_col else F.lit(0)
    keyed = (
        images.withColumn("_px0", px0)
        .withColumn("_py0", py0)
        .withColumn("_ord", ocol)
        .withColumn("tile_x", F.explode(F.sequence(tx0, tx1)))
        .withColumn("tile_y", F.explode(F.sequence(ty0, ty1)))
        .select("tile_x", "tile_y", "image_id", "bytes", "fmt", "_px0", "_py0",
                "w", "h", F.col(nodata_col).alias("_nd"), "_ord")
    )

    def paint(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        ox, oy = tx * tile_px, ty * tile_px  # tile origin in global pixels
        pdf = pdf.sort_values(["_ord", "image_id"], kind="mergesort")
        if order == "last":
            pdf = pdf.iloc[::-1]  # highest priority first; first writer wins
        rows_list = list(pdf.iterrows())
        if not rows_list:
            return pd.DataFrame({f.name: [] for f in COMPOSITE_SCHEMA.fields})
        # canvas dtype: promoted over ALL sources in the group
        # (np.result_type) — a later int16 source into a uint8 canvas would
        # otherwise silently truncate (the reference treats mixed band
        # dtypes as an error: temp/resample_and_merge_rasters.ipynb warning)
        # — widened further only when the fill sentinel doesn't fit.
        # Dtypes come from a HEADER-ONLY probe so only ONE image is ever
        # decoded at a time (deep source stacks stay at 1x peak memory).
        dt = np.result_type(*[codec.probe_dtype(bytes(row["bytes"]), row["fmt"])
                              for _, row in rows_list])
        # band counts likewise header-only: heterogeneous stacks RAISE
        # (the reference treats mixed band counts as an error,
        # temp/resample_and_merge_rasters.ipynb) — silently painting
        # min(src_bands, canvas_bands) would drop e.g. an alpha band.
        band_counts = {codec.probe_shape(bytes(row["bytes"]), row["fmt"])[2]
                       for _, row in rows_list}
        if len(band_counts) > 1:
            raise ValueError(
                f"mosaic_composite: heterogeneous band counts {sorted(band_counts)} "
                "in one tile — resample/stack sources to a common band count first"
            )
        fv = float(fill_value)
        if np.issubdtype(dt, np.integer):
            if not (fv.is_integer() and np.iinfo(dt).min <= fv <= np.iinfo(dt).max):
                dt = np.result_type(dt, np.int32 if fv.is_integer() else np.float32)
        canvas = None
        written = None
        nbands = 0
        n_src = 0
        for _, row in rows_list:
            img = codec.decode(bytes(row["bytes"]), row["fmt"])
            if canvas is None:
                nbands = img.shape[2]  # band count: first-priority source
                canvas = np.full((tile_px, tile_px, nbands), fill_value, dtype=dt)
                # PER-BAND written mask: a pixel that is nodata in band 0
                # but valid in band 1 paints only band 1 (per-band nodata
                # rule, like gdal_merge/rasterio handle masks band-wise)
                written = np.zeros((tile_px, tile_px, nbands), bool)
            # image window inside this tile
            ix0 = max(int(row["_px0"]), ox)
            ix1 = min(int(row["_px0"]) + int(row["w"]), ox + tile_px)
            iy0 = max(int(row["_py0"]), oy)
            iy1 = min(int(row["_py0"]) + int(row["h"]), oy + tile_px)
            if ix0 >= ix1 or iy0 >= iy1:
                continue
            n_src += 1
            src = img[iy0 - int(row["_py0"]): iy1 - int(row["_py0"]),
                      ix0 - int(row["_px0"]): ix1 - int(row["_px0"])]
            dst_r = slice(iy0 - oy, iy1 - oy)
            dst_c = slice(ix0 - ox, ix1 - ox)
            nb = min(src.shape[2], nbands)
            nd = row["_nd"]
            if nd is not None and not pd.isna(nd) and _representable(nd, src.dtype):
                # representable sentinel only: casting e.g. -9999 into uint8
                # wraps to 241 and would falsely invalidate valid pixels
                valid = src[:, :, :nb] != np.asarray(nd, src.dtype)
            else:
                valid = np.ones((src.shape[0], src.shape[1], nb), bool)
            free = valid & ~written[dst_r, dst_c, :nb]
            region = canvas[dst_r, dst_c]  # view — writes through
            region[..., :nb][free] = src[:, :, :nb][free].astype(dt, copy=False)
            written[dst_r, dst_c, :nb] |= free
        if written is None or not written.any():
            return pd.DataFrame({f.name: [] for f in COMPOSITE_SCHEMA.fields})
        return pd.DataFrame(
            [
                {
                    "tile_x": tx,
                    "tile_y": ty,
                    "bytes": bytearray(codec.encode(canvas, out_fmt)),
                    "w": tile_px,
                    "h": tile_px,
                    "bands": canvas.shape[2],
                    "fmt": out_fmt,
                    "n_sources": n_src,
                    "n_valid_px": int(written.any(axis=2).sum()),
                }
            ]
        )

    return keyed.groupBy("tile_x", "tile_y").applyInPandas(paint, COMPOSITE_SCHEMA)
