"""Raster reprojection (CRS warp) — the engine's ``gdalwarp -t_srs``
(``seagrass_lib.py:232-242``, ``create_overlaping_area_mask.py:45-53``):
per image, project the footprint into the target CRS, lay a TAP-snapped
target grid at the requested resolution, inverse-project every target pixel
center back to lon/lat and sample the source (nearest or bilinear).

Spark shape: one mapInPandas — each image warps independently on its
executor, bytes never shuffle; the output table carries the projected
geotransform as ordinary columns (crs, x0, y0, res) so downstream ops keep
treating geometry as relational data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.index import proj
from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster import ops as ops_mod
from gis_scripts_spark.raster.match import RES_DEG
from gis_scripts_spark.rowmap import map_rows

WARP_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("crs", StringType(), False),
        StructField("x0", DoubleType(), False),  # top-left corner, target CRS
        StructField("y0", DoubleType(), False),
        StructField("res", DoubleType(), False),  # meters / pixel
        StructField("nodata", DoubleType(), True),
        StructField("bands", IntegerType(), False),
    ]
)


def _sample(img: np.ndarray, fc: np.ndarray, fr: np.ndarray, oh: int, ow: int,
            nodata: float | None, method: str) -> np.ndarray:
    """Sample the source at fractional pixel coords (fc, fr) — nearest or
    nodata-aware bilinear — into an (oh, ow, bands) array of the source
    dtype. Shared by the CRS warp and the RPC warp."""
    h, w = img.shape[:2]
    fill = nodata if nodata is not None else 0.0
    out = np.full((oh * ow, img.shape[2]), fill, dtype=np.float64)
    if method == "nearest":
        # floor(x + 0.5) — GDAL's nearest convention, and (unlike np.rint's
        # ties-to-even) expressible verbatim in SQL, which lets the oracle
        # replay the sampling (queries.SQL_REPROJECT_UTM)
        c = np.floor(fc + 0.5).astype(np.int64)
        r = np.floor(fr + 0.5).astype(np.int64)
        ok = (c >= 0) & (c < w) & (r >= 0) & (r < h)
        out[ok] = img[r[ok], c[ok], :].astype(np.float64)
    else:  # bilinear
        c0 = np.floor(fc).astype(np.int64)
        r0 = np.floor(fr).astype(np.int64)
        wc = fc - c0
        wr = fr - r0
        ok = (c0 >= 0) & (c0 < w - 1) & (r0 >= 0) & (r0 < h - 1)
        ci, ri, wci, wri = c0[ok], r0[ok], wc[ok][:, None], wr[ok][:, None]
        v00 = img[ri, ci, :].astype(np.float64)
        v01 = img[ri, ci + 1, :].astype(np.float64)
        v10 = img[ri + 1, ci, :].astype(np.float64)
        v11 = img[ri + 1, ci + 1, :].astype(np.float64)
        if nodata is None:
            out[ok] = (v00 * (1 - wri) * (1 - wci) + v01 * (1 - wri) * wci
                       + v10 * wri * (1 - wci) + v11 * wri * wci)
        else:
            # gdalwarp -srcnodata semantics: sentinel corners carry zero
            # weight (renormalized over valid corners); all-invalid -> fill
            v = np.stack([v00, v01, v10, v11])  # (4, npix, bands)
            wt = np.stack([(1 - wri) * (1 - wci), (1 - wri) * wci,
                           wri * (1 - wci), wri * wci])  # (4, npix, 1)
            wt = np.broadcast_to(wt, v.shape).copy()
            wt[v == nodata] = 0.0
            tot = wt.sum(axis=0)
            with np.errstate(invalid="ignore", divide="ignore"):
                blend = np.where(tot > 0, (v * wt).sum(axis=0) / np.where(tot > 0, tot, 1.0), fill)
            out[ok] = blend
    warped = out.reshape(oh, ow, img.shape[2])
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        warped = np.clip(np.rint(warped), info.min, info.max).astype(img.dtype)
    else:
        warped = warped.astype(img.dtype)
    return warped


def _warp_one(img: np.ndarray, lon: float, lat: float, crs: str, res_m: float,
              nodata: float | None, method: str):
    h, w = img.shape[:2]
    # projected bbox from a dense boundary sample (curvature-safe)
    bs = np.linspace(0.0, 1.0, 33)
    edge_lon = np.concatenate([lon + bs * w * RES_DEG, lon + bs * w * RES_DEG,
                               np.full(33, lon), np.full(33, lon + w * RES_DEG)])
    edge_lat = np.concatenate([np.full(33, lat), np.full(33, lat + h * RES_DEG),
                               lat + bs * h * RES_DEG, lat + bs * h * RES_DEG])
    ex, ey = proj.forward(crs, edge_lon, edge_lat)
    # TAP snap: origin on res_m multiples (gdalwarp -tap semantics)
    x0 = np.floor(ex.min() / res_m) * res_m
    y1 = np.ceil(ey.max() / res_m) * res_m  # top
    ow = int(np.ceil((ex.max() - x0) / res_m))
    oh = int(np.ceil((y1 - ey.min()) / res_m))
    ow, oh = max(ow, 1), max(oh, 1)

    # inverse-project all target pixel centers
    txs = x0 + (np.arange(ow) + 0.5) * res_m
    tys = y1 - (np.arange(oh) + 0.5) * res_m
    gx, gy = np.meshgrid(txs, tys)
    glon, glat = proj.inverse(crs, gx.ravel(), gy.ravel())
    # fractional source pixel coords (footprint model, north-up)
    fc = (glon - lon) / RES_DEG - 0.5
    fr = (lat + h * RES_DEG - glat) / RES_DEG - 0.5
    warped = _sample(img, fc, fr, oh, ow, nodata, method)
    return warped, float(x0), float(y1)


def _warp_one_rpc(img: np.ndarray, rpc: dict, res_deg: float, height: float,
                  nodata: float | None, method: str):
    """RPC georeferencing warp (``gdalwarp -rpc``, seagrass_lib.py:232-242):
    target grid is geographic lon/lat at `res_deg`; every target pixel
    center projects into the source through the 20-term rational model at
    the given terrain height (the RPC_HEIGHT transformer option)."""
    h, w = img.shape[:2]
    bs = np.linspace(0.0, 1.0, 33)
    edge_c = np.concatenate([bs * (w - 1), bs * (w - 1), np.zeros(33), np.full(33, float(w - 1))])
    edge_r = np.concatenate([np.zeros(33), np.full(33, float(h - 1)), bs * (h - 1), bs * (h - 1)])
    elon, elat = proj.rpc_image_to_ground(rpc, edge_c, edge_r, height)
    x0 = np.floor(elon.min() / res_deg) * res_deg  # TAP snap
    y1 = np.ceil(elat.max() / res_deg) * res_deg
    ow = max(int(np.ceil((elon.max() - x0) / res_deg)), 1)
    oh = max(int(np.ceil((y1 - elat.min()) / res_deg)), 1)
    txs = x0 + (np.arange(ow) + 0.5) * res_deg
    tys = y1 - (np.arange(oh) + 0.5) * res_deg
    glon, glat = np.meshgrid(txs, tys)
    fc, fr = proj.rpc_ground_to_image(rpc, glon.ravel(), glat.ravel(), height)
    warped = _sample(img, fc, fr, oh, ow, nodata, method)
    return warped, float(x0), float(y1)


def reproject_raster(
    images: DataFrame,
    crs: str,
    res_m: float,
    method: str = "nearest",
    nodata_col: str | None = "nodata",
) -> DataFrame:
    """Warp every image of the footprint-model table into `crs`
    ('utm:<zone><n|s>', 'ps:south', 'ps:north', 'webmerc') at `res_m`
    meters/pixel. Output bytes are RAW1 (dtype-preserving)."""
    sel = ["image_id", "bytes", "fmt", "lon", "lat"] + ([nodata_col] if nodata_col else [])

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"])
        nd = ops_mod.nodata_of(row, nodata_col)
        warped, x0, y1 = _warp_one(
            img, float(row["lon"]), float(row["lat"]), crs, res_m, nd, method
        )
        yield _warped_row(row["image_id"], warped, crs, x0, y1, res_m, nd)

    return map_rows(images.select(*sel), fn, WARP_SCHEMA)


def _warped_row(image_id, warped: np.ndarray, crs: str, x0: float, y1: float,
                res: float, nd: float | None) -> tuple:
    """One WARP_SCHEMA row: the RAW1 warped image and its geotransform."""
    return (image_id, bytearray(codec.raw_encode(warped)), warped.shape[1],
            warped.shape[0], "raw", crs, x0, y1, float(res), nd, warped.shape[2])


def reproject_raster_rpc(
    images: DataFrame,
    res_deg: float,
    height: float = 0.0,
    method: str = "nearest",
    rpc_col: str = "rpc",
    nodata_col: str | None = "nodata",
) -> DataFrame:
    """Warp un-georeferenced L1B scenes onto a geographic grid through
    their rational polynomial coefficients — the engine's ``gdalwarp -rpc``
    (R5; seagrass_lib.py:232-242). `rpc_col`: array<double>[90] per image
    in proj.rpc_pack order (GDAL 'RPC' metadata domain flattened). Output
    bytes are RAW1; x0/y0 is the top-left corner in degrees, res in
    degrees/pixel, crs='lonlat'. Same Spark shape as reproject_raster: one
    mapInPandas, bytes never shuffle."""
    sel = ["image_id", "bytes", "fmt", rpc_col] + ([nodata_col] if nodata_col else [])

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"])
        nd = ops_mod.nodata_of(row, nodata_col)
        rpc = proj.rpc_unpack(np.asarray(row[rpc_col], np.float64))
        warped, x0, y1 = _warp_one_rpc(img, rpc, res_deg, height, nd, method)
        yield _warped_row(row["image_id"], warped, "lonlat", x0, y1, res_deg, nd)

    return map_rows(images.select(*sel), fn, WARP_SCHEMA)
