"""Local (block-grid) histogram matching — reference flagship #2
(``local_match.py:722-986``), re-expressed Spark-first (SURVEY.md §3.2):

  stage A: per-image per-band per-tile partial sums from decoded pixels
           (np.add.at scatter inside the UDF — the reference's
           ``local_match.py:344-349`` — emitting (image_id, band, cell,
           sum, cnt) rows, NOT exploded pixels)
  stage B: two-level aggregation to the reference map: per-image tile
           means with a validity threshold (``:352``), then UNWEIGHTED
           mean-of-means across images (one vote per image, ``:284-291``)
  stage C: broadcast the (small) ref map back; per image: build the local
           map, NaN-aware weighted bilinear interpolation of ref and local
           maps at every pixel's fractional tile coords
           (``local_match.py:396-426``), gamma correction
           gamma = log(M_ref/255)/log(M_in/255), P = alpha * P^gamma
           (``:544-573`` normalized to the uint8 domain), re-encode.

Footprint model shared with match.py: image at (lon, lat) spans
[lon, lon+w*RES_DEG] x [lat, lat+h*RES_DEG], north-up.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster import ops as ops_mod
from gis_scripts_spark.raster.match import RES_DEG

TILE_STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("band", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("sum", DoubleType(), False),
        StructField("cnt", LongType(), False),
    ]
)


def _pixel_cells(lon: float, lat: float, h: int, w: int, z: int):
    """Grid cell of every pixel center (h, w) -> int64 (vectorized)."""
    xs = lon + (np.arange(w) + 0.5) * RES_DEG
    ys = lat + h * RES_DEG - (np.arange(h) + 0.5) * RES_DEG
    gx, _ = cells_mod.grid_xy(xs, np.zeros_like(xs), z)
    _, gy = cells_mod.grid_xy(np.zeros_like(ys), ys, z)
    return cells_mod.pack(z, gx[None, :].repeat(h, 0), gy[:, None].repeat(w, 1))


def tile_stats(images: DataFrame, z: int = 12, nodata_col: str | None = None) -> DataFrame:
    """Stage A: (image_id, band, cell, sum, cnt) partial aggregates —
    Spark's map-side combine done inside the UDF (A5 semantics).

    `nodata_col`: per-image sentinel column — sentinel pixels contribute
    neither sum nor count (the reference's masked tile means,
    local_match.py:344-352)."""
    sel = ["image_id", "bytes", "fmt", "lon", "lat"] + ([nodata_col] if nodata_col else [])

    def run(batches):
        for pdf in batches:
            out_img, out_band, out_cell, out_sum, out_cnt = [], [], [], [], []
            for _, row in pdf.iterrows():
                img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
                nd = ops_mod.nodata_of(row, nodata_col)
                h, w, nb = img.shape
                pc = _pixel_cells(row["lon"], row["lat"], h, w, z).ravel()
                uniq, inv = np.unique(pc, return_inverse=True)
                for b in range(nb):
                    band = img[:, :, b].ravel()
                    valid = (band != nd) if nd is not None else np.ones(band.shape, bool)
                    sums = np.bincount(
                        inv, weights=np.where(valid, band, 0.0), minlength=len(uniq)
                    )
                    cnts = np.bincount(inv, weights=valid.astype(np.float64), minlength=len(uniq))
                    out_img.extend([row["image_id"]] * len(uniq))
                    out_band.extend([b] * len(uniq))
                    out_cell.append(uniq)
                    out_sum.append(sums)
                    out_cnt.append(cnts)
            yield pd.DataFrame(
                {
                    "image_id": out_img,
                    "band": np.asarray(out_band, np.int32),
                    "cell": np.concatenate(out_cell) if out_cell else np.empty(0, np.int64),
                    "sum": np.concatenate(out_sum) if out_sum else np.empty(0),
                    "cnt": np.concatenate(out_cnt).astype(np.int64) if out_cnt else np.empty(0, np.int64),
                }
            )

    return images.select(*sel).mapInPandas(run, TILE_STATS_SCHEMA)


def reference_map(stats: DataFrame, min_cnt: int = 1) -> DataFrame:
    """Stage B: per-tile unweighted mean-of-means across images (A6);
    tiles with per-image cnt < min_cnt don't get that image's vote
    (validity threshold, local_match.py:352)."""
    lvl1 = stats.filter(F.col("cnt") >= min_cnt).withColumn(
        "img_mean", F.col("sum") / F.col("cnt")
    )
    return lvl1.groupBy("band", "cell").agg(
        F.avg("img_mean").alias("ref_mean"),
        F.count(F.lit(1)).alias("n_images"),
    )


def _bilinear(map_grid: np.ndarray, fy: np.ndarray, fx: np.ndarray) -> np.ndarray:
    """NaN-aware weighted bilinear interpolation at fractional coords
    (port of the reference semantics, local_match.py:396-426: weights of
    NaN corners are dropped and the rest renormalized)."""
    h, w = map_grid.shape
    y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)
    vals = np.stack(
        [map_grid[y0, x0], map_grid[y0, x1], map_grid[y1, x0], map_grid[y1, x1]]
    )
    wts = np.stack([(1 - wy) * (1 - wx), (1 - wy) * wx, wy * (1 - wx), wy * wx])
    ok = ~np.isnan(vals)
    wts = np.where(ok, wts, 0.0)
    tot = wts.sum(axis=0)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(tot > 0, np.nansum(vals * wts, axis=0) / tot, np.nan)
    return out


def local_match(
    images: DataFrame,
    z: int = 12,
    alpha: float = 1.0,
    min_cnt: int = 1,
    nodata_col: str | None = None,
    scale: float | None = None,
) -> DataFrame:
    """Full pipeline; returns the adjusted image table (same schema).

    The ref map is collected and broadcast — it is M*N*bands rows
    (thousands), the same driver-scale artifact as the reference's
    ``RefDistMap.tif`` (local_match.py:803-809). It is broadcast SPARSE
    (sorted cell ids + means, O(covered tiles)); each worker materializes
    only the tiny dense window its own image overlaps (+1 bilinear halo).
    A bbox-dense grid instead would be 4096x4096 float64 per band at z=12
    for images on two sides of the globe — ~134 MB/band to every executor
    for a handful of covered tiles."""
    spark = images.sparkSession
    stats = tile_stats(images, z=z, nodata_col=nodata_col)
    ref = reference_map(stats, min_cnt=min_cnt).toPandas()

    maps: dict[int, tuple] = {}
    for band, sub in ref.groupby("band"):
        cells_arr = sub["cell"].to_numpy(np.int64)
        means_arr = sub["ref_mean"].to_numpy(np.float64)
        order = np.argsort(cells_arr)
        maps[int(band)] = (cells_arr[order], means_arr[order])
    b_maps = spark.sparkContext.broadcast(maps)

    n_grid = 1 << z

    def window_grid(cells_sorted, means, gx0, gx1, gy0, gy1):
        """Dense (gy, gx) window over [gy0..gy1]x[gx0..gx1] filled from the
        sparse sorted cell map (searchsorted lookup; missing tiles = NaN)."""
        gxs = np.arange(gx0, gx1 + 1, dtype=np.int64)
        gys = np.arange(gy0, gy1 + 1, dtype=np.int64)
        want = cells_mod.pack(
            z, gxs[None, :].repeat(len(gys), 0), gys[:, None].repeat(len(gxs), 1)
        ).ravel()
        pos = np.clip(np.searchsorted(cells_sorted, want), 0, len(cells_sorted) - 1)
        found = cells_sorted[pos] == want
        grid = np.full(want.shape, np.nan)
        grid[found] = means[pos[found]]
        return grid.reshape(len(gys), len(gxs))

    def k(raw, row):
        maps_l = b_maps.value
        src_dtype = raw.dtype
        # gamma domain: dtype positive max for ints (255 on uint8 — the
        # reference's domain, local_match.py:544-573), 1.0 for floats,
        # `scale` overrides (ops.gamma_scale rule)
        s = ops_mod.gamma_scale(src_dtype, scale)
        img = raw.astype(np.float64)
        nd = ops_mod.nodata_of(row, nodata_col)
        h, w, nb = img.shape
        # fractional GLOBAL tile coords of each pixel center
        xs = row["lon"] + (np.arange(w) + 0.5) * RES_DEG
        ys = row["lat"] + h * RES_DEG - (np.arange(h) + 0.5) * RES_DEG
        fgx = (xs + 180.0) / 360.0 * n_grid - 0.5
        fgy = (90.0 - ys) / 180.0 * n_grid - 0.5
        fx = np.broadcast_to(fgx[None, :], (h, w))
        fy = np.broadcast_to(fgy[:, None], (h, w))
        out = img.copy()
        # this image's covered tile window (+1 for the bilinear halo)
        wx0 = int(np.clip(np.floor(fgx.min()), 0, n_grid - 1))
        wx1 = int(np.clip(np.floor(fgx.max()) + 1, 0, n_grid - 1))
        wy0 = int(np.clip(np.floor(fgy.min()), 0, n_grid - 1))
        wy1 = int(np.clip(np.floor(fgy.max()) + 1, 0, n_grid - 1))
        for b in range(nb):
            if b not in maps_l:
                continue
            cells_sorted, means = maps_l[b]
            grid = window_grid(cells_sorted, means, wx0, wx1, wy0, wy1)
            m_ref = _bilinear(grid, fy - wy0, fx - wx0)
            # local map: this image's own tile means on the fly
            # (nodata pixels contribute neither sum nor count)
            pc = _pixel_cells(row["lon"], row["lat"], h, w, z).ravel()
            uniq, inv = np.unique(pc, return_inverse=True)
            band_flat = img[:, :, b].ravel()
            vmask = (band_flat != nd) if nd is not None else np.ones(band_flat.shape, bool)
            sums = np.bincount(inv, weights=np.where(vmask, band_flat, 0.0))
            cnts = np.bincount(inv, weights=vmask.astype(np.float64))
            zz2, lgx, lgy = cells_mod.unpack(uniq)
            lgx0, lgy0 = int(lgx.min()), int(lgy.min())
            lgrid = np.full((int(lgy.max()) - lgy0 + 1, int(lgx.max()) - lgx0 + 1), np.nan)
            lgrid[lgy - lgy0, lgx - lgx0] = np.where(
                cnts > 0, sums / np.maximum(cnts, 1.0), np.nan
            )
            m_in = _bilinear(lgrid, fy - lgy0, fx - lgx0)
            # gamma in the normalized [0,1] domain; guard zeros/NaNs
            p = np.clip(img[:, :, b] / s, 1e-6, 1.0)
            mr = np.clip(m_ref / s, 1e-6, 1.0)
            mi = np.clip(m_in / s, 1e-6, 1.0)
            with np.errstate(invalid="ignore", divide="ignore"):
                gamma = np.log(mr) / np.log(mi)
            gamma = np.where(np.isfinite(gamma), gamma, 1.0)
            adj = alpha * np.power(p, gamma) * s
            keep = np.isnan(m_ref) | np.isnan(m_in)
            if nd is not None:
                keep |= img[:, :, b] == nd  # sentinel pixels pass through
            out[:, :, b] = np.where(keep, img[:, :, b], adj)
        return ops_mod.restore_dtype(out, src_dtype)

    return ops_mod._transform_bytes(images, k)


def local_match_mosaic(
    images: DataFrame,
    z: int = 12,
    alpha: float = 1.0,
    min_cnt: int = 1,
    nodata_col: str | None = None,
    tile_px: int = 256,
    order: str = "last",
    scale: float | None = None,
) -> DataFrame:
    """The COMPLETE local-match pipeline: block-grid gamma match, then the
    per-tile pixel composite — the mosaic step the reference runs last
    (local_match.py:985 -> merge). Returns the composite tile table."""
    from gis_scripts_spark.operators import mosaic as mosaic_mod

    adjusted = local_match(images, z=z, alpha=alpha, min_cnt=min_cnt,
                           nodata_col=nodata_col, scale=scale)
    return mosaic_mod.mosaic_composite(
        adjusted, tile_px=tile_px, order=order, nodata_col=nodata_col or "nodata"
    )
