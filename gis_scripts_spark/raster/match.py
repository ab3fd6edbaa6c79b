"""Global histogram matching — the reference's flagship pipeline
(``global_match.py:314-554``), re-expressed Spark-first (SURVEY.md §3.1):

  stage A: per-image whole stats          -> ops.band_stats (one decode/img)
  stage B: footprint overlap pairs        -> operators.overlap_join (J1)
           pair-window masked stats (J2)  -> applyInPandas per pair
  stage C: driver-side weighted least-squares solve (the matrix is
           2·n_images × (2·pairs + 2·n_images) — driver-scale by design,
           like the reference's scipy.optimize.least_squares at :442-447)
  stage D: broadcast params + vectorized apply -> ops.apply_linear

Footprint model: image at (lon, lat) covers
[lon, lon + w·res] × [lat, lat + h·res], res = RES_DEG °/px, north-up —
the affine-geotransform analogue (global_match.py:29,39-48).

Unlike the reference, whole-image stats are computed ONCE per image (not
re-read per pair — the quadratic-I/O miss noted in SURVEY.md §4.1), and
pair windows decode only the two images of the pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.operators import overlap_join
from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster import ops as ops_mod
from gis_scripts_spark.rowmap import map_rows

RES_DEG = 0.001  # degrees per pixel of the synthetic footprint model

PAIR_STATS_SCHEMA = StructType(
    [
        StructField("id_i", StringType(), False),
        StructField("id_j", StringType(), False),
        StructField("band", IntegerType(), False),
        StructField("mean_i", DoubleType(), False),
        StructField("std_i", DoubleType(), False),
        StructField("mean_j", DoubleType(), False),
        StructField("std_j", DoubleType(), False),
        StructField("size", LongType(), False),
    ]
)


def footprints(images: DataFrame) -> DataFrame:
    """(id, x_min, y_min, x_max, y_max) from the image table."""
    return images.select(
        F.col("image_id").alias("id"),
        F.col("lon").alias("x_min"),
        F.col("lat").alias("y_min"),
        (F.col("lon") + F.col("w") * F.lit(RES_DEG)).alias("x_max"),
        (F.col("lat") + F.col("h") * F.lit(RES_DEG)).alias("y_max"),
    )


_SIDE_STATS_SCHEMA = StructType(
    [
        StructField("id_i", StringType(), False),
        StructField("id_j", StringType(), False),
        StructField("side", IntegerType(), False),
        StructField("band", IntegerType(), False),
        StructField("mean", DoubleType(), False),
        StructField("std", DoubleType(), False),
        StructField("size", LongType(), False),
    ]
)


def _pair_window_lists(images: DataFrame, z: int) -> DataFrame:
    """(image_id, _wins[array<struct id_i,id_j,side,ix_min..iy_max>]) —
    every overlap window each image participates in, aggregated to ONE row
    per image so the image decodes exactly once downstream. Derived from
    footprints only (no bytes); its size is O(pairs), broadcast-joinable."""
    fp = footprints(images)
    pairs = overlap_join.bbox_overlap_join(fp, z=z, id_col="id")
    rect = [F.col(c) for c in ("ix_min", "iy_min", "ix_max", "iy_max")]
    win_i = pairs.select(
        F.col("id_i").alias("image_id"),
        F.struct(F.col("id_i"), F.col("id_j"), F.lit(0).alias("side"), *rect).alias("_win"),
    )
    win_j = pairs.select(
        F.col("id_j").alias("image_id"),
        F.struct(F.col("id_i"), F.col("id_j"), F.lit(1).alias("side"), *rect).alias("_win"),
    )
    return (
        win_i.unionByName(win_j)
        .groupBy("image_id")
        .agg(F.collect_list("_win").alias("_wins"))
    )


def overlap_pair_stats(images: DataFrame, z: int = 10, nodata_col: str | None = None) -> DataFrame:
    """J1 + J2: overlap pairs, then per-pair per-band stats over the shared
    window (global_match.py:76-198). Bands beyond min(bands_i, bands_j) are
    skipped (the inner join on `band` drops them), mirroring the reference's
    shared band loop.

    Scale shape (SURVEY §7.4 — image bytes NEVER enter a shuffle): the tiny
    per-image window list (derived from footprints) is broadcast onto the
    image table; each image decodes ONCE, map-locally, and emits one stat
    row per (pair, side, band); the final pair table is an equi-join of
    stat rows only. Zero bytes shuffled, each image decoded exactly once —
    vs the reference's per-pair re-read (the quadratic-I/O miss,
    SURVEY §4.1).

    `nodata_col`: name of a per-image nodata column — window stats then
    mask that side's own sentinel (per-side masks; for the reference's
    joint mask AND, global_match.py:149-173, use overlap_pair_stats_joint).
    """
    wins = _pair_window_lists(images, z)
    sel = ["image_id", "bytes", "fmt", "lon", "lat", "h"] + ([nodata_col] if nodata_col else [])
    joined = images.select(*sel).join(F.broadcast(wins), "image_id", "inner")

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        nodata = ops_mod.nodata_of(row, nodata_col)
        for wrec in row["_wins"]:
            win = _window(img, row["lon"], row["lat"], int(row["h"]),
                          wrec["ix_min"], wrec["iy_min"], wrec["ix_max"], wrec["iy_max"])
            if win.shape[0] == 0 or win.shape[1] == 0:
                continue
            for band in range(win.shape[2]):
                v = win[:, :, band].ravel()
                if nodata is not None:
                    v = v[v != nodata]
                if v.size == 0:
                    yield (wrec["id_i"], wrec["id_j"], int(wrec["side"]), band, 0.0, 0.0, 0)
                else:
                    yield (wrec["id_i"], wrec["id_j"], int(wrec["side"]),
                           band, float(v.mean()), float(v.std()), int(v.size))

    side_stats = map_rows(joined, fn, _SIDE_STATS_SCHEMA)
    si = side_stats.filter(F.col("side") == 0).select(
        "id_i", "id_j", "band",
        F.col("mean").alias("mean_i"), F.col("std").alias("std_i"),
        F.col("size").alias("size_i"),
    )
    sj = side_stats.filter(F.col("side") == 1).select(
        "id_i", "id_j", "band",
        F.col("mean").alias("mean_j"), F.col("std").alias("std_j"),
        F.col("size").alias("size_j"),
    )
    # both sides clip the same world rect on the same RES grid, so sizes
    # agree; least() is the defensive choice for a 1-px rounding asymmetry
    return si.join(sj, ["id_i", "id_j", "band"]).select(
        "id_i", "id_j", "band", "mean_i", "std_i", "mean_j", "std_j",
        F.least("size_i", "size_j").alias("size"),
    )


def overlap_pair_stats_joint(
    images: DataFrame, z: int = 10, nodata_col: str = "nodata"
) -> DataFrame:
    """Reference-exact joint-mask pair stats (global_match.py:149-173):
    per-pair per-band stats over pixels valid in BOTH images
    (mask_i & mask_j), where valid means != that image's nodata sentinel.

    Scale shape: joint masking needs both windows together, so the MINIMAL
    exchange is the overlap crop itself — each image ships only its clipped
    float32 window per pair (never the whole image) keyed by pair id; the
    per-pair cogroup ANDs the masks. Shuffle volume = 2 × overlap pixels,
    the information-theoretic floor for this semantics."""
    crop_schema = StructType(
        [
            StructField("id_i", StringType(), False),
            StructField("id_j", StringType(), False),
            StructField("side", IntegerType(), False),
            StructField("h", IntegerType(), False),
            StructField("w", IntegerType(), False),
            StructField("bands", IntegerType(), False),
            StructField("crop", BinaryType(), False),
            StructField("nodata", DoubleType(), True),
        ]
    )
    wins = _pair_window_lists(images, z)
    sel = ["image_id", "bytes", "fmt", "lon", "lat", "h", nodata_col]
    joined = images.select(*sel).join(F.broadcast(wins), "image_id", "inner")

    def crops(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float32)
        nd = ops_mod.nodata_of(row, nodata_col)
        for wrec in row["_wins"]:
            win = _window(img, row["lon"], row["lat"], int(row["h"]),
                          wrec["ix_min"], wrec["iy_min"], wrec["ix_max"], wrec["iy_max"])
            if win.shape[0] == 0 or win.shape[1] == 0:
                continue
            yield (wrec["id_i"], wrec["id_j"], int(wrec["side"]),
                   win.shape[0], win.shape[1], win.shape[2],
                   bytearray(np.ascontiguousarray(win).tobytes()), nd)

    crop_df = map_rows(joined, crops, crop_schema)

    def joint(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        sides = {int(r["side"]): r for _, r in pdf.iterrows()}
        if 0 in sides and 1 in sides:
            ri, rj = sides[0], sides[1]
            a = np.frombuffer(bytes(ri["crop"]), np.float32).reshape(ri["h"], ri["w"], ri["bands"])
            b = np.frombuffer(bytes(rj["crop"]), np.float32).reshape(rj["h"], rj["w"], rj["bands"])
            hh, ww = min(a.shape[0], b.shape[0]), min(a.shape[1], b.shape[1])
            a, b = a[:hh, :ww], b[:hh, :ww]
            for band in range(min(a.shape[2], b.shape[2])):
                va, vb = a[:, :, band], b[:, :, band]
                m = np.ones((hh, ww), bool)
                if ri["nodata"] is not None and not pd.isna(ri["nodata"]):
                    m &= va != np.float32(ri["nodata"])
                if rj["nodata"] is not None and not pd.isna(rj["nodata"]):
                    m &= vb != np.float32(rj["nodata"])
                sa, sb = va[m].astype(np.float64), vb[m].astype(np.float64)
                if sa.size == 0:
                    rows.append((key[0], key[1], band, 0.0, 0.0, 0.0, 0.0, 0))
                else:
                    rows.append((key[0], key[1], band, float(sa.mean()), float(sa.std()),
                                 float(sb.mean()), float(sb.std()), int(sa.size)))
        return pd.DataFrame(rows, columns=[f.name for f in PAIR_STATS_SCHEMA.fields])

    return crop_df.groupBy("id_i", "id_j").applyInPandas(joint, PAIR_STATS_SCHEMA)


def _window(img: np.ndarray, lon: float, lat: float, h_px: int,
            ix0: float, iy0: float, ix1: float, iy1: float) -> np.ndarray:
    """Pixel window of the world rect [ix0,ix1]×[iy0,iy1] inside an image
    anchored at (lon, lat), north-up (global_match.py:127-142 analogue)."""
    c0 = int(round((ix0 - lon) / RES_DEG))
    c1 = int(round((ix1 - lon) / RES_DEG))
    y_max = lat + h_px * RES_DEG
    r0 = int(round((y_max - iy1) / RES_DEG))
    r1 = int(round((y_max - iy0) / RES_DEG))
    h, w = img.shape[:2]
    return img[max(0, r0): min(h, r1), max(0, c0): min(w, c1)]


def solve_gains(
    pair_stats: pd.DataFrame,
    whole_stats: pd.DataFrame,
    mean_factor: float = 1.0,
    std_factor: float = 1.0,
) -> pd.DataFrame:
    """Driver-side weighted linear least squares per band
    (global_match.py:345-452 semantics):

      pair rows:  (a_i·M_i + b_i) − (a_j·M_j + b_j) = 0   weight s·mean_factor
                  a_i·V_i − a_j·V_j = 0                    weight s·std_factor
      anchors:    a_i = 1, b_i = 0                          weight
                  total_overlap_px / (2·n_images)

    where M/V are the pair-overlap mean/std and s the overlap pixel count.
    The system is linear in (a_i, b_i) — np.linalg.lstsq replaces the
    reference's scipy least_squares (same minimizer for a linear model).

    Returns (image_id, band, a, b).
    """
    images = sorted(whole_stats["image_id"].unique())
    idx = {im: i for i, im in enumerate(images)}
    n = len(images)
    out_rows = []
    for band in sorted(whole_stats["band"].unique()):
        ps = pair_stats[pair_stats["band"] == band]
        rows, targets, weights = [], [], []
        total_px = float(ps["size"].sum())
        for _, r in ps.iterrows():
            i, j = idx[r["id_i"]], idx[r["id_j"]]
            w_m = float(r["size"]) * mean_factor
            w_s = float(r["size"]) * std_factor
            row = np.zeros(2 * n)
            row[2 * i] = r["mean_i"]
            row[2 * i + 1] = 1.0
            row[2 * j] = -r["mean_j"]
            row[2 * j + 1] = -1.0
            rows.append(row)
            targets.append(0.0)
            weights.append(w_m)
            row = np.zeros(2 * n)
            row[2 * i] = r["std_i"]
            row[2 * j] = -r["std_j"]
            rows.append(row)
            targets.append(0.0)
            weights.append(w_s)
        # zero total overlap (all pairs fully masked) -> anchors-only with
        # unit weight: every image gets the identity a=1, b=0 (matching
        # solve_gains_normal; pjj=0 would zero every weighted row and lstsq
        # would return the min-norm a=0 "black image" solution)
        pjj = total_px / (2.0 * n) if (n and total_px > 0) else 1.0
        for im, i in idx.items():
            row = np.zeros(2 * n)
            row[2 * i] = 1.0
            rows.append(row)
            targets.append(1.0)
            weights.append(pjj)
            row = np.zeros(2 * n)
            row[2 * i + 1] = 1.0
            rows.append(row)
            targets.append(0.0)
            weights.append(pjj)
        A = np.asarray(rows)
        t = np.asarray(targets)
        w = np.sqrt(np.asarray(weights))
        sol, *_ = np.linalg.lstsq(A * w[:, None], t * w, rcond=None)
        for im, i in idx.items():
            out_rows.append((im, int(band), float(sol[2 * i]), float(sol[2 * i + 1])))
    return pd.DataFrame(out_rows, columns=["image_id", "band", "a", "b"])


_COO_SCHEMA = StructType(
    [
        StructField("band", IntegerType(), False),
        StructField("r", LongType(), False),
        StructField("c", LongType(), False),
        StructField("v", DoubleType(), False),
    ]
)


def _pcg(r_idx: np.ndarray, c_idx: np.ndarray, vals: np.ndarray,
         b: np.ndarray, n: int, tol: float = 1e-14) -> np.ndarray:
    """Jacobi-preconditioned conjugate gradient on a COO SPD matrix (pure
    numpy — no scipy in the sandbox). The normal matrix AᵀWA is SPD because
    the anchor rows add a positive weight to every diagonal entry."""
    dmask = r_idx == c_idx
    diag = np.zeros(n)
    np.add.at(diag, r_idx[dmask], vals[dmask])

    def mv(x):
        y = np.zeros(n)
        np.add.at(y, r_idx, vals * x[c_idx])
        return y

    x = np.zeros(n)
    r = b - mv(x)
    minv = 1.0 / np.where(diag > 0, diag, 1.0)
    z = minv * r
    p = z.copy()
    rz = float(r @ z)
    bnorm = float(np.linalg.norm(b)) or 1.0
    for _ in range(4 * n + 200):
        ap = mv(p)
        pap = float(p @ ap)
        if pap <= 0:
            break
        alpha = rz / pap
        x += alpha * p
        r -= alpha * ap
        if np.linalg.norm(r) <= tol * bnorm:
            break
        z = minv * r
        rz_new = float(r @ z)
        p = z + (rz_new / rz) * p
        rz = rz_new
    return x


def solve_gains_normal(
    pair_stats: DataFrame,
    image_ids: list[str],
    n_bands: int,
    mean_factor: float = 1.0,
    std_factor: float = 1.0,
) -> pd.DataFrame:
    """Distributed normal-equation solve — the 10^5-image scale path for
    the same weighted least squares as ``solve_gains`` (global_match.py:
    345-452 semantics).

    Instead of materializing the dense (2·pairs + 2n) × 2n design matrix on
    the driver (infeasible beyond ~10^4 images), each pair-stats row emits
    its 20 nonzero contributions to AᵀWA as (band, row, col, value) COO
    triples inside a mapInPandas; one groupBy sums them. AᵀWA is 2n×2n but
    SPARSE — banded by the overlap graph (nnz ≈ 20·pairs + 2n) — so only
    O(nnz) crosses to the driver, where anchors (a_i=1, b_i=0, weight
    total_px/2n) land on the diagonal/rhs and a Jacobi-preconditioned CG
    solves each band. Same minimizer as lstsq on the full-rank system.

    Returns (image_id, band, a, b) like solve_gains."""
    spark = pair_stats.sparkSession
    images = sorted(image_ids)
    idx = {im: i for i, im in enumerate(images)}
    n = len(images)
    b_idx = spark.sparkContext.broadcast(idx)

    def coo(batches):
        idx_l = b_idx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            i2 = 2 * pdf["id_i"].map(idx_l).to_numpy(np.int64)
            j2 = 2 * pdf["id_j"].map(idx_l).to_numpy(np.int64)
            band = pdf["band"].to_numpy(np.int32)
            w_m = pdf["size"].to_numpy(np.float64) * mean_factor
            w_s = pdf["size"].to_numpy(np.float64) * std_factor
            # mean row: positions [2i, 2i+1, 2j, 2j+1], coeffs [M_i, 1, -M_j, -1]
            pos_m = np.stack([i2, i2 + 1, j2, j2 + 1], axis=1)
            cf_m = np.stack(
                [pdf["mean_i"].to_numpy(np.float64), np.ones(len(pdf)),
                 -pdf["mean_j"].to_numpy(np.float64), -np.ones(len(pdf))], axis=1)
            # std row: positions [2i, 2j], coeffs [V_i, -V_j]
            pos_s = np.stack([i2, j2], axis=1)
            cf_s = np.stack(
                [pdf["std_i"].to_numpy(np.float64),
                 -pdf["std_j"].to_numpy(np.float64)], axis=1)
            outs = []
            for pos, cf, w in ((pos_m, cf_m, w_m), (pos_s, cf_s, w_s)):
                k = pos.shape[1]
                rr = np.repeat(pos, k, axis=1).ravel()           # r index
                cc = np.tile(pos, (1, k)).ravel()                # c index
                vv = (np.repeat(cf, k, axis=1) * np.tile(cf, (1, k))
                      * w[:, None]).ravel()
                bb = np.repeat(band, k * k)
                outs.append(pd.DataFrame({"band": bb, "r": rr, "c": cc, "v": vv}))
            yield pd.concat(outs, ignore_index=True)

    coo_df = (
        pair_stats.select("id_i", "id_j", "band", "mean_i", "std_i",
                          "mean_j", "std_j", "size")
        .mapInPandas(coo, _COO_SCHEMA)
        .groupBy("band", "r", "c").agg(F.sum("v").alias("v"))
    )
    # total overlap px per band for the anchor weight (tiny agg)
    totals = {int(r["band"]): float(r["t"]) for r in
              pair_stats.groupBy("band").agg(F.sum("size").alias("t")).collect()}
    nnz = coo_df.toPandas()
    out_rows = []
    for band in range(n_bands):
        sub = nnz[nnz["band"] == band]
        pjj = totals.get(band, 0.0) / (2.0 * n) if n else 1.0
        if pjj <= 0:
            pjj = 1.0  # anchors alone: a=1, b=0
        r_idx = np.concatenate([sub["r"].to_numpy(np.int64), np.arange(2 * n)])
        c_idx = np.concatenate([sub["c"].to_numpy(np.int64), np.arange(2 * n)])
        vals = np.concatenate([sub["v"].to_numpy(np.float64), np.full(2 * n, pjj)])
        bvec = np.zeros(2 * n)
        bvec[0::2] = pjj  # anchor target a_i = 1, weight pjj, coeff 1
        sol = _pcg(r_idx, c_idx, vals, bvec, 2 * n)
        for im, i in idx.items():
            out_rows.append((im, band, float(sol[2 * i]), float(sol[2 * i + 1])))
    return pd.DataFrame(out_rows, columns=["image_id", "band", "a", "b"])


def global_match(images: DataFrame, z: int = 10,
                 mean_factor: float = 1.0, std_factor: float = 1.0,
                 joint_mask: bool = False,
                 nodata_col: str | None = None,
                 solver: str = "auto") -> tuple[DataFrame, pd.DataFrame]:
    """Full pipeline: returns (adjusted_images_df, params_pdf).

    `joint_mask=True` uses the reference-exact AND of both images' validity
    masks for the pair-window stats (overlap crops shuffle); default False
    keeps pair stats per-side and fully bytes-free.

    `solver`: 'dense' = driver lstsq on the full design matrix (reference
    parity, fine to ~10^3 images); 'normal' = distributed sparse
    normal-equation assembly + CG (the 10^5+ scale path); 'auto' picks
    'normal' above 512 images."""
    from gis_scripts_spark.raster import ops

    spark = images.sparkSession
    if joint_mask:
        pair_stats_sdf = overlap_pair_stats_joint(images, z=z, nodata_col=nodata_col or "nodata")
    else:
        pair_stats_sdf = overlap_pair_stats(images, z=z, nodata_col=nodata_col)
    meta = images.select("image_id", "bands").distinct().collect()
    ids = [r["image_id"] for r in meta]
    n_bands = max((int(r["bands"]) for r in meta), default=0)
    if solver == "auto":
        solver = "normal" if len(ids) > 512 else "dense"
    if solver == "normal":
        params = solve_gains_normal(pair_stats_sdf, ids, n_bands, mean_factor, std_factor)
    else:
        pair_stats = pair_stats_sdf.toPandas()
        whole = ops.band_stats(images, nodata_col=nodata_col).toPandas()
        params = solve_gains(pair_stats, whole, mean_factor, std_factor)
    params_df = spark.createDataFrame(params) if len(params) else spark.createDataFrame(
        pd.DataFrame({"image_id": pd.Series(dtype=str), "band": pd.Series(dtype=np.int32),
                      "a": pd.Series(dtype=float), "b": pd.Series(dtype=float)})
    )
    return ops.apply_linear(images, params_df, nodata_col=nodata_col), params


def global_match_mosaic(
    images: DataFrame,
    z: int = 10,
    tile_px: int = 256,
    order: str = "last",
    mean_factor: float = 1.0,
    std_factor: float = 1.0,
    joint_mask: bool = False,
    nodata_col: str | None = None,
) -> tuple[DataFrame, pd.DataFrame]:
    """The COMPLETE reference flagship: solve + apply gains, then composite
    the adjusted images into seamless mosaic tiles — the final gdal.Warp
    step of the pipeline (global_match.py:302-312, the last-wins merge the
    reference runs after matching). Returns (tile_composites_df, params)."""
    from gis_scripts_spark.operators import mosaic as mosaic_mod

    adjusted, params = global_match(
        images, z=z, mean_factor=mean_factor, std_factor=std_factor,
        joint_mask=joint_mask, nodata_col=nodata_col,
    )
    tiles = mosaic_mod.mosaic_composite(
        adjusted, tile_px=tile_px, order=order,
        nodata_col=nodata_col or "nodata",
    )
    return tiles, params
