"""Pixel kernels over the image table's `bytes` column (SURVEY.md §2.2).

Each reference script's per-file numpy kernel becomes a vectorized pandas
UDF / mapInPandas stage: decode -> numpy kernel -> re-encode or emit stats
rows. Pixels never leave the executor; only keys/stats shuffle.

Reference parity (file:line cited per function):
- replace_value          <- raster/replace_raster_value.py:36
- add_scalar             <- raster/add_value_to_raster.py:27-58
- stretch_percentile     <- raster/stretch_spectral_values.py:46-145
- apply_linear           <- raster/seamless_mosaic/global_match.py:524-528
- apply_gamma            <- raster/seamless_mosaic/local_match.py:544-573
- ndwi_mask              <- external/.../seagrass_lib.py:337-342
- band_stats             <- global_match.py:152-164
- predicate_counts       <- raster/count_raster_values.py:5-77
- replace_connected      <- raster/replace_band_consistant_values_with_value.py:78-121
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

from gis_scripts_spark.raster import codec
from gis_scripts_spark.rowmap import map_rows

STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("band", IntegerType(), False),
        StructField("mean", DoubleType(), False),
        StructField("std", DoubleType(), False),
        StructField("min", DoubleType(), False),
        StructField("max", DoubleType(), False),
        StructField("n_valid", LongType(), False),
    ]
)


def _transform_bytes(df: DataFrame, kernel) -> DataFrame:
    """Decode -> kernel(img, row) -> re-encode, preserving all columns: the
    engine's one decode->kernel->re-encode stage. kernel: (np.ndarray, row
    dict) -> np.ndarray."""

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"])
        yield {**row, "bytes": bytearray(codec.encode(kernel(img, row), row["fmt"]))}

    return map_rows(df, fn, df.schema)


# ------------------------------------------------------------- transforms
def replace_value(df: DataFrame, find: int, replace: int) -> DataFrame:
    """np.where(img == find, replace, img) per band
    (replace_raster_value.py:36). Source dtype preserved (a replace value
    outside the dtype range raises rather than silently wrapping)."""

    def k(img, row):
        return np.where(img == find, _checked_cast(replace, img.dtype), img)

    return _transform_bytes(df, k)


def _checked_cast(value, dtype: np.dtype):
    out = np.asarray(value, dtype)
    if float(out) != float(value):
        raise ValueError(f"value {value} not representable in {dtype}")
    return out


def add_scalar(df: DataFrame, value: float, nodata: int | None = None) -> DataFrame:
    """Add a scalar to valid pixels, clipped to the SOURCE dtype's range,
    preserving the nodata sentinel (add_value_to_raster.py:27-58 — the
    reference adds in the raster's own dtype)."""

    def k(img, row):
        out = restore_dtype(img.astype(np.float64) + float(value), img.dtype)
        if nodata is not None:
            out = np.where(img == nodata, img, out)
        return out

    return _transform_bytes(df, k)


def nodata_of(row, nodata_col: str | None) -> float | None:
    """Per-row nodata sentinel with the engine-wide null guard."""
    if nodata_col is None:
        return None
    v = row[nodata_col]
    return float(v) if v is not None and not pd.isna(v) else None


def restore_dtype(out: np.ndarray, src_dtype: np.dtype) -> np.ndarray:
    """Float kernel result -> source dtype: integers round and clip to the
    dtype's own range (the reference writes GDT_Int16 / float32 outputs,
    global_match.py:212, local_match.py:854 — NOT everything-to-uint8);
    floats cast losslessly."""
    if np.issubdtype(src_dtype, np.integer):
        info = np.iinfo(src_dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(src_dtype)
    return out.astype(src_dtype)


def gamma_scale(src_dtype: np.dtype, scale: float | None) -> float:
    """Normalization domain for gamma-style kernels: the dtype's positive
    max for integers (255 for uint8 — the reference's domain), 1.0 for
    floats (values assumed normalized; pass `scale` to override)."""
    if scale is not None:
        return float(scale)
    if np.issubdtype(src_dtype, np.integer):
        return float(np.iinfo(src_dtype).max)
    return 1.0


def apply_linear(df: DataFrame, params: DataFrame, nodata_col: str | None = None) -> DataFrame:
    """Per-image per-band gain/offset: np.where(valid, a*px+b, px)
    (global_match.py:524-528 — the reference masks nodata on apply).
    `params`: (image_id, band, a, b) — broadcast-joined (tiny, 2 doubles per
    image-band). Output keeps the SOURCE dtype (int16 stays int16, float32
    stays float32) and nodata sentinels pass through untouched."""
    p = (
        params.groupBy("image_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("band", "a", "b"))).alias("_ab"),
        )
    )
    joined = df.join(F.broadcast(p), "image_id", "left")

    def k(img, row):
        ab = row["_ab"]
        if ab is None:
            return img
        nd = nodata_of(row, nodata_col)
        out = img.astype(np.float64)
        for entry in ab:
            b_idx = int(entry["band"])
            if b_idx < out.shape[2]:
                band = out[:, :, b_idx]
                adj = entry["a"] * band + entry["b"]
                if nd is not None:
                    adj = np.where(band == nd, band, adj)
                out[:, :, b_idx] = adj
        out = restore_dtype(out, img.dtype)
        if nd is not None:
            # integer clip must never eat the sentinel itself; compare in
            # FLOAT — casting an out-of-range sentinel into img.dtype wraps
            # (uint8(-9999) == 241) and would alias a valid pixel value
            out = np.where(img.astype(np.float64) == nd, img, out)
        return out

    return _transform_bytes(joined, k).select(*df.columns)


def apply_gamma(
    df: DataFrame,
    gamma_by_image: DataFrame,
    alpha: float = 1.0,
    nodata_col: str | None = None,
    scale: float | None = None,
) -> DataFrame:
    """P_out = alpha * (P_in/S)^gamma * S, gamma joined per image
    (local_match.py:544-573; gamma = log(M_ref)/log(M_in) computed
    upstream). S = `scale` or the dtype default (gamma_scale). Source dtype
    preserved; nodata sentinels pass through."""
    joined = df.join(F.broadcast(gamma_by_image.select("image_id", "gamma")), "image_id", "left")

    def k(img, row):
        g = row["gamma"]
        if g is None or pd.isna(g):
            return img
        nd = nodata_of(row, nodata_col)
        s = gamma_scale(img.dtype, scale)
        f = img.astype(np.float64)
        with np.errstate(invalid="ignore"):
            scaled = alpha * np.power(np.maximum(f, 0.0) / s, float(g)) * s
        if nd is not None:
            scaled = np.where(f == nd, f, scaled)
        return restore_dtype(scaled, img.dtype)

    return _transform_bytes(joined, k).select(*df.columns)


def stretch_percentile(df: DataFrame, breakpoints: list[tuple[float, float]]) -> DataFrame:
    """Piecewise-linear stretch with per-image percentile breakpoints
    (stretch_spectral_values.py:46-145). `breakpoints`: [(pct_in, value_out)]
    — pct_in in [0,100] resolved per image per band via np.percentile
    (exact, matching np.nanpercentile linear interpolation), then np.interp."""
    pcts = [p for p, _ in breakpoints]
    outs = [v for _, v in breakpoints]

    def k(img, row):
        f = img.astype(np.float64)
        out = np.empty_like(f)
        for b in range(f.shape[2]):
            xs = np.percentile(f[:, :, b], pcts)
            # np.interp needs increasing xs; collapse ties
            xs = np.maximum.accumulate(xs)
            out[:, :, b] = np.interp(f[:, :, b], xs, outs)
        return restore_dtype(out, img.dtype)

    return _transform_bytes(df, k)


def parse_breakpoint_value(band: np.ndarray, valid_mask: np.ndarray, val) -> float:
    """Reference breakpoint grammar (stretch_spectral_values.py:50-79):
    numeric -> literal; 'P@' -> P-th percentile over valid NON-NEGATIVE
    pixels; 'P%' -> P-th percentile over all valid pixels; other strings ->
    float literal."""
    if isinstance(val, (int, float)):
        return float(val)
    s = str(val).strip()
    if s.endswith("@"):
        d = band[valid_mask].astype(np.float64).copy()
        d[d < 0] = np.nan
        return float(np.nanpercentile(d, float(s[:-1])))
    if s.endswith("%"):
        return float(np.nanpercentile(band[valid_mask].astype(np.float64), float(s[:-1])))
    return float(s)


def stretch_spectral(
    df: DataFrame,
    stretch_dict: dict,
    smoothing: float = 0.0,
    offset: float = 0.0,
    nodata_col: str | None = None,
) -> DataFrame:
    """Full reference stretch semantics (stretch_spectral_values.py:46-145):
    breakpoints resolved per image per band in DICT ORDER (no sorting —
    reference parity), each key/value a literal or 'P%'/'P@' percentile;
    np.interp over valid pixels; optional gaussian smoothing (mask zeroed
    before the filter, valid pixels restored after — the reference's
    gaussian_filter step, here a separable symmetric-pad convolution since
    scipy is absent); `offset` added to valid pixels last. Nodata pixels
    keep their sentinel."""

    def gauss1d(arr, sigma, axis):
        radius = int(4.0 * sigma + 0.5)  # scipy truncate=4.0 convention
        xs = np.arange(-radius, radius + 1, dtype=np.float64)
        kern = np.exp(-(xs**2) / (2.0 * sigma * sigma))
        kern /= kern.sum()
        pad = [(0, 0)] * arr.ndim
        pad[axis] = (radius, radius)
        padded = np.pad(arr, pad, mode="symmetric")
        out = np.zeros_like(arr)
        sl = [slice(None)] * arr.ndim
        for i, w in enumerate(kern):
            sl[axis] = slice(i, i + arr.shape[axis])
            out += w * padded[tuple(sl)]
        return out

    def k(img, row):
        f = img.astype(np.float64)
        nd = nodata_of(row, nodata_col)
        out = np.empty_like(f)
        for b in range(f.shape[2]):
            band = f[:, :, b]
            mask = (band == nd) if nd is not None else np.isnan(band)
            valid = ~mask
            in_vals = [parse_breakpoint_value(band, valid, kk) for kk in stretch_dict]
            out_vals = [parse_breakpoint_value(band, valid, vv) for vv in stretch_dict.values()]
            stretched = np.full_like(band, np.nan)
            stretched[valid] = np.interp(band[valid], in_vals, out_vals)
            if smoothing > 0:
                tmp = stretched.copy()
                tmp[mask] = 0.0
                tmp = gauss1d(gauss1d(tmp, smoothing, 0), smoothing, 1)
                stretched[valid] = tmp[valid]
            if offset != 0:
                stretched[valid] += offset
            if nd is not None:
                stretched[mask] = nd
            out[:, :, b] = stretched
        if np.issubdtype(img.dtype, np.integer):
            info = np.iinfo(img.dtype)
            return np.clip(np.rint(out), info.min, info.max).astype(img.dtype)
        return out.astype(img.dtype)

    return _transform_bytes(df, k)


def ndwi_mask(df: DataFrame, green_band: int = 1, nir_band: int = 2, threshold: float = 0.0) -> DataFrame:
    """(G - NIR)/(G + NIR) > threshold -> binary mask image
    (seagrass_lib.py:337-342). Requires >= 3 bands; 1-band rows pass
    through unchanged."""

    def k(img, row):
        if img.shape[2] <= max(green_band, nir_band):
            return img
        g = img[:, :, green_band].astype(np.float64)
        n = img[:, :, nir_band].astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            idx = np.where(g + n > 0, (g - n) / (g + n), 0.0)
        return (np.where(idx > threshold, 255, 0).astype(np.uint8))[:, :, None]

    # mask output is 1-band -> w/h preserved, bands becomes 1
    out = _transform_bytes(df, k)
    return out.withColumn("bands", F.lit(1))


def mask_by_binary_image(
    df: DataFrame,
    masks: DataFrame,
    nodata: float = 0.0,
    mask_id: str = "image_id",
    mask_true: float = 1.0,
) -> DataFrame:
    """Mask every band by a same-grid binary image: where mask==1 keep the
    pixel, else write the nodata sentinel
    (``raster/mask_image_by_binary_image.py:67-69``).

    `masks`: (image_id, bytes, fmt) binary rasters (band 0 used), equi-joined
    per image — broadcast when small (the common one-mask-per-scene case).
    Grid alignment is the caller's contract, as in the reference (which
    nearest-reprojects onto the mask grid first; use tile snap/resize ops
    for that step here)."""
    m = masks.select(
        F.col(mask_id).alias("image_id"),
        F.col("bytes").alias("_mask_bytes"),
        F.col("fmt").alias("_mask_fmt"),
    )
    joined = df.join(F.broadcast(m), "image_id", "left")

    def k(img, row):
        if row["_mask_bytes"] is None:
            return img
        mask = codec.decode(bytes(row["_mask_bytes"]), row["_mask_fmt"])[:, :, 0]
        hh = min(img.shape[0], mask.shape[0])
        ww = min(img.shape[1], mask.shape[1])
        out = img.copy()
        keep = mask[:hh, :ww] == np.asarray(mask_true, mask.dtype)
        region = out[:hh, :ww]
        region[~keep] = np.asarray(nodata, img.dtype)
        return out

    return _transform_bytes(joined, k).select(*df.columns)


def replace_connected(df: DataFrame, find: int, replace: int, min_size: int, connectivity: int = 4) -> DataFrame:
    """Replace `find`-valued pixels only in connected components of size >=
    min_size (replace_band_consistant_values_with_value.py:78-121; the
    reference uses scipy.ndimage.label — re-implemented here as two-pass
    union-find CCL, scipy being unavailable)."""

    def k(img, row):
        mask = np.all(img == find, axis=2)
        if not mask.any():
            return img
        labels, counts = _label_components(mask, connectivity)
        big = counts >= min_size
        kill = big[labels] & mask
        out = img.copy()
        out[kill] = _checked_cast(replace, img.dtype)
        return out

    return _transform_bytes(df, k)


def _label_components(mask: np.ndarray, connectivity: int = 4) -> tuple[np.ndarray, np.ndarray]:
    """Two-pass connected-component labeling with union-find (pure numpy +
    small python merge loop). Returns (label_image, counts_by_label);
    label 0 = background, counts[0] = 0."""
    h, w = mask.shape
    labels = np.zeros((h, w), np.int64)
    parent = [0]

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    nxt = 1
    for r in range(h):
        row = mask[r]
        for c in range(w):
            if not row[c]:
                continue
            up = labels[r - 1, c] if r > 0 else 0
            left = labels[r, c - 1] if c > 0 else 0
            neigh = [x for x in (up, left) if x]
            if connectivity == 8 and r > 0:
                if c > 0 and labels[r - 1, c - 1]:
                    neigh.append(labels[r - 1, c - 1])
                if c < w - 1 and labels[r - 1, c + 1]:
                    neigh.append(labels[r - 1, c + 1])
            if not neigh:
                parent.append(nxt)
                labels[r, c] = nxt
                nxt += 1
            else:
                m = min(find(x) for x in neigh)
                labels[r, c] = m
                for x in neigh:
                    rx = find(x)
                    if rx != m:
                        parent[rx] = m
    # flatten
    flat = np.array([find(i) for i in range(nxt)], np.int64)
    # relabel compactly
    uniq, inv = np.unique(flat, return_inverse=True)
    labels = inv[labels]
    counts = np.bincount(labels.ravel())
    counts[0] = 0
    return labels, counts


def smooth(df: DataFrame, sigma: float = 1.5, nodata: int | None = None) -> DataFrame:
    """Gaussian smoothing with validity-mask renormalized weights
    (normalized convolution — ``local_match.py:636-671`` semantics): nodata
    pixels contribute zero weight and keep their value. Separable numpy
    convolution, no scipy."""
    radius = max(1, int(3.0 * sigma))
    xs = np.arange(-radius, radius + 1, dtype=np.float64)
    kern = np.exp(-(xs**2) / (2.0 * sigma * sigma))
    kern /= kern.sum()

    def conv1d(arr, axis):
        pad = [(0, 0)] * arr.ndim
        pad[axis] = (radius, radius)
        padded = np.pad(arr, pad, mode="edge")
        out = np.zeros_like(arr)
        sl = [slice(None)] * arr.ndim
        for i, w in enumerate(kern):
            sl[axis] = slice(i, i + arr.shape[axis])
            out += w * padded[tuple(sl)]
        return out

    def k(img, row):
        f = img.astype(np.float64)
        valid = np.ones(f.shape, np.float64)
        if nodata is not None:
            valid = (img != nodata).astype(np.float64)
        num = conv1d(conv1d(f * valid, 0), 1)
        den = conv1d(conv1d(valid, 0), 1)
        with np.errstate(invalid="ignore", divide="ignore"):
            sm = np.where(den > 0, num / den, f)
        if nodata is not None:
            sm = np.where(img == nodata, img, sm)
        return restore_dtype(sm, img.dtype)

    return _transform_bytes(df, k)


def clip_to_polygon(df: DataFrame, polys_wkb: bytes, nodata_value: int = 0) -> DataFrame:
    """Cutline crop (R3, ``gdalwarp -cutline -crop_to_cutline``
    ``create_dem_tiles_from_array.py:268-276``): pixels whose centers fall
    outside the polygon become `nodata_value`. Pixel centers get lon/lat
    from the footprint model; PIP is the vectorized ray cast."""
    from gis_scripts_spark.geom import core as geom
    from gis_scripts_spark.geom import wkb as wkb_mod
    from gis_scripts_spark.raster.match import RES_DEG

    polys = wkb_mod.from_wkb(polys_wkb)

    def k(img, row):
        h, w = img.shape[:2]
        xs = row["lon"] + (np.arange(w) + 0.5) * RES_DEG
        ys = row["lat"] + h * RES_DEG - (np.arange(h) + 0.5) * RES_DEG
        px = np.repeat(xs[None, :], h, 0).ravel()
        py = np.repeat(ys[:, None], w, 1).ravel()
        inside = geom.points_in_multipolygon(px, py, polys).reshape(h, w)
        out = img.copy()
        out[~inside] = np.uint8(nodata_value)
        return out

    return _transform_bytes(df, k)


# ------------------------------------------------------------------ stats
def band_stats(
    df: DataFrame, nodata: float | None = None, nodata_col: str | None = None
) -> DataFrame:
    """Per-image per-band masked mean/std/min/max/count
    (global_match.py:152-164; std is population std like np.std).

    `nodata`: one scalar sentinel for the whole table; `nodata_col`: name of
    a per-image sentinel column (the image-table convention, e.g. -9999 for
    int16 / -32768 for float32 products) — per-row masking, reference
    parity with ``mask_i = band_data_i != nodata_i``."""
    sel = ["image_id", "bytes", "fmt"] + ([nodata_col] if nodata_col else [])

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        nd = nodata if nodata_col is None else nodata_of(row, nodata_col)
        for b in range(img.shape[2]):
            band = img[:, :, b]
            valid = band[band != nd] if nd is not None else band.ravel()
            if valid.size == 0:
                yield (row["image_id"], b, 0.0, 0.0, 0.0, 0.0, 0)
            else:
                yield (row["image_id"], b, float(valid.mean()), float(valid.std()),
                       float(valid.min()), float(valid.max()), int(valid.size))

    return map_rows(df.select(*sel), fn, STATS_SCHEMA)


PRED_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("band", IntegerType(), False),
        StructField("condition", StringType(), False),
        StructField("n_match", LongType(), False),
        StructField("std_match", DoubleType(), False),
        StructField("n_total", LongType(), False),
    ]
)


def parse_predicate(cond: str):
    """'>4' / '<10' / '3' -> numpy predicate (count_raster_values.py:5-17)."""
    cond = cond.strip()
    if cond.startswith(">"):
        v = float(cond[1:])
        return lambda a: a > v
    if cond.startswith("<"):
        v = float(cond[1:])
        return lambda a: a < v
    v = float(cond)
    return lambda a: a == v


def predicate_counts(df: DataFrame, conditions: list) -> DataFrame:
    """Per-image per-band per-condition (count, std-of-matching, total) —
    count_raster_values.py:31-77. A list condition is an AND-conjunction
    (count_raster_values.py:19-29)."""
    norm = [(c if isinstance(c, list) else [c]) for c in conditions]
    names = ["&".join(c) for c in norm]
    preds = [[parse_predicate(x) for x in c] for c in norm]

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        for b in range(img.shape[2]):
            band = img[:, :, b].ravel()
            for name, plist in zip(names, preds):
                m = np.ones(band.shape, bool)
                for p in plist:
                    m &= p(band)
                sel = band[m]
                yield (row["image_id"], b, name, int(m.sum()),
                       float(sel.std()) if sel.size else 0.0, int(band.size))

    return map_rows(df.select("image_id", "bytes", "fmt"), fn, PRED_SCHEMA)


def predicate_rollup(stats: DataFrame) -> DataFrame:
    """Cross-image rollup per condition (count_raster_values.py:100-113):
    total matches, avg per-image count, avg std, total pixels."""
    return stats.groupBy("condition").agg(
        F.sum("n_match").alias("total_match"),
        F.avg("n_match").alias("avg_match"),
        F.avg("std_match").alias("avg_std"),
        F.sum("n_total").alias("total_pixels"),
    )
