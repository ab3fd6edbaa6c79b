"""Deterministic synthetic image + polygon tables (FIXTURES.md §1-2).

Everything derives from key hashes, NEVER from partition indices, so the
same table materializes bit-identically at any parallelism level
(SURVEY.md §7.4 "Deterministic synthesis"). Distribution is via
mapInPandas over spark.range(n) — generation is embarrassingly parallel
and scales to any row count.

Schema = the BASELINE.json input_hint:
  image_id:string, bytes:binary, w:int, h:int, fmt:string,
  caption:string, phash:long
plus auxiliary geo columns lon/lat/nodata/bands.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.raster import codec
from gis_scripts_spark.rowmap import map_rows

IMAGE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False),
        StructField("nodata", DoubleType(), False),
        StructField("bands", IntegerType(), False),
    ]
)

# hot-spot clusters for skew tests (lon, lat, sigma_deg)
HOTSPOTS = [(-122.4, 37.8, 0.5), (2.35, 48.85, 0.4), (139.7, 35.7, 0.6)]
_SIZES = (32, 64, 128)


def _seed_for(image_id: str) -> int:
    return int.from_bytes(hashlib.blake2b(image_id.encode(), digest_size=8).digest(), "big")


def _fit_for_fmt(img, fmt: str):
    """GIF's exact-palette encoder needs <=256 distinct colors, so 3-band
    scenes headed for fmt='gif' are stored as their 8-bit grayscale (a
    256-entry palette): lossless in the palette domain, and
    pHash-preserving by construction — codec.phash64 grayscales via the
    SAME channel mean, so the planted-near-dup guarantee survives the
    GIF re-post leg exactly like the other codecs. (A uniform
    6-level/channel RGB quantization was tried first and pushed 5% of
    planted pairs past hamming 10 — a real GIF re-poster would use an
    adaptive palette, which uniform levels badly understate.) Other
    codecs take pixels as-is."""
    if fmt == "gif" and img.ndim == 3 and img.shape[2] == 3:
        return np.rint(img.astype(np.float64).mean(axis=2)).astype(np.uint8)[:, :, None]
    return img


def make_image_row(
    i: int, seed: int = 42, sizes: tuple = _SIZES, fmts: tuple = ("png", "qnt"),
    dup_every: int | None = None,
) -> dict:
    """One deterministic image row, keyed only by (i, seed). `sizes`
    selects the pixel-dimension profile (default 32/64/128 mixed); the
    tens-of-millions-row scaling table uses (32,) so real encoded bytes
    fit sandbox disk — the measured query prunes the bytes column either
    way, so the profile does not enter the timing. `fmts` selects the
    codec mix — default (png, qnt) keeps historical fixtures bit-stable;
    pass ("png", "qnt", "jpeg") for the full input_hint mix with real
    baseline-JPEG bytes (raster/jpeg.py).

    `dup_every=k` makes every row with i % k == 1 (i >= 1) a NEAR
    DUPLICATE of row i-1: same scene pixels with a small deterministic
    gain/offset perturbation, re-encoded (possibly in a different codec)
    — the web-crawl re-post/re-encode case a perceptual-hash dedup stage
    must catch. Keyed only by (i, seed), so still bit-identical at any
    parallelism. Default None keeps historical fixtures bit-stable."""
    if dup_every is not None and i >= 1 and i % dup_every == 1:
        src = make_image_row(i - 1, seed, sizes, fmts)
        img = codec.decode(src["bytes"], src["fmt"])
        img = np.clip(np.rint(img.astype(np.float64) * 1.02 + 2.0), 0, 255).astype(np.uint8)
        rng = np.random.default_rng(_seed_for(f"{seed}:dup:img_{i:08d}"))
        fmt = str(fmts[int(rng.random() * len(fmts))]) if len(fmts) > 1 else str(fmts[0])
        img = _fit_for_fmt(img, fmt)
        buf = codec.encode(img, fmt)
        decoded = codec.decode(buf, fmt)
        return {
            "image_id": f"img_{i:08d}",
            "bytes": buf,
            "w": src["w"],
            "h": src["h"],
            "fmt": fmt,
            "caption": f"near duplicate of img_{i - 1:08d}",
            "phash": codec.phash64(decoded),
            "lon": src["lon"],
            "lat": src["lat"],
            "nodata": -9999.0,
            "bands": src["bands"],
        }
    image_id = f"img_{i:08d}"
    rng = np.random.default_rng(_seed_for(f"{seed}:{image_id}"))
    w = int(sizes[int(rng.integers(0, len(sizes)))])
    h = int(sizes[int(rng.integers(0, len(sizes)))])
    bands = int(3 if rng.random() < 0.5 else 1)
    fmt = str(fmts[int(rng.random() * len(fmts))]) if len(fmts) > 1 else str(fmts[0])
    # smooth-ish content: low-freq gradient + noise (compressible, non-flat)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        128.0
        + 60.0 * np.sin(xx / w * np.pi * rng.uniform(1, 3))
        + 40.0 * np.cos(yy / h * np.pi * rng.uniform(1, 3))
    )
    img = np.clip(
        base[:, :, None] + rng.normal(0, 18, (h, w, bands)), 0, 255
    ).astype(np.uint8)
    img = _fit_for_fmt(img, fmt)
    # 20% of rows in hot-spot clusters (skew), 80% uniform
    if rng.random() < 0.2:
        cx, cy, s = HOTSPOTS[int(rng.integers(0, len(HOTSPOTS)))]
        lon = float(np.clip(rng.normal(cx, s), -179.999, 179.999))
        lat = float(np.clip(rng.normal(cy, s), -59.999, 59.999))
    else:
        lon = float(rng.uniform(-179.999, 179.999))
        lat = float(rng.uniform(-59.999, 59.999))
    buf = codec.encode(img, fmt)
    decoded = codec.decode(buf, fmt)
    return {
        "image_id": image_id,
        "bytes": buf,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"synthetic scene {i} at {lat:.4f},{lon:.4f}",
        "phash": codec.phash64(decoded),
        "lon": lon,
        "lat": lat,
        "nodata": -9999.0,
        "bands": bands,
    }


def images_df(
    spark: SparkSession, n: int, seed: int = 42, parts: int | None = None,
    sizes: tuple = _SIZES, fmts: tuple = ("png", "qnt"),
    dup_every: int | None = None,
) -> DataFrame:
    """Distributed deterministic image table of n rows."""

    def gen(row):
        yield make_image_row(int(row["id"]), seed, sizes, fmts, dup_every)

    return map_rows(spark.range(0, n, 1, parts or max(8, n // 2000)), gen, IMAGE_SCHEMA)


# ------------------------------------------------------------- AOI polygons
def aoi_polygons(seed: int = 42, n: int = 24) -> pd.DataFrame:
    """Deterministic AOI table: rectangles + seeded convex polygons, with
    FIXTURES.md edge cases (hot-spot cover, empty polygon, overlapping
    pair). Columns: poly_id, wkb, class_name."""
    rng = np.random.default_rng(seed)
    rows = []
    # polygon guaranteed to cover hot spot 0 (skew driver)
    cx, cy, _ = HOTSPOTS[0]
    rows.append(("aoi_hot", wkb_mod.bbox_to_wkb(cx - 2, cy - 2, cx + 2, cy + 2), "hot"))
    # polygon with (almost surely) zero images: tiny box in mid-ocean
    rows.append(("aoi_empty", wkb_mod.bbox_to_wkb(-39.001, -49.001, -39.0005, -49.0005), "empty"))
    # two overlapping rectangles
    rows.append(("aoi_ov1", wkb_mod.bbox_to_wkb(10.0, 10.0, 30.0, 25.0), "ov"))
    rows.append(("aoi_ov2", wkb_mod.bbox_to_wkb(20.0, 15.0, 40.0, 35.0), "ov"))
    for k in range(n - len(rows)):
        if rng.random() < 0.5:
            x0 = rng.uniform(-170, 140)
            y0 = rng.uniform(-55, 40)
            rows.append(
                (f"aoi_{k:04d}", wkb_mod.bbox_to_wkb(x0, y0, x0 + rng.uniform(2, 30), y0 + rng.uniform(2, 15)), "rect")
            )
        else:
            # seeded convex polygon: sorted angles around a center
            cx = rng.uniform(-160, 160)
            cy = rng.uniform(-50, 50)
            m = int(rng.integers(5, 10))
            ang = np.sort(rng.uniform(0, 2 * np.pi, m))
            r = rng.uniform(1.5, 12.0, m)
            ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
            rows.append((f"aoi_{k:04d}", wkb_mod.polygon_to_wkb([ring]), "convex"))
    pdf = pd.DataFrame(rows, columns=["poly_id", "wkb", "class_name"])
    pdf["wkb"] = pdf["wkb"].map(bytearray)
    return pdf


def aoi_polygons_df(spark: SparkSession, seed: int = 42, n: int = 24) -> DataFrame:
    return spark.createDataFrame(aoi_polygons(seed, n))
