"""No-Spark timings of the engine's kernels on a workload's own inputs.

Each kernel is called on the arrays the workload feeds Spark, repeated
until it has run for at least MIN_SECONDS, and the median call counts.
Kernels a workload does not reach report 0.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs as I

MIN_SECONDS = 0.3
DECODE_SAMPLE = 6  # images per format: gif and JPEG decode take ~60 ms each


def _median_s(fn, min_calls: int = 3) -> float:
    times, t_all = [], time.perf_counter()
    while len(times) < min_calls or time.perf_counter() - t_all < MIN_SECONDS:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def run(workload: str, in_dir: str) -> dict[str, float]:
    from gis_scripts_spark.geom import core as geom
    from gis_scripts_spark.geom import wkb
    from gis_scripts_spark.index import cells, hex7, s2, tiles
    from gis_scripts_spark.raster import codec

    out: dict[str, float] = {}
    sub = "images" if workload == "image_dedup" else "points"
    pts = pq.read_table(os.path.join(in_dir, sub), columns=["lon", "lat"]).to_pandas()
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    mpts = len(lon) / 1e6
    out["index.cell_mpts_s"] = mpts / _median_s(lambda: cells.cell(lon, lat, I.GRID_Z))
    out["index.tile_mpts_s"] = mpts / _median_s(lambda: tiles.tile_xy(lon, lat, I.TILE_Z))
    out["index.s2_mpts_s"] = mpts / _median_s(lambda: s2.cell_id(lat, lon, I.S2_LEVEL))
    out["index.hex7_mpts_s"] = mpts / _median_s(lambda: hex7.encode(lon, lat, I.HEX_RES))

    out["geom.pip_mpts_s"] = out["geom.cover_s"] = 0.0
    if workload == "pip_tile":
        polys = pq.read_table(os.path.join(in_dir, "polys.parquet")).to_pandas()
        shapes = [wkb.from_wkb(bytes(b)) for b in polys["wkb"]]
        cand = []
        for shape in shapes:
            x0, y0, x1, y1 = geom.bbox_of_rings(shape[0])
            cand.append(np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0])
        n_cand = sum(len(c) for c in cand) / 1e6
        out["geom.pip_mpts_s"] = n_cand / _median_s(
            lambda: [geom.points_in_multipolygon(lon[c], lat[c], s) for s, c in zip(shapes, cand)])
        out["geom.cover_s"] = _median_s(lambda: [geom.cover_polygon(s, I.GRID_Z) for s in shapes])

    for fmt in I.IMAGE_FMTS:
        out[f"raster.decode_ms.{fmt}"] = 0.0
    out["raster.phash_ms"] = 0.0
    if workload == "image_dedup":
        imgs = pq.read_table(os.path.join(in_dir, "images"), columns=["bytes", "fmt"]).to_pandas()
        decoded = []
        for fmt, group in imgs.groupby("fmt"):
            bufs = [bytes(b) for b in group["bytes"][:DECODE_SAMPLE]]
            out[f"raster.decode_ms.{fmt}"] = 1e3 * _median_s(
                lambda: [codec.decode(b, fmt) for b in bufs], min_calls=1) / len(bufs)
            decoded.extend(codec.decode(b, fmt) for b in bufs)
        out["raster.phash_ms"] = 1e3 * _median_s(lambda: [codec.phash64(d) for d in decoded]) / len(decoded)
    return out
