"""Parity operators: calibration/DOS, smoothing, polygon clip (cutline),
coverage join, idempotent ingest."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_scripts_spark.geom import core as geom
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.operators import coverage_join
from gis_scripts_spark.raster import calibrate, codec, ops
from gis_scripts_spark.raster.match import RES_DEG
from gis_scripts_spark.sources import ingest, snaptable, synth


def _img_df(spark, arr, image_id="t0", lon=0.0, lat=0.0):
    pdf = pd.DataFrame([{
        "image_id": image_id, "bytes": bytearray(codec.png_encode(arr)),
        "w": arr.shape[1], "h": arr.shape[0], "fmt": "png", "caption": "",
        "phash": 0, "lon": lon, "lat": lat, "nodata": -9999.0, "bands": arr.shape[2],
    }])
    return spark.createDataFrame(pdf, schema=synth.IMAGE_SCHEMA)


def test_earth_sun_distance():
    # perihelion (~Jan 3) closest, aphelion (~Jul 4) farthest
    d_jan = calibrate.earth_sun_distance_au(3)
    d_jul = calibrate.earth_sun_distance_au(185)
    assert d_jan < 1.0 < d_jul
    assert abs(d_jan - 0.98328) < 1e-3


def test_calibrate_and_dos(spark):
    arr = np.full((16, 16, 3), 100, np.uint8)
    arr[0, 0, 0] = 10  # dark object
    df = _img_df(spark, arr)
    out = calibrate.calibrate(df, gains=[2.0, 0.5, 1.0], offsets=[1.0, 3.0, 0.0]).toPandas()
    img = codec.decode(bytes(out["bytes"][0]), "png")
    assert img[1, 1, 0] == 201 and img[1, 1, 1] == 53
    dos = calibrate.dos_values(df).toPandas()
    # lowest 5% of 256 px = 12 px -> mostly 100s with the single 10
    assert 0 < dos["dos"][0] <= 50.0
    sub = calibrate.dark_object_subtract(df, dos_ref=20.0, wavelengths=[480.0, 960.0],
                                         ref_wavelength=480.0).toPandas()
    img2 = codec.decode(bytes(sub["bytes"][0]), "png")
    assert img2[1, 1, 0] == 80            # full scatter at ref wavelength
    assert img2[1, 1, 1] == 100 - round(20 * (960 / 480) ** -4)  # rayleigh-scaled


def test_min_dos_over_images(spark):
    a = np.full((16, 16, 1), 200, np.uint8)
    b = np.full((16, 16, 1), 40, np.uint8)
    df = _img_df(spark, a, "a").unionByName(_img_df(spark, b, "b"))
    assert calibrate.min_dos(df) == 20.0  # min over ALL images (not first)


def test_smooth_normalized_convolution(spark):
    arr = np.zeros((21, 21, 1), np.uint8)
    arr[10, 10] = 255
    out = ops.smooth(_img_df(spark, arr), sigma=2.0).toPandas()
    img = codec.decode(bytes(out["bytes"][0]), "png").astype(float)
    assert img[10, 10, 0] < 40          # peak spread out
    assert img[10, 12, 0] > 0           # mass moved outward
    # uniform image stays uniform (kernel normalization + edge handling)
    flat = np.full((16, 16, 1), 77, np.uint8)
    out2 = ops.smooth(_img_df(spark, flat), sigma=1.5).toPandas()
    img2 = codec.decode(bytes(out2["bytes"][0]), "png")
    assert (img2 == 77).all()


def test_clip_to_polygon(spark):
    arr = np.full((32, 32, 1), 200, np.uint8)
    # polygon covering the WEST half of the footprint
    half = wkb_mod.bbox_to_wkb(0.0, 0.0, 16 * RES_DEG, 32 * RES_DEG)
    out = ops.clip_to_polygon(_img_df(spark, arr, lon=0.0, lat=0.0), half, nodata_value=0).toPandas()
    img = codec.decode(bytes(out["bytes"][0]), "png")
    assert (img[:, :15] == 200).all()
    assert (img[:, 17:] == 0).all()


def test_clip_ring_and_coverage_fraction():
    sq = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    clipped = geom.clip_ring_to_rect(sq, (5, 5, 20, 20))
    assert np.isclose(abs(geom.ring_area(clipped)), 25.0)
    assert np.isclose(geom.coverage_fraction([sq], (5, 5, 20, 20)), 0.25)
    assert geom.coverage_fraction([sq], (50, 50, 60, 60)) == 0.0
    assert np.isclose(geom.coverage_fraction([sq], (-5, -5, 15, 15)), 1.0)
    # with a hole
    hole = np.array([[2.0, 2], [4, 2], [4, 4], [2, 4], [2, 2]])
    frac = geom.coverage_fraction([sq, hole], (0, 0, 5, 5))
    assert np.isclose(frac, (25.0 - 4.0) / 96.0)


def test_coverage_join_matches_bruteforce(spark, no_broadcast):
    rng = np.random.default_rng(21)
    fps = []
    for i in range(30):
        x0, y0 = rng.uniform(-50, 30), rng.uniform(-30, 20)
        fps.append((f"img{i:02d}", bytearray(wkb_mod.bbox_to_wkb(x0, y0, x0 + rng.uniform(2, 10), y0 + rng.uniform(2, 8)))))
    fp_df = spark.createDataFrame(pd.DataFrame(fps, columns=["image_id", "wkb"]))
    rects = pd.DataFrame(
        {"aoi_id": ["r1", "r2"], "x_min": [-20.0, 0.0], "y_min": [-10.0, -5.0],
         "x_max": [10.0, 25.0], "y_max": [10.0, 15.0]}
    )
    out = coverage_join.coverage_join(fp_df, spark.createDataFrame(rects), z=6).toPandas()
    got = {(r["image_id"], r["aoi_id"]): r["coverage"] for _, r in out.iterrows()}
    for fid, buf in fps:
        polys = wkb_mod.from_wkb(bytes(buf))
        for _, rr in rects.iterrows():
            bb = (rr["x_min"], rr["y_min"], rr["x_max"], rr["y_max"])
            want = geom.coverage_fraction(polys[0], bb)
            if want > 0:
                assert np.isclose(got[(fid, rr["aoi_id"])], want, rtol=1e-9), (fid, rr["aoi_id"])
            else:
                assert (fid, rr["aoi_id"]) not in got
    # round-4 ADVICE safety valve: when the candidates exceed the broadcast
    # bound, the re-join falls back to a shuffle join — same rows
    with no_broadcast():
        out2 = coverage_join.coverage_join(
            fp_df, spark.createDataFrame(rects), z=6
        ).toPandas()
    got2 = {(r["image_id"], r["aoi_id"]): r["coverage"] for _, r in out2.iterrows()}
    assert got2 == got


def test_idempotent_ingest(spark, tmp_path):
    sink = str(tmp_path / "sink")
    df1 = spark.range(5).select(F.col("id").alias("image_id"), (F.col("id") * 2).alias("v"))
    rec1 = ingest.idempotent_ingest(df1, sink, stage="batch1")
    assert rec1["rows"] == 5
    # overlapping second batch: only new keys land
    df2 = spark.range(3, 9).select(F.col("id").alias("image_id"), (F.col("id") * 2).alias("v"))
    rec2 = ingest.idempotent_ingest(df2, sink, stage="batch2")
    assert rec2["rows"] == 4
    assert snaptable.read_snapshot(spark, sink).count() == 9
    # fully-duplicate batch is a no-op
    assert ingest.idempotent_ingest(df1, sink, stage="batch3") is None
