"""One cell cover per shape: the Column box cover against its numpy twin,
and the shared WKB polygon cover on NULL input."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType, StructField, StructType

from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.index import cells
from gis_scripts_spark.operators import coverage_join, pip_join
from gis_scripts_spark.sources import synth


def _edge_boxes(z: int) -> list[tuple[float, float, float, float]]:
    w, h = cells.cell_size_deg(z)
    gx = (-180.0 + w * np.arange(0, 1 << z, max(1, (1 << z) // 8))).tolist()
    gy = (-90.0 + h * np.arange(0, 1 << z, max(1, (1 << z) // 8))).tolist()
    boxes = [
        (-180.0, -90.0, 180.0, 90.0),  # the whole world
        (-250.0, -120.0, 250.0, 120.0),  # beyond ±180/±90 on every side
        (185.0, 95.0, 200.0, 100.0),  # entirely off the grid
        (-200.0, -100.0, -190.0, -95.0),
        (5.0, 5.0, 5.0, 5.0),  # degenerate: a point
        (5.0, 5.0, 40.0, 5.0),  # degenerate: a horizontal line
        (5.0, 5.0, 5.0, 40.0),  # degenerate: a vertical line
        (5.0, 5.0, 4.0, 6.0),  # inverted inside one column
        (40.0, 10.0, -40.0, 20.0),  # inverted across columns
        (10.0, 30.0, 20.0, -30.0),  # inverted across rows
        (40.0, 30.0, -40.0, -30.0),  # inverted on both axes
        (180.0, 90.0, 180.0, 90.0),  # the far corner
    ]
    for x in gx:  # boxes whose edges sit on cell edges
        for y in gy:
            boxes.append((x, y, x + w, y + h))
            boxes.append((x, y, x + 3 * w, y))
            boxes.append((x - w, y - h, x, y))
    return boxes


def _random_boxes(z: int, n: int, seed: int) -> list[tuple[float, float, float, float]]:
    rng = np.random.default_rng(seed)
    span = min(60.0, 4000.0 / (1 << z))
    x0 = rng.uniform(-200, 200, n)
    y0 = rng.uniform(-100, 100, n)
    x1 = x0 + rng.uniform(-0.2, 1.0, n) * span
    y1 = y0 + rng.uniform(-0.2, 1.0, n) * span
    return list(zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist()))


@pytest.mark.parametrize("z", [2, 6, 9])
def test_cover_bbox_col_matches_numpy(spark, z):
    boxes = _edge_boxes(z) + _random_boxes(z, 2000, seed=z)
    schema = StructType([StructField(c, DoubleType(), False) for c in ("x0", "y0", "x1", "y1")])
    df = spark.createDataFrame(boxes, schema).withColumn("_k", F.monotonically_increasing_id())
    got = df.select(
        "_k", "x0", "y0", "x1", "y1",
        cells.cover_bbox_col(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), z).alias("cover"),
    ).orderBy("_k").collect()
    assert len(got) == len(boxes)
    for r in got:
        want = cells.cover_bbox(r["x0"], r["y0"], r["x1"], r["y1"], z).tolist()
        assert r["cover"] == want, (z, r["x0"], r["y0"], r["x1"], r["y1"])


def _aoi_with_null():
    schema = StructType([
        StructField("poly_id", StringType(), False),
        StructField("wkb", BinaryType(), True),
        StructField("class_name", StringType(), True),
    ])
    rows = [tuple(r) for r in synth.aoi_polygons().itertuples(index=False)]
    return rows, rows + [("aoi_null", None, "null")], schema


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_join_null_wkb_covers_nothing(spark, no_broadcast, broadcast):
    """A polygon with a NULL WKB matches no point; the rest join as if it
    were absent. A layer holding only a NULL WKB matches nothing, and on
    the broadcast path its empty cover is built on the driver: no
    MapInPandas re-runs the distributed cover."""
    rows, rows_null, schema = _aoi_with_null()
    pts = synth.images_df(spark, 150, parts=4).select("image_id", "lon", "lat")
    with contextlib.nullcontext() if broadcast else no_broadcast():
        got = pip_join.pip_join(
            pts, spark.createDataFrame(rows_null, schema), z=7
        ).select("image_id", "poly_id").collect()
        want = pip_join.pip_join(
            pts, spark.createDataFrame(rows, schema), z=7
        ).select("image_id", "poly_id").collect()
        # points without a Python node of their own
        local = spark.createDataFrame(pts.collect(), pts.schema)
        nothing = pip_join.pip_join(local, spark.createDataFrame(rows_null[-1:], schema), z=7)
        plan = nothing._jdf.queryExecution().executedPlan().toString()
        assert nothing.count() == 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert want
    assert ("MapInPandas" in plan) is not broadcast, plan


def test_pip_join_cover_keeps_id_nullability(spark):
    _, rows_null, schema = _aoi_with_null()
    cover = pip_join.build_cover_df(spark, spark.createDataFrame(rows_null, schema), z=5)
    assert cover.schema["poly_id"].nullable is False
    nullable = StructType([StructField("poly_id", StringType(), True), *schema.fields[1:]])
    cover = pip_join.build_cover_df(spark, spark.createDataFrame(rows_null, nullable), z=5)
    assert cover.schema["poly_id"].nullable is True


def test_coverage_join_null_wkb_footprint(spark):
    fps = [
        (f"img{i}", bytearray(wkb_mod.bbox_to_wkb(4.0 * i - 16, -2, 4.0 * i - 12, 2)))
        for i in range(8)
    ]
    schema = StructType([
        StructField("image_id", StringType(), False),
        StructField("wkb", BinaryType(), True),
    ])
    rects = spark.createDataFrame(pd.DataFrame({
        "aoi_id": ["a0"], "x_min": [-10.0], "y_min": [-10.0], "x_max": [10.0], "y_max": [10.0]}))
    got = coverage_join.coverage_join(
        spark.createDataFrame(fps + [("img_null", None)], schema), rects, z=5
    ).collect()
    want = coverage_join.coverage_join(spark.createDataFrame(fps, schema), rects, z=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) == 6


def test_auto_zoom_skips_null_wkb(spark):
    rows, rows_null, schema = _aoi_with_null()
    assert pip_join.auto_zoom(spark.createDataFrame(rows_null, schema)) == pip_join.auto_zoom(
        spark.createDataFrame(rows, schema)
    )


def _layer_jobs(spark, tag, fn):
    from gis_scripts_spark import taskmetrics

    with taskmetrics.label(spark.sparkContext, tag):
        out = fn()
    return len(taskmetrics.jobs(spark.sparkContext, tag)), out


def test_pip_join_cached_layer_runs_only_its_aggregate(spark, tmp_path, monkeypatch):
    """A second call on the same layer reuses the cached cover and decoded
    polygons: it runs the one stats aggregate (its map-stage and result
    jobs under AQE) and collects nothing. A one-byte WKB edit that keeps
    every length misses the cache."""
    monkeypatch.setattr(pip_join, "_COVER_CACHE", {})
    src = str(tmp_path / "aoi.parquet")
    spark.createDataFrame(synth.aoi_polygons()).write.parquet(src)
    polys = spark.read.parquet(src)
    pts = synth.images_df(spark, 150, parts=4).select("image_id", "lon", "lat")

    def call(layer):
        return pip_join.pip_join(pts, layer, z=7)

    stats_jobs, _ = _layer_jobs(spark, "cover-stats", lambda: polys.agg(
        F.sum(F.length("wkb")), F.count(F.lit(1)),
        F.sum(F.xxhash64("poly_id", "wkb").cast("decimal(20,0)")),
    ).first())
    miss_jobs, first = _layer_jobs(spark, "cover-miss", lambda: call(polys))
    hit_jobs, second = _layer_jobs(spark, "cover-hit", lambda: call(polys))
    assert len(pip_join._COVER_CACHE) == 1
    assert hit_jobs == stats_jobs
    assert miss_jobs == stats_jobs + 1  # the collect of the polygon rows
    want = sorted(map(tuple, first.select("image_id", "poly_id").collect()))
    assert want and sorted(map(tuple, second.select("image_id", "poly_id").collect())) == want

    # flip the low byte of the first x coordinate of one polygon: same
    # byte count, same row count, new content
    pdf = synth.aoi_polygons()
    buf = bytearray(pdf.at[0, "wkb"])
    buf[13] ^= 0x01
    pdf.at[0, "wkb"] = bytes(buf)
    edited_src = str(tmp_path / "aoi_edited.parquet")
    spark.createDataFrame(pdf).write.parquet(edited_src)
    edited = spark.read.parquet(edited_src)
    edit_jobs, _ = _layer_jobs(spark, "cover-edit", lambda: call(edited))
    assert edit_jobs == miss_jobs
    assert len(pip_join._COVER_CACHE) == 2
