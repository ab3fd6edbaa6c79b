"""Measured hot-cell detection + salted PIP join equivalence on the
skewed synthetic table (20% of rows in 3 hot-spot clusters)."""

import numpy as np

from gis_scripts_spark.index import cells
from gis_scripts_spark.operators import pip_join
from gis_scripts_spark.sources import synth


def test_measure_hot_cells_finds_hotspots(spark):
    df = synth.images_df(spark, 600, parts=4).select("image_id", "lon", "lat")
    hot = pip_join.measure_hot_cells(df, z=7, skew_factor=8.0)
    assert len(hot) >= 1
    # every detected hot cell is one of the seeded hot-spot cluster cells
    spot_cells = {
        int(cells.cell(np.array([cx]), np.array([cy]), 7)[0])
        for cx, cy, _ in synth.HOTSPOTS
    }
    ring = set()
    for c in spot_cells:
        ring |= set(cells.disk(c, 1).tolist())
    assert set(hot) <= ring, (hot, ring)


def test_salted_join_equals_plain(spark, no_broadcast):
    """Salting is a shuffle-regime device: the salted shuffle join returns
    the broadcast-regime lookup's rows."""
    df = synth.images_df(spark, 400, parts=4).select("image_id", "lon", "lat")
    polys = synth.aoi_polygons_df(spark)
    hot = pip_join.measure_hot_cells(df, z=7, skew_factor=6.0)
    assert hot
    plain = pip_join.pip_join(df, polys, z=7).select("image_id", "poly_id")
    want = sorted(map(tuple, plain.collect()))
    with no_broadcast():
        salted = pip_join.pip_join(df, polys, z=7, salt=8, hot_cells=hot).select(
            "image_id", "poly_id"
        )
        plan = salted._jdf.queryExecution().executedPlan().toString()
        got = sorted(map(tuple, salted.collect()))
    assert "_salt" in plan, plan
    assert want and got == want


def test_auto_zoom_picks_sane_resolution(spark):
    polys = synth.aoi_polygons_df(spark)
    z = pip_join.auto_zoom(polys)
    assert 4 <= z <= 10
    # auto mode produces the same pairs as a fixed reasonable zoom
    df = synth.images_df(spark, 200, parts=2).select("image_id", "lon", "lat")
    a = pip_join.pip_join(df, polys, z="auto").select("image_id", "poly_id")
    b = pip_join.pip_join(df, polys, z=7).select("image_id", "poly_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pip_join_salt_auto(spark, no_broadcast):
    """salt="auto" in the shuffle regime: hot cells are measured and the
    salted join's rows are identical to the broadcast-regime lookup's; a
    uniform table measures no hot cells and runs unsalted (salt resolves
    to None — no _salt machinery)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from gis_scripts_spark.geom import wkb as wkb_mod
    from gis_scripts_spark.operators import pip_join

    # one hot spot at (10.1, 10.1) + uniform spread
    n = 20_000
    i = np.arange(n)
    hot = i % 2 == 0
    lon = np.where(hot, 10.1 + (i % 7) * 1e-4, -170.0 + (i * 37 % 3300) / 10.0)
    lat = np.where(hot, 10.1 + (i % 5) * 1e-4, -80.0 + (i * 53 % 1600) / 10.0)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": i, "lon": lon, "lat": lat}))
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": ["hotbox", "coldbox"],
        "wkb": [bytearray(wkb_mod.bbox_to_wkb(10.0, 10.0, 10.2, 10.2)),
                bytearray(wkb_mod.bbox_to_wkb(-60.0, -60.0, -50.0, -50.0))],
    }))
    cold = pts.filter(F.col("lon") < 0)
    plain = sorted(map(tuple, pip_join.pip_join(pts, polys, z=7).collect()))
    plain_cold = sorted(map(tuple, pip_join.pip_join(cold, polys, z=7).collect()))
    assert pip_join.measure_hot_cells(cold, z=7, skew_factor=1e9) == []
    with no_broadcast():
        auto = pip_join.pip_join(pts, polys, z=7, salt="auto")
        assert "_salt" in auto._jdf.queryExecution().executedPlan().toString()
        auto = sorted(map(tuple, auto.collect()))
        no_hot = pip_join.pip_join(cold, polys, z=7, salt="auto")
        no_hot_plan = no_hot._jdf.queryExecution().executedPlan().toString()
        no_hot = sorted(map(tuple, no_hot.collect()))
    assert auto == plain and len(plain) > 0
    assert no_hot == plain_cold and "_salt" not in no_hot_plan


def test_pip_join_salt_auto_skips_detection_for_a_broadcast_layer(spark):
    """A broadcast-regime layer is looked up, not joined, so it has nothing
    to salt: salt="auto" runs no hot-cell groupBy, only the jobs of the
    plain call."""
    from gis_scripts_spark import taskmetrics

    sc = spark.sparkContext
    df = synth.images_df(spark, 400, parts=4).select("image_id", "lon", "lat")
    polys = synth.aoi_polygons_df(spark)
    assert pip_join.measure_hot_cells(df, z=7, skew_factor=8.0)
    pip_join.pip_join(df, polys, z=7)  # caches the layer's cover
    rows, jobs = {}, {}
    for salt in (None, "auto"):
        tag = f"salt-auto-jobs:{salt}"
        with taskmetrics.label(sc, tag):
            rows[salt] = sorted(map(tuple, pip_join.pip_join(df, polys, z=7, salt=salt).collect()))
        jobs[salt] = len(taskmetrics.jobs(sc, tag))
    assert rows["auto"] == rows[None] and rows[None]
    assert jobs["auto"] == jobs[None], jobs
