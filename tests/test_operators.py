"""Spark operator tests vs brute-force numpy oracles (FIXTURES.md
invariants 1-3): PIP join, kNN neighbor sets, grid aggregation, overlap
pairs — all on the deterministic synthetic image + AOI tables."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_scripts_spark.geom import core, wkb
from gis_scripts_spark.index import cells
from gis_scripts_spark.operators import grid_agg, knn, overlap_join, pip_join
from gis_scripts_spark.sources import synth

N_IMAGES = 150


@pytest.fixture(scope="module")
def images_pdf():
    return pd.DataFrame([synth.make_image_row(i) for i in range(N_IMAGES)])


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    df = synth.images_df(spark, N_IMAGES, parts=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def aoi_pdf():
    return synth.aoi_polygons()


def test_images_df_matches_local_generation(images, images_pdf):
    got = images.select("image_id", "phash", "lon", "lat", "fmt").toPandas()
    got = got.sort_values("image_id").reset_index(drop=True)
    want = images_pdf[["image_id", "phash", "lon", "lat", "fmt"]].sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_pip_join_matches_bruteforce(spark, images, images_pdf, aoi_pdf):
    polys_df = spark.createDataFrame(aoi_pdf)
    got = pip_join.pip_join(images, polys_df, z=7).select("image_id", "poly_id").toPandas()
    got_set = set(map(tuple, got.itertuples(index=False)))

    want = set()
    px = images_pdf["lon"].to_numpy()
    py = images_pdf["lat"].to_numpy()
    for _, prow in aoi_pdf.iterrows():
        polys = wkb.from_wkb(bytes(prow["wkb"]))
        inside = core.points_in_multipolygon(px, py, polys)
        for img_id in images_pdf.loc[inside, "image_id"]:
            want.add((img_id, prow["poly_id"]))
    assert got_set == want
    assert len(got) == len(got_set)  # no duplicate pairs


def test_pip_join_shuffle_variant_same_result(spark, no_broadcast, images, aoi_pdf):
    polys_df = spark.createDataFrame(aoi_pdf)
    a = pip_join.pip_join(images, polys_df, z=7)
    sa = set(map(tuple, a.select("image_id", "poly_id").collect()))
    with no_broadcast():
        b = pip_join.pip_join(images, polys_df, z=7)
        sb = set(map(tuple, b.select("image_id", "poly_id").collect()))
    assert sa == sb


def test_pip_join_salted_same_result(spark, images, aoi_pdf):
    polys_df = spark.createDataFrame(aoi_pdf)
    plain = pip_join.pip_join(images, polys_df, z=7)
    # salt the hot-spot cells (hotspot 0 is covered by aoi_hot)
    hot = [int(cells.cell(np.array([synth.HOTSPOTS[0][0]]), np.array([synth.HOTSPOTS[0][1]]), 7)[0])]
    salted = pip_join.pip_join(images, polys_df, z=7, salt=4, hot_cells=hot)
    sa = set(map(tuple, plain.select("image_id", "poly_id").collect()))
    sb = set(map(tuple, salted.select("image_id", "poly_id").collect()))
    assert sa == sb


def test_knn_matches_bruteforce_haversine(spark, images, images_pdf):
    k = 5
    got = knn.knn_join(
        images, images, k=k, z=5, point_id="image_id", query_id="image_id",
        metric="haversine", exclude_self=True,
    ).toPandas()
    ids = images_pdf["image_id"].to_numpy()
    lon = images_pdf["lon"].to_numpy()
    lat = images_pdf["lat"].to_numpy()
    for qi in range(0, N_IMAGES, 17):
        d = knn._haversine(lon[qi], lat[qi], lon, lat)
        d[qi] = np.inf
        order = np.lexsort((ids, d))[:k]
        want = [ids[o] for o in order]
        sub = got[got["query_id"] == ids[qi]].sort_values("rank")
        assert sub["neighbor_id"].tolist() == want, f"query {ids[qi]}"
    # every query resolved exactly once with k rows
    counts = got.groupby("query_id").size()
    assert (counts == k).all() and len(counts) == N_IMAGES


def test_grid_agg_matches_numpy(spark, images, images_pdf):
    z = 4
    out = grid_agg.grid_aggregate(
        images.withColumn("val", F.col("w").cast("double")), value="val",
        entity="fmt", z=z,
    ).toPandas().sort_values("cell").reset_index(drop=True)

    pdf = images_pdf.copy()
    pdf["cell"] = cells.cell(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), z)
    lvl1 = pdf.groupby(["cell", "fmt"]).agg(n=("w", "size"), s=("w", "sum"), m=("w", "mean")).reset_index()
    lvl2 = lvl1.groupby("cell").agg(
        n_rows=("n", "sum"), sum_value=("s", "sum"), n_entities=("fmt", "size"), mean_of_means=("m", "mean")
    ).reset_index()
    lvl2["mean_value"] = lvl2["sum_value"] / lvl2["n_rows"]
    lvl2 = lvl2.sort_values("cell").reset_index(drop=True)
    assert out["cell"].tolist() == lvl2["cell"].tolist()
    assert np.allclose(out["sum_value"], lvl2["sum_value"], rtol=1e-9)
    assert np.allclose(out["mean_of_means"], lvl2["mean_of_means"], rtol=1e-9)
    assert out["n_rows"].tolist() == lvl2["n_rows"].tolist()
    assert out["n_entities"].tolist() == lvl2["n_entities"].tolist()


def test_overlap_join_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    n = 80
    x0 = rng.uniform(-150, 120, n)
    y0 = rng.uniform(-50, 30, n)
    x1 = x0 + rng.uniform(1, 25, n)
    y1 = y0 + rng.uniform(1, 12, n)
    pdf = pd.DataFrame({"id": [f"b{i:03d}" for i in range(n)], "x_min": x0, "y_min": y0, "x_max": x1, "y_max": y1})
    df = spark.createDataFrame(pdf)
    got = overlap_join.bbox_overlap_join(df, z=6).select("id_i", "id_j").toPandas()
    got_set = set(map(tuple, got.itertuples(index=False)))
    want = set()
    for i in range(n):
        for j in range(i + 1, n):
            if x0[i] < x1[j] and x1[i] > x0[j] and y0[i] < y1[j] and y1[i] > y0[j]:
                want.add((f"b{i:03d}", f"b{j:03d}"))
    assert got_set == want
    assert len(got) == len(got_set)  # report-once: no duplicates
