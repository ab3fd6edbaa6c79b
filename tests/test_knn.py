"""kNN join on awkward inputs vs numpy brute force: an isolated outlier,
points at the antimeridian and the poles, and many-round runs whose plan
must not grow with every round."""

import numpy as np
import pandas as pd
import pytest

from gis_scripts_spark.operators import knn


def _brute(pdf, k, metric, exclude_self=True):
    """{query_id: [neighbor ids]} and {query_id: [dists]} by numpy, with the
    (dist, id) tie-break."""
    ids, lon, lat = pdf["pid"].to_numpy(), pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    nb, dist = {}, {}
    for qi in range(len(pdf)):
        if metric == "haversine":
            d = knn._haversine(lon[qi], lat[qi], lon, lat)
        else:
            d = (lon - lon[qi]) ** 2 + (lat - lat[qi]) ** 2
        if exclude_self:
            d[qi] = np.inf
        order = np.lexsort((ids, d))[:k]
        nb[ids[qi]] = ids[order].tolist()
        dist[ids[qi]] = d[order].tolist()
    return nb, dist


def _assert_matches(out, pdf, k, metric):
    nb, dist = _brute(pdf, k, metric)
    out = out.sort_values(["query_id", "rank"])
    got_nb = out.groupby("query_id")["neighbor_id"].apply(list).to_dict()
    got_d = out.groupby("query_id")["dist"].apply(list).to_dict()
    assert set(got_nb) == set(nb), "every query gets exactly its rows"
    bad = [q for q in nb if got_nb[q] != nb[q]]
    assert not bad, f"{len(bad)} queries differ, e.g. {bad[0]}: {got_nb[bad[0]]} vs {nb[bad[0]]}"
    for q in nb:
        np.testing.assert_allclose(got_d[q], dist[q], rtol=1e-9)
    assert all(r == list(range(1, k + 1)) for r in out.groupby("query_id")["rank"].apply(list))


def _frame(spark, xy):
    pdf = pd.DataFrame({"pid": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})
    return pdf, spark.createDataFrame(pdf)


def test_knn_haversine_isolated_outlier(spark):
    """A point alone in its cell group, whose only candidate is itself
    (exclude_self), still gets its nearest neighbor."""
    rng = np.random.default_rng(11)
    xy = np.vstack([rng.uniform([10.0, 5.0], [10.5, 5.5], size=(2000, 2)), [[-120.0, -40.0]]])
    pdf, df = _frame(spark, xy)
    out = knn.knn_join(
        df, df, k=1, z=6, point_id="pid", query_id="pid", metric="haversine", exclude_self=True
    ).toPandas()
    _assert_matches(out, pdf, 1, "haversine")


def test_knn_covers_grid_radius_probes_every_column(spark):
    """At the covers-grid radius every column is probed, however far the
    query sits from the grid's middle: query 0's nearest point lies 185°
    east, and a probe span of ±180° of columns would miss it."""
    pdf, df = _frame(spark, np.array([[-90.1, -85.0], [9.9, 85.0], [94.9, -85.0]]))
    out = knn.knn_join(df, df, k=1, z=2, point_id="pid", query_id="pid", exclude_self=True)
    _assert_matches(out.toPandas(), pdf, 1, "euclid2")


def _wrap_polar_points(seed=23):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(179.0, 180.0, 120) * rng.choice([-1.0, 1.0], 120)
    edge = np.column_stack([np.clip(lon, -180.0, 179.999999), rng.uniform(-60.0, 60.0, 120)])
    polar = np.column_stack(
        [rng.uniform(-180.0, 179.9, 80), rng.uniform(84.0, 89.9, 80) * rng.choice([-1.0, 1.0], 80)]
    )
    sparse = np.column_stack([rng.uniform(-180.0, 179.9, 100), rng.uniform(-80.0, 80.0, 100)])
    hot = rng.uniform([30.0, 10.0], [30.4, 10.4], size=(200, 2))
    return np.vstack([edge, polar, sparse, hot])


@pytest.mark.parametrize(
    "metric,z,initial_r",
    [("euclid2", 4, None), ("euclid2", 7, None), ("haversine", 4, None),
     ("haversine", 7, None), ("haversine", 4, 1)],
)
def test_knn_antimeridian_and_poles(spark, metric, z, initial_r):
    """Neighbors across the antimeridian and near the poles: haversine
    probes wrap in x and its resolve bound shrinks with latitude."""
    pdf, df = _frame(spark, _wrap_polar_points())
    out = knn.knn_join(
        df, df, k=4, z=z, point_id="pid", query_id="pid", metric=metric,
        exclude_self=True, initial_r=initial_r,
    ).toPandas()
    _assert_matches(out, pdf, 4, metric)


@pytest.mark.parametrize("metric", ["euclid2", "haversine"])
def test_knn_round_plans_do_not_compound(spark, metric):
    """Each round starts from its survivors' checkpoint, so the result's
    plan grows by one round's plan per round instead of re-embedding every
    earlier round (which grew ~4x per round and ran the driver out of heap
    by round 5)."""
    rng = np.random.default_rng(5)
    xy = np.vstack([
        rng.uniform([-100.5, 39.0], [-100.0, 39.5], size=(200, 2)),
        np.column_stack([rng.uniform(-180.0, 179.9, 300), rng.uniform(-85.0, 85.0, 300)]),
    ])
    pdf, df = _frame(spark, xy)
    tel: dict = {}
    out = knn.knn_join(
        df, df, k=4, z=7, point_id="pid", query_id="pid", metric=metric,
        exclude_self=True, initial_r=1, telemetry=tel,
    )
    rounds = len(tel["rounds"])
    assert rounds >= 5, tel["rounds"]
    plan_len = len(out._jdf.queryExecution().logical().toString())
    assert plan_len < 15_000 * rounds, (rounds, plan_len)
    _assert_matches(out.toPandas(), pdf, 4, metric)
