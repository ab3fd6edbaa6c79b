"""The cell, tile and band keys are SQL text, one `F.expr` per key: the
SQL against its numpy twin, the literal types it analyzes to, and the
number of Py4J round trips the flagship operator costs to build."""

import gc
import threading
import warnings

import numpy as np
import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from gis_scripts_spark.index import cells, tiles
from gis_scripts_spark.operators import dedup, pip_join, tile_assign
from gis_scripts_spark.sources import synth

ZOOMS = [0, 1, 7, 12, 28]


def _points(z: int) -> pd.DataFrame:
    """Cell edges at zoom z, the ±180/±90 borders and beyond, the Web
    Mercator latitude limit and either side of it, and 100k random points."""
    w, h = cells.cell_size_deg(z)
    k = np.unique(np.linspace(0, (1 << z), 65).astype(np.int64))
    edge_lon = -180.0 + w * k
    edge_lat = 90.0 - h * k
    lim = tiles.WEBMERC_LAT_MAX
    border_lon = [-1e6, -200.0, -180.0, -179.999999, 0.0, 179.999999, 180.0, 200.0, 1e6]
    border_lat = [-1e6, -100.0, -90.0, -lim - 1e-9, -lim, -lim + 1e-9, 0.0,
                  lim - 1e-9, lim, lim + 1e-9, 90.0, 100.0, 1e6]
    rng = np.random.default_rng(1000 + z)
    lon = np.concatenate([
        edge_lon, edge_lon, np.repeat(border_lon, len(border_lat)), rng.uniform(-200, 200, 100_000)
    ])
    lat = np.concatenate([
        edge_lat, edge_lat[::-1], np.tile(border_lat, len(border_lon)), rng.uniform(-100, 100, 100_000)
    ])
    return pd.DataFrame({"lon": lon, "lat": lat})


@pytest.mark.parametrize("z", ZOOMS)
def test_sql_keys_match_numpy(spark, z):
    pdf = _points(z)
    df = spark.createDataFrame(pdf).withColumn("_k", F.monotonically_increasing_id())
    gx, gy = cells.grid_xy_sql("lon", "lat", z)
    first, second = tiles.tile_sql("lon", "lat", z)
    keys = {"gx": gx, "gy": gy, "cell": cells.cell_sql("lon", "lat", z), **first}
    out = df.withColumns(cells.exprs(keys)).withColumns(cells.exprs({
        **second,
        "cgx": cells.cell_gx_sql("cell"),
        "cgy": cells.cell_gy_sql("cell"),
        "prefix": cells.cell_prefix_sql("cell", z, z // 2),
    }))
    got = out.orderBy("_k").toPandas()
    lon, lat = got["lon"].to_numpy(), got["lat"].to_numpy()

    want_gx, want_gy = cells.grid_xy(lon, lat, z)
    assert np.array_equal(got["gx"], want_gx)
    assert np.array_equal(got["gy"], want_gy)
    want_cell = cells.cell(lon, lat, z)
    assert np.array_equal(got["cell"], want_cell)
    assert np.array_equal(got["cgx"], want_gx) and np.array_equal(got["cgy"], want_gy)
    assert np.array_equal(got["prefix"], cells.cell_prefix(want_cell, z // 2))

    tx, ty = tiles.tile_xy(lon, lat, z)
    assert (got["tile_z"] == z).all()
    assert np.array_equal(got["tile_x"], tx)
    assert np.array_equal(got["tile_y"], ty)
    assert np.array_equal(got["tile_id"], tiles.tile_id(tx, ty, z))
    assert got["quadkey"].tolist() == tiles.quadkey(tx, ty, z).tolist()
    if z == 0:
        assert set(got["quadkey"]) == {""}


def test_key_inputs_are_sql_text_or_column_references(spark):
    df = spark.createDataFrame([(10.0, 20.0)], "lon double, lat double")
    by_name = df.select(cells.cell_col("lon", "lat", 6)).first()[0]
    assert df.select(cells.cell_col(F.col("lon"), F.col("lat"), 6)).first()[0] == by_name
    assert by_name == int(cells.cell(np.array([10.0]), np.array([20.0]), 6)[0])
    with pytest.raises(ValueError, match="column reference"):
        cells.cell_col(F.col("lon") + 1.0, "lat", 6)


def _analyzed_json(df) -> str:
    return df._jdf.queryExecution().analyzed().toJSON()


def test_key_plans_have_no_decimal_literal(spark):
    """Spark SQL reads a bare `180.0` as DECIMAL(4,1); every double in
    the key SQL carries the `D` suffix, so no DecimalType is analyzed."""
    assert "decimal" in _analyzed_json(spark.range(1).select(F.expr("id + 180.0")))
    pts = spark.range(100).select(
        F.col("id"), (F.col("id") * 3.3 - 170.0).alias("lon"), (F.col("id") * 1.7 - 85.0).alias("lat")
    )
    tiled = tile_assign.assign_tiles(pts, grid_z=7, tile_z=12, s2_level=12, hex_res=7)
    hashes = spark.range(50).select(F.col("id").alias("iid"), (F.col("id") * 2654435761).alias("h"))
    for df in (
        tiled,
        pip_join.pip_join(tiled, synth.aoi_polygons_df(spark), z=7),
        dedup.hamming_neardup_pairs(hashes, "h", "iid", max_hamming=10),
    ):
        assert "decimal" not in _analyzed_json(df).lower()


def test_hamming_max_hamming_zero_pairs_exact_duplicates(spark):
    """max_hamming=0 is one 64-bit band, whose all-ones mask must stay a
    bigint (as an unsigned literal it analyzes to DECIMAL(20,0))."""
    df = spark.createDataFrame(
        [(0, -5), (1, -5), (2, 7), (3, 7), (4, 8), (5, -(1 << 63))], "iid long, h long"
    )
    got = dedup.hamming_neardup_pairs(df, "h", "iid", max_hamming=0).collect()
    assert sorted(tuple(r) for r in got) == [(0, 1, 0), (2, 3, 0)]


# measured: 114 round trips to build this assign_tiles; a chain of
# Column operators per key costs several hundred
_ASSIGN_TILES_ROUND_TRIPS = 114


def test_assign_tiles_builds_in_few_round_trips(spark, monkeypatch):
    pts = spark.range(10).select((F.col("id") * 1.0).alias("lon"), (F.col("id") * 0.5).alias("lat"))
    sent = []
    send = ClientServerConnection.send_command
    this_thread = threading.get_ident()

    def counting(self, command):
        # py4j's finalizer thread sends the deletes of collected JavaObjects
        # (earlier tests' garbage among them) while the count runs: only
        # this thread's commands build assign_tiles
        if threading.get_ident() == this_thread:
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    gc.collect()
    gc.disable()  # no JavaObject finalizer sends a delete mid-count
    try:
        tile_assign.assign_tiles(pts, grid_z=7, tile_z=12, s2_level=12, hex_res=7)
    finally:
        gc.enable()
    assert 0 < len(sent) <= 2 * _ASSIGN_TILES_ROUND_TRIPS, len(sent)


def test_apply_in_pandas_infers_eval_type_without_warning(spark):
    """mosaic, joint pair stats and band assembly type their group
    functions' `key`, so PySpark infers the eval type silently."""
    from gis_scripts_spark.operators import mosaic
    from gis_scripts_spark.raster import bands, match

    images = synth.images_df(spark, 4)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        mosaic.mosaic_composite(images)
        match.overlap_pair_stats_joint(images)
        bands.assemble_bands(bands.split_bands(images))
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
