"""pip_join's two regimes on awkward inputs: the broadcast-regime closure
lookup and the shuffle-regime cell join return the same rows, and both
return every (point, polygon) pair a brute-force test finds."""

import numpy as np
import pyarrow as pa
import pytest
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

from gis_scripts_spark.geom import core as geom
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.operators import pip_join

Z = 7  # cells of 2.8125 x 1.40625 degrees


def _box(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)


# (id, polygons or None for a NULL WKB); id None is a NULL poly_id
_LAYER = [
    (1, [[_box(-30, -30, 30, 30)]]),                      # big: most of its cells are full
    (2, [[_box(0, 0, 45, 20)]]),                          # overlaps 1
    (3, [[np.array([[5, 5], [25, 5], [15, 18], [5, 5]], float)]]),  # inside 1 and 2
    (4, [[_box(60, -20, 100, 20), _box(70, -10, 90, 10)]]),  # with a hole
    (5, [[_box(-100, 40, -80, 60)], [_box(-60, 40, -40, 60)]]),  # multipolygon
    (6, [[_box(170, -90, 180, -80)]]),                    # lon 180, lat -90 corner
    (7, [[_box(-180, 80, -170, 90)]]),                    # lon -180, lat 90 corner
    (8, None),                                            # NULL WKB
    (None, [[_box(-10, -10, 10, 10)]]),                   # NULL id, overlaps 1-3
]

_ID_TYPES = {
    "int": (IntegerType(), lambda i: i),
    "bigint": (LongType(), lambda i: i + (1 << 40)),
    "string": (StringType(), lambda i: f"p{i}"),
}


def _points() -> list[tuple]:
    # every cell corner of the grid, ±180 and ±90 included
    gx, gy = np.meshgrid(np.linspace(-180, 180, (1 << Z) + 1), np.linspace(-90, 90, (1 << Z) + 1))
    rng = np.random.default_rng(7)
    xs = np.concatenate([gx.ravel(), rng.uniform(-180, 180, 3000), rng.uniform(-35, 50, 3000)])
    ys = np.concatenate([gy.ravel(), rng.uniform(-90, 90, 3000), rng.uniform(-35, 25, 3000)])
    pts = [(float(x), float(y)) for x, y in zip(xs, ys)]
    pts += [(None, 5.0), (5.0, None), (None, None), (float("nan"), 85.0), (175.0, float("nan"))]
    return [(i, x, y) for i, (x, y) in enumerate(pts)]


_PT_SCHEMA = StructType([
    StructField("point_id", LongType(), False),
    StructField("lon", DoubleType(), True),
    StructField("lat", DoubleType(), True),
])


def _brute_force(points, layer) -> set:
    """(point_id, poly_id) of every random point inside a polygon: the
    random points lie on no polygon edge, so containment is unambiguous."""
    n_grid = ((1 << Z) + 1) ** 2
    pts = [p for p in points[n_grid:] if p[1] is not None and p[2] is not None]
    ids = np.array([p[0] for p in pts])
    px = np.array([p[1] for p in pts])
    py = np.array([p[2] for p in pts])
    out = set()
    for pid, polys in layer:
        if polys is not None:
            out |= {(int(i), pid) for i in ids[geom.points_in_multipolygon(px, py, polys)]}
    return out


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select("point_id", "poly_id").collect()), key=repr)


@pytest.mark.parametrize("id_kind", list(_ID_TYPES))
def test_broadcast_and_shuffle_regimes_agree(spark, no_broadcast, id_kind):
    id_type, make_id = _ID_TYPES[id_kind]
    layer = [(None if i is None else make_id(i), polys) for i, polys in _LAYER]
    polys_df = spark.createDataFrame(
        [(pid, None if p is None else bytearray(wkb_mod.multipolygon_to_wkb(p))) for pid, p in layer],
        StructType([StructField("poly_id", id_type, True), StructField("wkb", BinaryType(), True)]),
    )
    points = _points()
    pts = spark.createDataFrame(points, _PT_SCHEMA).repartition(4)
    inputs = {
        "points": pts,
        "one partition": pts.coalesce(1),
        "empty": spark.createDataFrame([], _PT_SCHEMA),
    }
    for name, df in inputs.items():
        broadcast = _rows(pip_join.pip_join(df, polys_df, z=Z))
        with no_broadcast():
            shuffle = _rows(pip_join.pip_join(df, polys_df, z=Z))
        assert broadcast == shuffle, name
        if name != "empty":
            # every random point's containment, a point in 2 or more
            # polygons keeping one row per polygon; no NULL or NaN
            # coordinate matches
            got = set(broadcast)
            assert _brute_force(points, layer) <= got, name
            assert {pid for _, pid in got} == {pid for pid, p in layer if p is not None}
            bad = {i for i, x, y in points if x is None or y is None or np.isnan(x) or np.isnan(y)}
            assert not bad & {i for i, _ in got}
    assert broadcast == [] and shuffle == []


def test_pip_hits_takes_full_cells_without_a_test(spark):
    """A `full` cover cell is a hit without the exact test: a table that
    marks a cell full for a polygon far from it still matches there; the
    same cell not full is tested and misses."""
    cell = 12345
    far = [[_box(100, 50, 101, 51)]]
    pts = spark.createDataFrame([(0, 0.0, 0.0), (1, 0.5, 0.5)], _PT_SCHEMA)
    for full, want in ((True, [[7], [7]]), (False, [[], []])):
        table = (
            np.array([cell], np.int64), np.array([0], np.int64), np.array([full]), [7], [far],
        )
        hits = pip_join._pip_hits_udf(table, LongType())
        got = pts.select("point_id", hits(F.lit(cell).cast("bigint"), "lon", "lat").alias("h"))
        got = got.orderBy("point_id")
        assert [r.h for r in got.collect()] == want
    # NULL cells (NULL or NaN coordinates) hit nothing
    assert pip_join._pip_hits_udf(table, LongType()).func(
        pa.array([None], pa.int64()), pa.array([None], pa.float64()), pa.array([0.0])
    ).to_pylist() == [[]]
