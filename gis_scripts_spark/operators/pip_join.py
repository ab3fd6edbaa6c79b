"""Point-in-polygon join — the flagship operator (SURVEY.md §2.3 J6).

Replaces the reference's zonal containment (``Assess_Agreement.R:45-57``
``extract(raster, polygons)``) and polygon∩AOI coverage
(``seagrass_lib.py:185-192``) with the classic two-phase distributed PIP:

  1. COARSE: polygons are covered by grid cells (exact closed-form covering,
     ``geom.core.cover_polygon``), each cell flagged `full` when entirely
     inside the polygon; a NULL WKB covers no cell. ``build_cover_df`` is
     the engine's one WKB->cover path (coverage_join covers footprints with
     it). Points get the same cell key as one SQL expression.
     The join is then a cell equi-join — broadcast-hash when the layer's
     WKB bytes fit ``repart.fits_broadcast`` (AOI/admin layers),
     shuffle-hash otherwise.
  2. EXACT: boundary cells (`full = false`) run the exact ray-casting test
     inside an Arrow-batched pandas UDF; `full = true` cells skip it
     entirely (the dominant fraction for large polygons).

At 100 TB the only shuffled payload is (point key, lon, lat, cell) — never
image bytes; polygon WKB rides the broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from gis_scripts_spark.geom import core as geom
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.operators.repart import fits_broadcast

# (z, wkb bytes, rows, content fingerprint) -> (cover pandas frame, decoded
# polygons by id); static AOI layers cover once per process, not per query
_COVER_CACHE: dict = {}


def _cover_frame(ids, wkbs, z: int) -> pd.DataFrame:
    """(poly_id, cell, full) pandas frame covering each polygon's WKB at
    zoom z (``geom.core.cover_polygon``); a NULL WKB covers no cell."""
    out_ids, cs, fs = [], [], []
    for pid, buf in zip(ids, wkbs):
        if buf is None:
            continue
        cc, ff = geom.cover_polygon(wkb_mod.from_wkb(bytes(buf)), z)
        out_ids.extend([pid] * len(cc))
        cs.append(cc)
        fs.append(ff)
    return pd.DataFrame(
        {
            "poly_id": out_ids,
            "cell": np.concatenate(cs) if cs else np.empty(0, np.int64),
            "full": np.concatenate(fs) if fs else np.empty(0, bool),
        }
    )


def _cover_schema(polys_df: DataFrame, poly_id: str) -> StructType:
    """(poly_id, cell, full); the id keeps its input type and nullability."""
    id_field = polys_df.schema[poly_id]
    return StructType(
        [
            StructField("poly_id", id_field.dataType, id_field.nullable),
            StructField("cell", LongType(), False),
            StructField("full", BooleanType(), False),
        ]
    )


def build_cover_df(
    spark: SparkSession, polys_df: DataFrame, z: int, poly_id: str = "poly_id", wkb_col: str = "wkb"
) -> DataFrame:
    """(poly_id, cell, full) covering table.

    Computed distributed via mapInPandas (each polygon is independent), so
    a 10^7-row admin-polygon table covers in parallel; the result is small
    (cells per polygon ~ area / cell_area) and broadcast-joinable.
    """

    def gen(batches):
        for pdf in batches:
            yield _cover_frame(pdf[poly_id], pdf[wkb_col], z)

    return polys_df.select(poly_id, wkb_col).mapInPandas(gen, _cover_schema(polys_df, poly_id))


def _pip_check_udf(wkb_by_poly: dict):
    """Exact-containment pandas UDF over (poly_id, lon, lat) with the WKB
    dict captured in the closure (small AOI layers; the generic path carries
    a wkb column instead — see exact_check_with_wkb)."""

    @F.pandas_udf(BooleanType())
    def pip_check(poly_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(poly_id), dtype=bool)
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        # group rows by polygon so each polygon is decoded + tested once
        for pid, idx in pd.Series(range(len(poly_id))).groupby(poly_id.values).groups.items():
            polys = wkb_by_poly[pid]
            ii = np.asarray(idx)
            out[ii] = geom.points_in_multipolygon(px[ii], py[ii], polys)
        return pd.Series(out)

    return pip_check


@F.pandas_udf(BooleanType())
def exact_check_with_wkb(wkb_bytes: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Exact PIP with the polygon WKB carried as a column (shuffle variant —
    scales to polygon tables too large to closure-capture). Decodes each
    distinct WKB once per batch."""
    out = np.zeros(len(lon), dtype=bool)
    px = lon.to_numpy(np.float64)
    py = lat.to_numpy(np.float64)
    cache: dict[bytes, list] = {}
    codes, uniques = pd.factorize(wkb_bytes)
    for u_idx, buf in enumerate(uniques):
        key = bytes(buf)
        polys = cache.get(key)
        if polys is None:
            polys = cache[key] = wkb_mod.from_wkb(key)
        ii = np.nonzero(codes == u_idx)[0]
        out[ii] = geom.points_in_multipolygon(px[ii], py[ii], polys)
    return pd.Series(out)


def auto_zoom(polys_df: DataFrame, wkb_col: str = "wkb", target_cells: int = 64, sample_n: int = 256) -> int:
    """Pick the cover zoom from the polygon size distribution
    (SURVEY.md §4.2 "choose resolution by polygon size histogram"):
    median bbox area -> z such that a median polygon covers ~target_cells
    cells. Finer cells => more rows in the (broadcast) cover table but a
    larger full-cell fast-path fraction; ~64 cells/polygon balances both."""
    rows = polys_df.select(wkb_col).dropna().limit(sample_n).collect()
    areas = []
    for r in rows:
        polys = wkb_mod.from_wkb(bytes(r[0]))
        bb = geom.bbox_of_rings(polys[0])
        areas.append(max((bb[2] - bb[0]) * (bb[3] - bb[1]), 1e-12))
    med = float(np.median(areas)) if areas else 1.0
    # cell area at zoom z: (360/2^z)*(180/2^z); want med / cell_area ~= target
    cell_area = med / target_cells
    z = int(round(0.5 * np.log2(360.0 * 180.0 / cell_area)))
    return int(np.clip(z, 2, 16))


def pip_join(
    points_df: DataFrame,
    polys_df: DataFrame,
    z: int | str = 7,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    wkb_col: str = "wkb",
    salt: int | str | None = None,
    hot_cells: list[int] | None = None,
) -> DataFrame:
    """Inner join: rows of `points_df` × matching polygon; the polygon id
    column is NORMALIZED to 'poly_id' in the output whatever the input
    column was named.

    Regime: one aggregate job sums the layer's WKB bytes and counts and
    fingerprints its rows (no WKB reaches the driver). Within
    ``repart.fits_broadcast`` the cover is broadcast and the exact check
    reads the decoded polygons from its closure; both are cached per
    layer content and zoom, so only a cache miss collects the polygon
    rows. Past the bound the cover is built distributed and the WKB rides
    the shuffle-hash cell join.

    `salt` + `hot_cells`: replicate cover rows of hot cells `salt` ways and
    spread their points across replicas via a deterministic hash — the skew
    escape hatch when one cell dwarfs AQE's skew-join splitting
    (SURVEY.md §7.4). Measured guidance (BENCH/skew_salting.json):
    pick salt WELL ABOVE spark.sql.shuffle.partitions — salt buckets hash
    into reduce partitions like balls into bins, and 32 buckets over 64
    partitions left 2-3-bucket stragglers (p75 77 s) where salt=128 reached
    the machine's work-bound floor. Salting also covers the regime AQE
    cannot see: a hot partition UNDER the skew byte threshold whose
    pandas-UDF work makes it a CPU straggler (AQE detection is byte-based;
    measure_hot_cells counts rows).

    `salt="auto"`: measure the hot cells (one groupBy job) and, if any
    exist, size the salt at 4x spark.sql.shuffle.partitions per the
    measured grain rule; with no hot cells the join is unsalted (zero
    overhead beyond the detection job).
    """
    spark = points_df.sparkSession
    if z == "auto":
        z = auto_zoom(polys_df, wkb_col)
    if salt == "auto":
        if hot_cells is None:
            hot_cells = measure_hot_cells(points_df, z=z, lon=lon, lat=lat)
        salt = (
            4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
            if hot_cells else None
        )

    # one job: the byte sum picks the regime, and (bytes, rows, content
    # fingerprint) keys the cover cache, so a cached layer collects nothing
    stats = polys_df.agg(
        F.sum(F.length(F.col(wkb_col))),
        F.count(F.lit(1)),
        F.sum(F.xxhash64(F.col(poly_id), F.col(wkb_col)).cast("decimal(20,0)")),
    ).first()
    wkb_bytes = stats[0] or 0
    cached = None
    if fits_broadcast(spark, "pip_join.cover", wkb_bytes):
        # the AOI layer is static dimension data: build its cover and decode
        # its polygons ONCE per (polygon content, z) and reuse them across
        # queries — the analogue of a prepared dimension index
        key = (z, wkb_bytes, stats[1], stats[2])
        cached = _COVER_CACHE.get(key)
        if cached is None:
            rows = polys_df.select(poly_id, wkb_col).collect()
            cached = (
                _cover_frame([r[0] for r in rows], [r[1] for r in rows], z),
                {r[0]: wkb_mod.from_wkb(bytes(r[1])) for r in rows if r[1] is not None},
            )
            if len(_COVER_CACHE) > 32:
                _COVER_CACHE.clear()
            _COVER_CACHE[key] = cached
        cover = spark.createDataFrame(cached[0], _cover_schema(polys_df, poly_id))
    else:
        cover = build_cover_df(spark, polys_df, z, poly_id, wkb_col)

    pts = points_df.withColumn("cell", cell_expr(lon, lat, z))

    if salt and hot_cells:
        hot = set(int(c) for c in hot_cells)
        hot_lit = F.array(*[F.lit(c) for c in sorted(hot)])
        # single-partition + explicit broadcast: the salt dim is tiny, and
        # without the hint a disabled/exceeded broadcast threshold turns the
        # cross join into a CartesianProduct that re-runs the whole cover
        # lineage once per (cover partition x salt partition) pair
        salt_df = spark.range(0, salt, 1, 1).select(F.col("id").cast("int").alias("_salt"))
        cover_hot = cover.filter(F.array_contains(hot_lit, F.col("cell"))).crossJoin(
            F.broadcast(salt_df)
        )
        cover_cold = cover.filter(~F.array_contains(hot_lit, F.col("cell"))).withColumn(
            "_salt", F.lit(-1).cast("int")
        )
        cover = cover_hot.unionByName(cover_cold)
        pts = pts.withColumn(
            "_salt",
            F.when(
                F.array_contains(hot_lit, F.col("cell")),
                F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt)).cast("int"),
            ).otherwise(F.lit(-1).cast("int")),
        )
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    if cached is not None:
        # small-dim broadcast: the decoded polygons feed the exact-check
        # closure
        joined = pts.join(F.broadcast(cover), join_keys, "inner")
        check = _pip_check_udf(cached[1])
        joined = joined.filter(
            F.col("full") | check(F.col("poly_id"), F.col(lon), F.col(lat))
        )
    else:
        # cover normalizes the id column name to 'poly_id'; alias the source
        # table to match so custom poly_id column names join correctly
        wkb_side = polys_df.select(F.col(poly_id).alias("poly_id"), F.col(wkb_col))
        cover = cover.join(wkb_side, "poly_id")
        joined = pts.join(cover, join_keys, "inner")
        joined = joined.filter(
            F.col("full") | exact_check_with_wkb(F.col(wkb_col), F.col(lon), F.col(lat))
        ).drop(wkb_col)

    drop = ["cell", "full"] + (["_salt"] if salt and hot_cells else [])
    return joined.drop(*drop)


def cell_expr(lon: str, lat: str, z: int):
    return cells_mod.cell_col(lon, lat, z)


def measure_hot_cells(
    points_df: DataFrame,
    z: int,
    lon: str = "lon",
    lat: str = "lat",
    skew_factor: float = 8.0,
) -> list[int]:
    """Measured skew detection (SURVEY.md §4.2): cells whose row count
    exceeds `skew_factor` x the mean per-cell count. Feed the result into
    pip_join(salt=..., hot_cells=...). Geotagged data is Zipf-like per cell
    (hot-spot cities/coastlines); AQE's skew-join splitting handles moderate
    skew, this handles the single-monster-cell case."""
    counts = (
        points_df.withColumn("cell", cell_expr(lon, lat, z)).groupBy("cell").count()
    )
    stats = counts.agg(F.avg("count").alias("mean")).collect()[0]
    threshold = float(stats["mean"]) * skew_factor
    hot = counts.filter(F.col("count") > threshold).select("cell").collect()
    return [int(r[0]) for r in hot]
