"""Point-in-polygon join — the flagship operator (SURVEY.md §2.3 J6).

Replaces the reference's zonal containment (``Assess_Agreement.R:45-57``
``extract(raster, polygons)``) and polygon∩AOI coverage
(``seagrass_lib.py:185-192``) with the classic two-phase distributed PIP:

  1. COARSE: polygons are covered by grid cells (exact closed-form covering,
     ``geom.core.cover_polygon``), each cell flagged `full` when entirely
     inside the polygon; a NULL WKB covers no cell. ``build_cover_df`` is
     the engine's one WKB->cover path (coverage_join covers footprints with
     it). Points get the same cell key as one SQL expression.
     When the layer's WKB bytes fit ``repart.fits_broadcast`` (AOI/admin
     layers) this phase is a closure lookup, not a join: one Arrow UDF
     holds the cover sorted by cell and finds each point's cover range
     with a binary search, in the same ArrowEvalPython node as any
     upstream Arrow UDF (assign_tiles' S2/hex7 encodes), and an explode
     turns its hits into rows. Past the bound it is a shuffle-hash cell
     equi-join.
  2. EXACT: boundary cells (`full = false`) run the exact ray-casting test,
     in the lookup itself once per polygon per batch, or in an
     Arrow-batched pandas UDF after the shuffle join; `full = true` cells
     skip it entirely (the dominant fraction for large polygons).

At 100 TB the lookup ships (cell, lon, lat) of every point to Python,
24 bytes a row, and nothing is shuffled; the shuffle regime's only
shuffled payload is (point key, lon, lat, cell) — never image bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, BooleanType, LongType, StructField, StructType

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


def _sorted_cover(ids, wkbs, z: int):
    """The broadcast-regime lookup table of a layer: its cover sorted by
    cell (cells, polygon index, `full` flags), then the polygon ids and
    the decoded polygons, both by polygon index."""
    cover = _cover_frame(range(len(ids)), wkbs, z).sort_values("cell", kind="stable")
    return (
        cover["cell"].to_numpy(np.int64),
        cover["poly_id"].to_numpy(np.int64),
        cover["full"].to_numpy(bool),
        ids,
        [wkb_mod.from_wkb(bytes(b)) if b is not None else [] for b in wkbs],
    )


def _pip_hits_udf(table, id_type):
    """Arrow UDF (cell, lon, lat) -> array<poly_id> over one layer's
    `_sorted_cover` table held in the closure: each row's candidates are
    its cell's cover range, a `full` cell is a hit without a test, and
    each polygon runs the exact test once per batch on its boundary
    candidates.

    Marked nondeterministic only so the optimizer keeps the explode's
    `size(hits) > 0` filter above the projection: pushed below it, the
    filter re-derives the lookup and the plan runs it in a second
    ArrowEvalPython."""
    cells, poly_idx, full, ids, polys = table
    id_arr = pa.array(ids, type=to_arrow_type(id_type))

    def pip_hits(cell: pa.Array, lon: pa.Array, lat: pa.Array) -> pa.Array:
        c = cell.fill_null(-1).to_numpy()
        lo = np.searchsorted(cells, c, "left")
        n = np.searchsorted(cells, c, "right") - lo
        # one (row, cover index) pair per candidate, rows in order
        row = np.repeat(np.arange(len(c)), n)
        cand = np.arange(len(row)) - np.repeat(np.cumsum(n) - n, n) + np.repeat(lo, n)
        hit = full[cand]
        check = np.nonzero(~hit)[0]
        if len(check):
            px = lon.to_numpy(zero_copy_only=False)[row[check]]
            py = lat.to_numpy(zero_copy_only=False)[row[check]]
            pid = poly_idx[cand[check]]
            order = np.argsort(pid, kind="stable")
            for grp in np.split(order, np.flatnonzero(np.diff(pid[order])) + 1):
                hit[check[grp]] = geom.points_in_multipolygon(px[grp], py[grp], polys[pid[grp[0]]])
        offsets = np.zeros(len(c) + 1, np.int32)
        np.cumsum(np.bincount(row[hit], minlength=len(c)), out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), id_arr.take(poly_idx[cand[hit]]))

    return F.arrow_udf(pip_hits, ArrayType(id_type)).asNondeterministic()


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
    ``repart.fits_broadcast`` the cover, sorted by cell, and the decoded
    polygons ride the lookup UDF's closure; both are cached per layer
    content and zoom, so only a cache miss collects the polygon rows.
    Past the bound the cover is built distributed and the WKB rides the
    shuffle-hash cell join.

    `salt` + `hot_cells` (shuffle regime only; the lookup has no shuffle,
    so it has nothing to skew): replicate cover rows of hot cells `salt`
    ways and spread their points across replicas via a deterministic hash
    — the skew escape hatch when one cell dwarfs AQE's skew-join splitting
    (SURVEY.md §7.4). Measured guidance (BENCH/skew_salting.json):
    pick salt WELL ABOVE spark.sql.shuffle.partitions — salt buckets hash
    into reduce partitions like balls into bins, and 32 buckets over 64
    partitions left 2-3-bucket stragglers (p75 77 s) where salt=128 reached
    the machine's work-bound floor. Salting also covers the regime AQE
    cannot see: a hot partition UNDER the skew byte threshold whose
    pandas-UDF work makes it a CPU straggler (AQE detection is byte-based;
    measure_hot_cells counts rows).

    `salt="auto"`: in the shuffle regime, measure the hot cells (one
    groupBy job) and, if any exist, size the salt at 4x
    spark.sql.shuffle.partitions per the measured grain rule; with no hot
    cells the join is unsalted (zero overhead beyond the detection job).
    The regime is decided first, so a broadcast layer runs no detection.

    A point whose lon or lat is NULL or NaN matches nothing; a polygon
    whose id is NULL matches as any other, with a NULL `poly_id`.
    """
    spark = points_df.sparkSession
    if z == "auto":
        z = auto_zoom(polys_df, wkb_col)

    # one job: the byte sum picks the regime, and (bytes, rows, content
    # fingerprint) keys the cover cache, so a cached layer collects nothing
    stats = polys_df.agg(
        F.sum(F.length(F.col(wkb_col))),
        F.count(F.lit(1)),
        F.sum(F.xxhash64(F.col(poly_id), F.col(wkb_col)).cast("decimal(20,0)")),
    ).first()
    wkb_bytes = stats[0] or 0
    if fits_broadcast(spark, "pip_join.cover", wkb_bytes):
        # the AOI layer is static dimension data: build its sorted cover and
        # decode its polygons ONCE per (polygon content, z) and reuse them
        # across queries — the analogue of a prepared dimension index
        key = (z, wkb_bytes, stats[1], stats[2])
        table = _COVER_CACHE.get(key)
        if table is None:
            rows = polys_df.select(poly_id, wkb_col).collect()
            table = _sorted_cover([r[0] for r in rows], [r[1] for r in rows], z)
            if len(_COVER_CACHE) > 32:
                _COVER_CACHE.clear()
            _COVER_CACHE[key] = table
        # a projection, not the explode's argument: the optimizer collapses
        # it into the projection of any upstream Arrow UDFs (assign_tiles'
        # S2/hex7 encodes), so one ArrowEvalPython runs them all
        hits = _pip_hits_udf(table, polys_df.schema[poly_id].dataType)
        pts = points_df.drop("cell").withColumn(
            "_pip_hits", hits(cell_expr(lon, lat, z), F.col(lon), F.col(lat))
        )
        return pts.withColumn("poly_id", F.explode("_pip_hits")).drop("_pip_hits")

    if salt == "auto":
        if hot_cells is None:
            hot_cells = measure_hot_cells(points_df, z=z, lon=lon, lat=lat)
        salt = 4 * int(spark.conf.get("spark.sql.shuffle.partitions")) if hot_cells else None
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

    # the cover names its id column 'poly_id' whatever the input called it;
    # the null-safe match keeps a polygon whose id is NULL, as the lookup does
    wkb_side = polys_df.select(F.col(poly_id).alias("_wkb_id"), F.col(wkb_col))
    cover = cover.join(wkb_side, cover["poly_id"].eqNullSafe(wkb_side["_wkb_id"]))
    cover = cover.drop("_wkb_id")
    joined = pts.join(cover, join_keys, "inner")
    joined = joined.filter(
        F.col("full") | exact_check_with_wkb(F.col(wkb_col), F.col(lon), F.col(lat))
    )
    return joined.drop(wkb_col, "cell", "full", *(["_salt"] if salt and hot_cells else []))


def cell_expr(lon: str, lat: str, z: int):
    """A point's cell key at zoom z; NULL when lon or lat is NULL or NaN,
    so the point meets no cover cell (the clamped grid key would put it
    in an edge cell)."""
    s = f"({lon} + {lat})"
    cell = cells_mod.cell_sql(lon, lat, z)
    return F.expr(f"CASE WHEN {s} IS NULL OR isnan({s}) THEN NULL ELSE {cell} END")


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
