"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Each query runs the engine's operators over the driver's deterministic
testdata tables (TESTDATA.md). Spatial queries derive lon/lat from integer
keys with pure integer-modulo + IEEE-double arithmetic so BOTH engines
compute bit-identical coordinates (no trig in oracle-checked paths — see
index/cells.py docstring).

Column-name discipline: every computed column is aliased identically in the
Spark code and the oracle SQL (driver hash-compares sorted columns).
Floating aggregates are rounded in both engines to absorb sum-order ulps.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.cachescope import persist, scoped
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.index import hex7 as hex7_mod
from gis_scripts_spark.index import proj as proj_mod
from gis_scripts_spark.index import tiles as tiles_mod
from gis_scripts_spark.operators import (
    dedup,
    ann_ivf,
    grid_agg,
    knn,
    overlap_join,
    pip_join,
    similarity,
    text,
    tile_assign,
)
from gis_scripts_spark.operators.repart import spread
from gis_scripts_spark.rowmap import map_rows

# ---- shared derivation constants (mirrored literally in the oracle SQL) ----
LON_MULT, LON_MOD = 2654435761, 360000
LAT_MULT, LAT_MOD = 97643, 120000

_SQL_LON = f"-180.0 + (({{k}} * {LON_MULT}) % {LON_MOD}) / 1000.0"
_SQL_LAT = f"-60.0 + (({{k}} * {LAT_MULT}) % {LAT_MOD}) / 1000.0"


def _pq(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def derived_lonlat(df: DataFrame, key: str) -> DataFrame:
    """lon/lat from an integer key — identical math to _SQL_LON/_SQL_LAT."""
    k = F.col(key).cast("long")
    lon = F.lit(-180.0) + ((k * F.lit(LON_MULT)) % F.lit(LON_MOD)) / F.lit(1000.0)
    lat = F.lit(-60.0) + ((k * F.lit(LAT_MULT)) % F.lit(LAT_MOD)) / F.lit(1000.0)
    return df.withColumn("lon", lon).withColumn("lat", lat)


# ---------------------------------------------------------------- AOI rects
def _nation_rect(nk: int) -> tuple[float, float, float, float]:
    x0 = (-180.0 + float((nk * 15485863) % 300)) + 0.0005
    y0 = (-60.0 + float((nk * 32452843) % 100)) + 0.0005
    x1 = x0 + float(10 + (nk % 7) * 3)
    y1 = y0 + float(8 + (nk % 5) * 2)
    return x0, y0, x1, y1

_SQL_NATION_RECTS = """
    SELECT 'aoi_' || CAST(n_nationkey AS VARCHAR) AS poly_id,
           ((-180.0 + ((n_nationkey * 15485863) % 300)) + 0.0005) AS x0,
           ((-60.0 + ((n_nationkey * 32452843) % 100)) + 0.0005) AS y0,
           ((-180.0 + ((n_nationkey * 15485863) % 300)) + 0.0005)
               + (10 + (n_nationkey % 7) * 3) AS x1,
           ((-60.0 + ((n_nationkey * 32452843) % 100)) + 0.0005)
               + (8 + (n_nationkey % 5) * 2) AS y1
    FROM nation
"""


def _aoi_polys_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = _pq(spark, sf_dir, "nation").select("n_nationkey").collect()
    rows = []
    for r in nations:
        nk = int(r[0])
        x0, y0, x1, y1 = _nation_rect(nk)
        rows.append((f"aoi_{nk}", bytearray(wkb_mod.bbox_to_wkb(x0, y0, x1, y1))))
    pdf = pd.DataFrame(rows, columns=["poly_id", "wkb"])
    return spark.createDataFrame(pdf)


def _supplier_boxes(df: DataFrame) -> DataFrame:
    k = F.col("s_suppkey").cast("long")
    x0 = (F.lit(-180.0) + ((k * F.lit(7919)) % F.lit(300)).cast("double")) + F.lit(0.25)
    y0 = (F.lit(-60.0) + ((k * F.lit(104729)) % F.lit(100)).cast("double")) + F.lit(0.25)
    x1 = x0 + (F.lit(12) + (k % F.lit(10)) * F.lit(2)).cast("double")
    y1 = y0 + (F.lit(8) + (k % F.lit(8)) * F.lit(2)).cast("double")
    return df.select(
        F.col("s_suppkey").alias("id"),
        x0.alias("x_min"), y0.alias("y_min"), x1.alias("x_max"), y1.alias("y_max"),
    )

_SQL_SUPPLIER_BOXES = """
    SELECT s_suppkey AS id,
           ((-180.0 + ((s_suppkey * 7919) % 300)) + 0.25) AS x_min,
           ((-60.0 + ((s_suppkey * 104729) % 100)) + 0.25) AS y_min,
           ((-180.0 + ((s_suppkey * 7919) % 300)) + 0.25) + (12 + (s_suppkey % 10) * 2) AS x_max,
           ((-60.0 + ((s_suppkey * 104729) % 100)) + 0.25) + (8 + (s_suppkey % 8) * 2) AS y_max
    FROM supplier
"""


# ================================================================== queries
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style rollup — proves the relational agg layer."""
    li = _pq(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way broadcast-chain join — proves join strategy selection."""
    cust = _pq(spark, sf_dir, "customer")
    orders = _pq(spark, sf_dir, "orders")
    nation = _pq(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_REVENUE = """
SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tile assignment (engine: index/cells + quadkey)."""
    z = 8
    cust = derived_lonlat(_pq(spark, sf_dir, "customer"), "c_custkey")
    gx, gy = cells_mod.grid_xy_sql("lon", "lat", z)
    out = cust.withColumns(
        cells_mod.exprs({"gx": gx, "gy": gy, "cell": cells_mod.cell_sql("lon", "lat", z)})
    ).withColumn("quadkey", F.expr(tiles_mod.quadkey_sql("gx", "gy", z)))
    return out.select("c_custkey", "gx", "gy", "cell", "quadkey")


def _sql_tile_assign() -> str:
    lon = _SQL_LON.format(k="c_custkey")
    lat = _SQL_LAT.format(k="c_custkey")
    digits = " || ".join(
        f"CAST(((gy >> {i}) & 1) * 2 + ((gx >> {i}) & 1) AS VARCHAR)" for i in range(7, -1, -1)
    )
    return f"""
WITH pts AS (SELECT c_custkey, {lon} AS lon, {lat} AS lat FROM customer),
g AS (SELECT c_custkey,
        LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 256.0) AS BIGINT), 0), 255) AS gx,
        LEAST(GREATEST(CAST(FLOOR((90.0 - lat) / 180.0 * 256.0) AS BIGINT), 0), 255) AS gy
      FROM pts)
SELECT c_custkey, gx, gy,
       (CAST(8 AS BIGINT) << 58) + (gx << 29) + gy AS cell,
       {digits} AS quadkey
FROM g
"""


def q_pip_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: point-in-polygon join, broadcast cover + exact check."""
    cust = derived_lonlat(_pq(spark, sf_dir, "customer"), "c_custkey")
    polys = _aoi_polys_df(spark, sf_dir)
    joined = pip_join.pip_join(cust, polys, z=7)
    return joined.select("c_custkey", "poly_id")


SQL_PIP_PAIRS = f"""
WITH pts AS (SELECT c_custkey, {_SQL_LON.format(k='c_custkey')} AS lon,
                    {_SQL_LAT.format(k='c_custkey')} AS lat FROM customer),
rects AS ({_SQL_NATION_RECTS})
SELECT c_custkey, poly_id
FROM pts JOIN rects
  ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1
"""


def ensure_geoparquet_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build the GeoParquet AOI fixture as a SETUP step (r4 verdict #5 +
    advice): write into a unique staging dir, and only after
    write_geoparquet fully completes (parquet write AND the `geo` footer
    rewrite) atomically rename into the final path. The final dir either
    doesn't exist or is complete — no _SUCCESS-before-footer poison window,
    and concurrent bench processes race safely (loser's staging dir is
    discarded)."""
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from gis_scripts_spark.sources import geoparquet as gpq

    path = f"/tmp/gpq_aoi_{_hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    if _os.path.isdir(path):
        return path
    stage = f"{path}.stage.{_uuid.uuid4().hex}"
    gpq.write_geoparquet(
        _aoi_polys_df(spark, sf_dir), stage, geometry_col="wkb",
        crs={"id": {"authority": "OGC", "code": "CRS84"}},
    )
    try:
        _os.rename(stage, path)  # atomic publish; fails if a racer won
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)
    return path


def q_geoparquet_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join whose polygon layer comes from a GEOPARQUET file (round-4
    source, `sources/geoparquet.py` — the cloud-native vector format):
    the AOI rect polygons are published once as spec-compliant GeoParquet
    (WKB geometry + `geo` footer JSON; atomic /tmp fixture keyed by
    sf_dir, built by ensure_geoparquet_fixture — a setup step, outside
    any timed path), read back through the distributed parquet scan +
    footer metadata parse, and PIP-joined against supplier-derived points.
    FULL oracle: DuckDB recomputes the identical rects from `nation` —
    the format roundtrip is exactly what the hash compare certifies."""
    from gis_scripts_spark.sources import geoparquet as gpq

    path = ensure_geoparquet_fixture(spark, sf_dir)
    polys, meta = gpq.read_geoparquet(spark, path)
    assert meta.primary_column == "wkb"
    sup = derived_lonlat(_pq(spark, sf_dir, "supplier"), "s_suppkey")
    joined = pip_join.pip_join(sup, polys, z=7)
    return joined.select("s_suppkey", "poly_id")


SQL_GEOPARQUET_PIP = f"""
WITH pts AS (SELECT s_suppkey, {_SQL_LON.format(k='s_suppkey')} AS lon,
                    {_SQL_LAT.format(k='s_suppkey')} AS lat FROM supplier),
rects AS ({_SQL_NATION_RECTS})
SELECT s_suppkey, poly_id
FROM pts JOIN rects
  ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1
"""


def ensure_geojson_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Publish the AOI polygons as newline-delimited GeoJSON (setup step,
    same atomic staging-dir pattern as the GeoParquet fixture)."""
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from gis_scripts_spark.sources import geojson as gj

    path = f"/tmp/gjs_aoi_{_hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    if _os.path.isdir(path):
        return path
    stage = f"{path}.stage.{_uuid.uuid4().hex}"
    gj.write_geojson_seq(_aoi_polys_df(spark, sf_dir), stage, geometry_col="wkb")
    try:
        _os.rename(stage, path)  # atomic publish; fails if a racer won
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)
    return path


def q_geojson_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join whose polygon layer roundtrips through NEWLINE-DELIMITED
    GEOJSON (`sources/geojson.py`, RFC 7946/8142 — GDAL's GeoJSONSeq, the
    splittable text form that scans a single 100 GB layer in parallel).
    The AOI rects are written by the engine's distributed sink (WKB ->
    feature lines, coordinates in shortest-roundtrip decimal form) and
    read back through `read_geojson_seq` (spark.read.text + one Arrow
    parse pass), then PIP-joined against part-derived points. FULL
    oracle: DuckDB recomputes the identical rects from `nation`, so the
    hash compare certifies the JSON write->parse roundtrip bit-for-bit."""
    from gis_scripts_spark.sources import geojson as gj

    path = ensure_geojson_fixture(spark, sf_dir)
    polys = gj.read_geojson_seq(spark, f"{path}/*.txt").select(
        gj.property_col("poly_id").alias("poly_id"), "wkb"
    )
    pts = derived_lonlat(_pq(spark, sf_dir, "part"), "p_partkey")
    joined = pip_join.pip_join(pts, polys, z=7)
    return joined.select("p_partkey", "poly_id")


SQL_GEOJSON_PIP = f"""
WITH pts AS (SELECT p_partkey, {_SQL_LON.format(k='p_partkey')} AS lon,
                    {_SQL_LAT.format(k='p_partkey')} AS lat FROM part),
rects AS ({_SQL_NATION_RECTS})
SELECT p_partkey, poly_id
FROM pts JOIN rects
  ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1
"""


# WorldView zip-manifest fixture: all values are exact binary fractions
# (integers and halves / 128ths), so the XML repr() strings parse back to
# the identical doubles and the DuckDB oracle re-derives them from integer
# math bit-for-bit (the test_proj_oracle-pinned host facts).
_WV_AOI = (-100.0, -30.0, 60.0, 40.0)  # ax0, ay0, ax1, ay1

_WV_XML_TMPL = """<isd><IMD>
 <IMAGE><SATID>{satid}</SATID><TLCTIME>{tlc}</TLCTIME>
   <CLOUDCOVER>{cc}</CLOUDCOVER></IMAGE>
 <BAND_C><ULLON>{ullon}</ULLON><ULLAT>{ullat}</ULLAT>
   <URLON>{urlon}</URLON><URLAT>{urlat}</URLAT>
   <LRLON>{lrlon}</LRLON><LRLAT>{lrlat}</LRLAT>
   <LLLON>{lllon}</LLLON><LLLAT>{lllat}</LLLAT></BAND_C>
</IMD></isd>"""


def _wv_member(k: int) -> tuple[str, bytes]:
    fx0 = -170.0 + ((k * 7919) % 300) / 2.0
    fy0 = -55.0 + ((k * 104729) % 100) / 2.0
    fx1 = fx0 + (12 + (k % 5) * 4)
    fy1 = fy0 + (10 + (k % 4) * 3)
    xml = _WV_XML_TMPL.format(
        satid="WV02" if k % 2 == 0 else "WV03",
        tlc=f"2019-{1 + k % 12:02d}-{1 + k % 28:02d}T10:00:00Z",
        cc=repr((k * 13 % 65) / 128.0),
        ullon=repr(fx0), ullat=repr(fy1), urlon=repr(fx1), urlat=repr(fy1),
        lrlon=repr(fx1), lrlat=repr(fy0), lllon=repr(fx0), lllat=repr(fy0),
    )
    return f"ACQ_{k:04d}/{k:03d}_MUL.XML", xml.encode()


def ensure_worldview_zip_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build the Maxar-delivery-style zip ONCE as a setup step (atomic
    tmp-file + rename, same discipline as the LAS fixture): one
    ``*MUL*.XML`` tile-metadata member per nation key plus non-matching
    decoys (a PAN XML and a plain text member) that the manifest filter
    must skip."""
    import hashlib as _hashlib
    import os as _os

    from gis_scripts_spark.sources import ziparchive as za

    nk = [r[0] for r in _pq(spark, sf_dir, "nation").select("n_nationkey").collect()]
    path = f"/tmp/wv_zip_{_hashlib.md5(sf_dir.encode()).hexdigest()[:10]}.zip"
    if _os.path.exists(path):
        return path
    members = [_wv_member(int(k)) for k in sorted(nk)]
    members.append(("ACQ_9999/999_PAN.XML", b"<isd><IMD></IMD></isd>"))
    members.append(("DELIVERY_NOTES.txt", b"decoy, not a tile"))
    tmp = f"{path}.tmp.{_os.getpid()}"
    za.write_zip(tmp, members, method=8)
    try:
        _os.rename(tmp, path)
    except OSError:
        _os.unlink(tmp)
    return path


def q_zip_manifest_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WorldView delivery manifest (`seagrass_lib.py:168-193
    list_files` + the `:34` AOI_COVERAGE > 0 filter) end-to-end through the
    from-scratch ZIP source: central-directory ranged read (driver) ->
    *MUL*.XML member filter -> distributed ranged extraction + inflate +
    CRC check + XML parse (one Arrow pass) -> footprint-vs-AOI coverage in
    JVM Column math. FULL oracle: DuckDB re-derives every XML field from
    `nation` integer math, so the hash compare certifies the zip container
    walk, the deflate stream, the XML parse AND the coverage formula
    bit-for-bit (all fixture values are exact binary fractions)."""
    from gis_scripts_spark.sources import ziparchive as za

    path = ensure_worldview_zip_fixture(spark, sf_dir)
    man = za.worldview_manifest(spark, path)
    ax0, ay0, ax1, ay1 = _WV_AOI
    iw = F.greatest(F.lit(0.0), F.least(F.col("urlon"), F.lit(ax1))
                    - F.greatest(F.col("ullon"), F.lit(ax0)))
    ih = F.greatest(F.lit(0.0), F.least(F.col("ullat"), F.lit(ay1))
                    - F.greatest(F.col("lrlat"), F.lit(ay0)))
    cov = (iw * ih) / ((F.col("urlon") - F.col("ullon"))
                       * (F.col("ullat") - F.col("lrlat")))
    return (
        man.withColumn("aoi_coverage", cov)
        .filter(F.col("aoi_coverage") > 0.0)
        .select("directory", "satid", "tlctime", "cloudcover", "aoi_coverage")
    )


SQL_ZIP_MANIFEST = """
WITH fp AS (
    SELECT printf('ACQ_%04d', n_nationkey) AS directory,
           CASE WHEN n_nationkey % 2 = 0 THEN 'WV02' ELSE 'WV03' END AS satid,
           printf('2019-%02d-%02dT10:00:00Z',
                  1 + n_nationkey % 12, 1 + n_nationkey % 28) AS tlctime,
           ((n_nationkey * 13) % 65) / 128.0 AS cloudcover,
           -170.0 + ((n_nationkey * 7919) % 300) / 2.0 AS fx0,
           -55.0 + ((n_nationkey * 104729) % 100) / 2.0 AS fy0,
           CAST(12 + (n_nationkey % 5) * 4 AS DOUBLE) AS fw,
           CAST(10 + (n_nationkey % 4) * 3 AS DOUBLE) AS fh
    FROM nation
), cov AS (
    SELECT directory, satid, tlctime, cloudcover,
           (GREATEST(0.0, LEAST(fx0 + fw, 60.0) - GREATEST(fx0, -100.0))
            * GREATEST(0.0, LEAST(fy0 + fh, 40.0) - GREATEST(fy0, -30.0)))
           / (((fx0 + fw) - fx0) * ((fy0 + fh) - fy0)) AS aoi_coverage
    FROM fp
)
SELECT * FROM cov WHERE aoi_coverage > 0.0
"""


def q_pip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join + per-polygon rollup (zonal count, Assess_Agreement.R:52-57)."""
    pairs = q_pip_pairs(spark, sf_dir)
    return pairs.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))


SQL_PIP_COUNTS = f"""
WITH pairs AS ({SQL_PIP_PAIRS})
SELECT poly_id, COUNT(*) AS n_points FROM pairs GROUP BY poly_id
"""


def q_grid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level block-grid aggregation (mean-of-means, local_match.py:372-392)."""
    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "user_id")
    out = grid_agg.grid_aggregate(ev, value="value", entity="user_id", z=5)
    # round(x·10ⁿ)/10ⁿ in double, as the oracle engine rounds: Spark's
    # round(x, n) rounds the exact decimal expansion and splits near-ties
    # the other way
    return out.select(
        "cell",
        "n_rows",
        (F.round(F.col("sum_value") * 1e4, 0) / 1e4).alias("sum_value"),
        (F.round(F.col("mean_value") * 1e6, 0) / 1e6).alias("mean_value"),
        "n_entities",
        (F.round(F.col("mean_of_means") * 1e6, 0) / 1e6).alias("mean_of_means"),
    )


SQL_GRID_AGG = f"""
WITH ev AS (SELECT user_id, value,
        {_SQL_LON.format(k='user_id')} AS lon, {_SQL_LAT.format(k='user_id')} AS lat FROM events),
cells AS (SELECT user_id, value,
        (CAST(5 AS BIGINT) << 58)
        + (LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 32.0) AS BIGINT), 0), 31) << 29)
        + LEAST(GREATEST(CAST(FLOOR((90.0 - lat) / 180.0 * 32.0) AS BIGINT), 0), 31) AS cell
      FROM ev),
lvl1 AS (SELECT cell, user_id, COUNT(*) AS n, SUM(value) AS s, AVG(value) AS m
         FROM cells GROUP BY cell, user_id)
SELECT cell, CAST(SUM(n) AS BIGINT) AS n_rows, ROUND(SUM(s), 4) AS sum_value,
       ROUND(SUM(s) / SUM(n), 6) AS mean_value,
       COUNT(*) AS n_entities, ROUND(AVG(m), 6) AS mean_of_means
FROM lvl1 GROUP BY cell
"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN via cell-ring expansion (k=5, squared-degree metric)."""
    cust = derived_lonlat(_pq(spark, sf_dir, "customer"), "c_custkey")
    # row count from the parquet FOOTER (driver-side metadata, ~ms) — the
    # operator's own pts.count() fallback costs a full Spark job just to
    # size the initial probe radius. Defensive: a multi-file/dir layout or
    # any read hiccup falls back to the operator's count.
    try:
        import pyarrow.parquet as _pqt

        n_pts = sum(
            _pqt.ParquetFile(f).metadata.num_rows
            for f in _pqt.ParquetDataset(f"{sf_dir}/customer.parquet").files
        ) or None
    except Exception:
        n_pts = None
    out = knn.knn_join(
        cust, cust, k=5, z=6, point_id="c_custkey", query_id="c_custkey",
        metric="euclid2", exclude_self=True,
        n_points_hint=int(n_pts) if n_pts is not None else None,
    )
    return out.select("query_id", "neighbor_id", "rank")


SQL_KNN = f"""
WITH pts AS (SELECT c_custkey AS k, {_SQL_LON.format(k='c_custkey')} AS lon,
                    {_SQL_LAT.format(k='c_custkey')} AS lat FROM customer),
pairs AS (
  SELECT a.k AS query_id, b.k AS neighbor_id,
         (b.lon - a.lon) * (b.lon - a.lon) + (b.lat - a.lat) * (b.lat - a.lat) AS d
  FROM pts a JOIN pts b ON a.k <> b.k),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS INTEGER) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


def q_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise bbox overlap self-join via cell cover + report-once dedupe."""
    boxes = _supplier_boxes(_pq(spark, sf_dir, "supplier"))
    out = overlap_join.bbox_overlap_join(boxes, z=6)
    return out.select("id_i", "id_j")


SQL_OVERLAP = f"""
WITH boxes AS ({_SQL_SUPPLIER_BOXES})
SELECT a.id AS id_i, b.id AS id_j
FROM boxes a JOIN boxes b ON a.id < b.id
WHERE a.x_min < b.x_max AND a.x_max > b.x_min
  AND a.y_min < b.y_max AND a.y_max > b.y_min
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on documents: canonical id + copy count per distinct text."""
    docs = _pq(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality stats per document (training-data ops)."""
    docs = _pq(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("int")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        n_tokens.alias("n_tokens"),
        F.round(
            (F.length("text") - (n_tokens - F.lit(1))).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
    )


SQL_TEXT_STATS = """
SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS text_len,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
       ROUND(CAST(LENGTH(text) - (LEN(STRING_SPLIT(text, ' ')) - 1) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
FROM documents
"""


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors (rank-only output)."""
    emb = _pq(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, k=3, id_col="vec_id", vec="embedding")


SQL_EMBED_TOPK = """
WITH pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.embedding, b.embedding) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end with a FULL oracle: spherical-k-means codebook
    (distributed Lloyd — broadcast codebook assignment, map-side-combined
    (list, dim) partial sums), inverted-list assignment, probed search.
    Probing is EXHAUSTIVE here (nprobe = n_lists) which makes the result
    provably the exact cosine top-k — so the approximate-index machinery
    (train, assign, probe, per-list join, scalar re-rank) runs for real
    while DuckDB can still oracle the answer; the recall-at-nprobe<lists
    contract is pytest-gated on clustered data (tests/test_ann_ivf.py).

    n_lists=32: a probed list is the parallelism unit of the search join
    (one inverted list = one join key), so n_lists must be >= the core
    count just as it is in any real IVF deployment (n_lists ~ sqrt(n) >>
    cores). The first bench capture used n_lists=8 on 32 cores and the
    whole exhaustive re-rank serialized onto 8 tasks (43.8 s at sf0.1);
    32 lists puts it back on all cores. Exactness is UNAFFECTED — with
    exhaustive probing the codebook only partitions work."""
    emb = _pq(spark, sf_dir, "embeddings")
    return ann_ivf.ivf_topk(
        emb, k=3, id_col="vec_id", vec="embedding", n_lists=32, nprobe=32, n_iters=2,
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN end-to-end under the FULL oracle (r5): the
    integer-mixed Rademacher hyperplanes over 1024-quantized components
    make every bucket key an exact int64 computation that
    `similarity.lsh_bucket_sql` re-derives verbatim in DuckDB — the
    approximate candidate set itself (not just the re-rank) is oracled.
    Exercises the r4-directive-#2 scale shape under the driver: ids-only
    candidate stage (one Arrow pass for all n_tables signatures,
    posexplode, 3-column self-join, groupBy report-once), vectors
    re-joined ONCE for the exact cosine re-rank. recall>=0.95 vs brute
    force remains the pytest contract (tests/test_similarity_more.py)."""
    emb = _pq(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, k=3, id_col="vec_id", vec="embedding", dim=64,
        n_planes=10, n_tables=6,
    )


def _sql_ann_lsh() -> str:
    ctes = similarity.lsh_bucket_sql(
        "embeddings", "vec_id", "embedding", dim=64, n_planes=10, n_tables=6
    )
    return f"""
WITH {ctes},
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS pid
  FROM lsh_sig a JOIN lsh_sig b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id),
rer AS (
  SELECT c.qid, c.pid, list_cosine_similarity(ea.embedding, eb.embedding) AS sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.qid
  JOIN embeddings eb ON eb.vec_id = c.pid),
ranked AS (
  SELECT qid AS query_id, pid AS neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, pid) AS INTEGER) AS rank
  FROM rer)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup join (oracle for the MinHash path)."""
    docs = _pq(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD = """
WITH toks AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
                     unnest(string_split(text, ' ')) AS w FROM documents),
tri AS (SELECT doc_id, w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS g
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
dtri AS (SELECT DISTINCT doc_id, g FROM tri WHERE g IS NOT NULL),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dtri GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
          FROM dtri a JOIN dtri b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, exact-Jaccard verified — FULL
    oracle since round 3: the md5 hash family + lexicographic-min
    signatures + band hashes are rebuilt verbatim in DuckDB SQL
    (dedup.minhash_lsh_pairs_sql — zero Python, pure codegen). Its
    128-perm setting keeps a recall>=0.9 pytest."""
    docs = _pq(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs_sql(docs, n_perm=64, bands=16, shingle_n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _sql_minhash() -> str:
    a_const, b_const = dedup.minhash_sql_constants(64)
    consts = ", ".join(f"({p}, {a}, {b})" for p, (a, b) in enumerate(zip(a_const, b_const)))
    return rf"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, array_to_string(tk[CAST(i AS INTEGER):CAST(i AS INTEGER)+2], ' ') AS sh
    FROM toks, LATERAL (SELECT unnest(range(1, GREATEST(LEN(tk)-2, 0) + 1)) AS i)
    WHERE LEN(tk) >= 3
    UNION ALL
    SELECT doc_id, unnest(tk) AS sh FROM toks WHERE LEN(tk) < 3)),
hh AS (
  SELECT doc_id, sh,
         CAST(('0x' || substr(md5(sh), 1, 7)) AS BIGINT) % {dedup.MINHASH_SQL_PRIME} AS h
  FROM sh),
consts(p, a, b) AS (VALUES {consts}),
sig AS (
  SELECT doc_id, p, MIN((a * h + b) % {dedup.MINHASH_SQL_PRIME}) AS mh
  FROM hh CROSS JOIN consts GROUP BY doc_id, p),
banded AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bhash
  FROM sig GROUP BY doc_id, p // 4),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS ni
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b)
SELECT c.id_a, c.id_b,
       ROUND(COALESCE(i.ni, 0) * 1.0 / (ca.n + cb.n - COALESCE(i.ni, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN cnt ca ON ca.doc_id = c.id_a
JOIN cnt cb ON cb.doc_id = c.id_b
WHERE COALESCE(i.ni, 0) * 1.0 / (ca.n + cb.n - COALESCE(i.ni, 0)) >= 0.5
"""


SQL_MINHASH = _sql_minhash()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs. The md5 token hash is
    SQL-reproducible, so this is a FULL oracle row: DuckDB rebuilds the 64
    signature bits from md5 token hashes and brute-forces the Hamming
    join."""
    docs = _pq(spark, sf_dir, "documents")
    out = dedup.simhash_pairs(docs, max_hamming=3, shingle_n=1)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


SQL_SIMHASH = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 16))::UBIGINT AS h FROM toks),
bits AS (
  SELECT doc_id, j,
         CASE WHEN SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS bit
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
  FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs WHERE hamming <= 3
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (pure Column math end-to-end -> FULL oracle row)."""
    # regex-heavy per-row Column math on a 1-2 split scan — spread so the
    # codegen stage runs on every core (no-op on multi-split inputs)
    docs = spread(_pq(spark, sf_dir, "documents"), "doc_id")
    out = text.with_quality_score(text.with_token_stats(docs))
    return out.select(
        "doc_id", "n_tokens", "n_bpe_ish",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("quality_score", 2).alias("quality_score"),
    )


SQL_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(STRING_SPLIT_REGEX(
             regexp_replace(text, '([^\w\s]|\d)', ' \1 ', 'g'), '\s+')) AS n_bpe_ish,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[\w\s]', '', 'g')) AS n_punct,
         LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(text, ' ')),
             ['a','and','for','in','is','it','of','that','the','to'])) AS stop_hits
  FROM documents)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_bpe_ish AS INTEGER) AS n_bpe_ish,
       ROUND(n_punct * 1.0 / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND((n_chars - (n_tokens - 1)) * 1.0 / GREATEST(n_tokens, 1), 6) AS mean_word_len,
       ROUND((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN n_punct * 1.0 / GREATEST(n_chars, 1) < 0.2 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / GREATEST(n_tokens, 1)
                        BETWEEN 2.0 AND 12.0 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN stop_hits >= 1 THEN 0.2 ELSE 0.0 END), 2) AS quality_score
FROM t
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-ID heuristic + md5-winnowing fingerprint — FULL oracle (the
    simhash trick: md5 shingle hashes + numeric 60-bit min rebuild exactly
    in DuckDB SQL; the lang-ID marker argmax is CASE logic). The min is
    NUMERIC (long) so Spark uses hash aggregation, not SortAggregate. The
    engine-hashed Rabin-Karp variant remains as text.fingerprint_udf with
    its determinism pytest."""
    docs = _pq(spark, sf_dir, "documents")
    fp = text.md5_fingerprints(docs, "text", "doc_id")
    out = docs.withColumn("lang_pred", text.lang_id_udf()(F.col("text")))
    return out.join(fp, "doc_id").select("doc_id", "lang_pred", "fingerprint")


def _sql_lang_hits(lang: str) -> str:
    from gis_scripts_spark.operators.text import _LANG_MARKERS

    words = ", ".join(f"'{w}'" for w in sorted(_LANG_MARKERS[lang]))
    return (f"LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')), "
            f"[{words}])) AS {lang}_hits")


SQL_TEXT_FINGERPRINT = rf"""
WITH nrm AS (
  SELECT doc_id,
         substr(trim(regexp_replace(lower(text), '[ \t\n\f\r\x0B]+', ' ', 'g')), 1, 4096) AS nm
  FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN length(nm) >= 8 THEN substr(nm, CAST(i AS INTEGER), 8) ELSE nm END AS g
  FROM nrm, LATERAL (SELECT unnest(range(1, GREATEST(length(nm) - 7, 1) + 1)) AS i)),
fp AS (SELECT doc_id,
              MIN(CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)) AS fingerprint
       FROM grams GROUP BY doc_id),
hits AS (
  SELECT doc_id,
         {_sql_lang_hits('de')}, {_sql_lang_hits('en')}, {_sql_lang_hits('es')},
         {_sql_lang_hits('fr')}, {_sql_lang_hits('it')}
  FROM documents),
lang AS (
  SELECT doc_id,
         CASE WHEN GREATEST(de_hits, en_hits, es_hits, fr_hits, it_hits) = 0 THEN 'und'
              WHEN de_hits = GREATEST(de_hits, en_hits, es_hits, fr_hits, it_hits) THEN 'de'
              WHEN en_hits = GREATEST(de_hits, en_hits, es_hits, fr_hits, it_hits) THEN 'en'
              WHEN es_hits = GREATEST(de_hits, en_hits, es_hits, fr_hits, it_hits) THEN 'es'
              WHEN fr_hits = GREATEST(de_hits, en_hits, es_hits, fr_hits, it_hits) THEN 'fr'
              ELSE 'it' END AS lang_pred
  FROM hits)
SELECT l.doc_id, l.lang_pred, f.fingerprint
FROM lang l JOIN fp f ON l.doc_id = f.doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS — distributed min-label propagation over the
    (fully oracled) minhash pairs, the 10^12-scale replacement for the
    driver union-find finisher. FULL oracle: DuckDB rebuilds the same
    components with a recursive transitive-closure CTE."""
    docs = _pq(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_sql(docs, n_perm=64, bands=16, shingle_n=3,
                                        threshold=0.5)
    return dedup.cluster_pairs_distributed(pairs).select("doc_id", "cluster_id")


def _sql_dedup_clusters() -> str:
    mh = _sql_minhash().strip()
    return f"""
WITH RECURSIVE pr AS MATERIALIZED (
  SELECT id_a, id_b FROM ({mh}) mh
),
edges AS (SELECT id_a AS s, id_b AS d FROM pr
          UNION SELECT id_b, id_a FROM pr),
reach AS (
  SELECT s AS id, d AS r FROM edges
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id
"""


SQL_DEDUP_CLUSTERS = _sql_dedup_clusters()


def q_las_ground_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAS point-cloud scan end-to-end under a FULL DuckDB oracle: a
    deterministic two-swath LAS 1.2 fixture is written once via the
    engine's own sink (las.write_las), scanned distributed, and rolled up
    per classification — the create_dem_tiles_from_array.py:224-241
    ground-filter flow. The fixture points are pure integer mixing ON the
    LAS quantization grid (scale 0.001), so DuckDB re-derives the exact
    post-roundtrip coordinates WITHOUT reading .las — the oracle checks
    the whole write->parse->descale->rollup chain, not just the rollup.
    Byte-level parse exactness vs an independent fixture writer is
    additionally proven in tests/test_las.py."""
    import os

    from gis_scripts_spark.sources import las as las_mod

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    d = f"/tmp/gss_lasq_{tag}"
    if not os.path.exists(os.path.join(d, "swath_1.las")):
        os.makedirs(d, exist_ok=True)
        xx, yy, zz, cls = _las_fixture_arrays(_las_fixture_n(spark, sf_dir))
        n = len(xx)
        import uuid as _uuid

        for part in range(2):
            m = slice(part * n // 2, (part + 1) * n // 2)
            tmp = os.path.join(d, f".swath_{part}.{_uuid.uuid4().hex}.tmp")
            las_mod.write_las(tmp, xx[m], yy[m], zz[m], cls[m])
            os.replace(tmp, os.path.join(d, f"swath_{part}.las"))  # atomic
    pts = las_mod.read_las(spark, d + "/*.las")
    return _las_class_rollup(pts)


def _las_fixture_n(spark: SparkSession, sf_dir: str) -> int:
    """Fixture size derived from the events row count (parquet-footer
    count, no data scan) so the SQL oracle can derive the SAME n from the
    registered events view at any scale factor."""
    return 2 * _pq(spark, sf_dir, "events").count() // 5


def _las_fixture_arrays(n: int):
    """SQL-re-derivable point cloud: integer mixing (same style as
    derived_lonlat) lands every coordinate exactly on the LAS 0.001
    quantization grid, so writer round(), reader descale and the DuckDB
    re-derivation in SQL_LAS_STATS agree bit-for-bit."""
    i = np.arange(n, dtype=np.int64)
    xx = ((i * 2654435761) % 2000) * 0.001
    yy = ((i * 97643) % 2000) * 0.001
    zz = ((i * 15485863) % 120000) * 0.001
    cls = np.where((i * 32452843) % 100 < 55, 2, 1 + (i * 49979687) % 6)
    return xx, yy, zz, cls


def _las_class_rollup(pts: DataFrame) -> DataFrame:
    return pts.groupBy("classification").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg("z"), 6).alias("mean_z"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("y"), 6).alias("max_y"),
    )


def q_laz_ground_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED point-cloud scan end-to-end under a FULL DuckDB oracle:
    the las_ground_stats fixture data written as chunked-arithmetic-coded
    .laz through the engine's own sink (laz.write_laz), decoded
    DISTRIBUTED one-task-per-chunk (read_laz), identical per-class rollup
    — the reference's USGS .laz landing flow
    (point_cloud/download_usgs_lidar.py:23-46). The oracle re-derives the
    quantization-grid fixture points in SQL (see q_las_ground_stats), so
    it gates the arithmetic-coder decode chain end-to-end; codec
    bit-exactness and chunk independence are additionally proven in
    tests/test_laz.py."""
    import os

    from gis_scripts_spark.sources import laz as laz_mod

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    d = f"/tmp/gss_lazq_{tag}"
    if not os.path.exists(os.path.join(d, "swath_1.laz")):
        os.makedirs(d, exist_ok=True)
        xx, yy, zz, cls = _las_fixture_arrays(_las_fixture_n(spark, sf_dir))
        n = len(xx)
        import uuid as _uuid

        for part in range(2):
            m = slice(part * n // 2, (part + 1) * n // 2)
            tmp = os.path.join(d, f".swath_{part}.{_uuid.uuid4().hex}.tmp")
            laz_mod.write_laz(tmp, xx[m], yy[m], zz[m], cls[m],
                              scale=0.001, offset=(0.0, 0.0, 0.0),
                              chunk_size=2048)
            os.replace(tmp, os.path.join(d, f"swath_{part}.laz"))  # atomic
    pts = laz_mod.read_laz(spark, d + "/*.laz")
    return _las_class_rollup(pts)


# Re-derives the quantization-grid fixture points (see _las_fixture_arrays)
# and the reader's exact descale op (int * 0.001 + 0.0) in SQL; fixture size
# comes from the events view so the oracle scales with the gate's sf. The
# CAST('0.001' AS DOUBLE) keeps DuckDB in IEEE doubles (bare literals are
# DECIMAL — exact arithmetic that can drift 1 ulp from the engine's floats).
SQL_LAS_STATS = """
WITH idx AS (SELECT event_id AS i FROM events
             WHERE event_id < (SELECT 2 * COUNT(*) // 5 FROM events)),
pts AS (SELECT
  CAST((i * 2654435761) % 2000 AS DOUBLE) * CAST('0.001' AS DOUBLE)
    + CAST('0.0' AS DOUBLE) AS x,
  CAST((i * 97643) % 2000 AS DOUBLE) * CAST('0.001' AS DOUBLE)
    + CAST('0.0' AS DOUBLE) AS y,
  CAST((i * 15485863) % 120000 AS DOUBLE) * CAST('0.001' AS DOUBLE)
    + CAST('0.0' AS DOUBLE) AS z,
  CAST(CASE WHEN (i * 32452843) % 100 < 55 THEN 2
            ELSE 1 + (i * 49979687) % 6 END AS INTEGER) AS classification
FROM idx)
SELECT classification, COUNT(*) AS n_points, ROUND(AVG(z), 6) AS mean_z,
       ROUND(MIN(x), 6) AS min_x, ROUND(MAX(y), 6) AS max_y
FROM pts GROUP BY classification
"""


def q_topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user — window/top-k semantics (§2.6)."""
    ev = _pq(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", F.round("value", 6).alias("value"), "rk")
    )


SQL_TOPK_EVENTS = """
SELECT user_id, event_id, ROUND(value, 6) AS value, rk FROM (
  SELECT user_id, event_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INTEGER) AS rk
  FROM events) WHERE rk <= 3
"""


def q_zonal_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal class histogram + percent (Assess_Agreement.R:52-66 semantics):
    PIP join events->AOI, per-poly per-type counts and percentages."""
    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "event_id")
    polys = _aoi_polys_df(spark, sf_dir)
    pairs = pip_join.pip_join(ev, polys, z=7)
    counts = pairs.groupBy("poly_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("poly_id")
    return counts.select(
        "poly_id", "event_type", "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 6).alias("pct"),
    )


SQL_ZONAL_EVENTS = f"""
WITH pts AS (SELECT event_id, event_type, {_SQL_LON.format(k='event_id')} AS lon,
                    {_SQL_LAT.format(k='event_id')} AS lat FROM events),
rects AS ({_SQL_NATION_RECTS}),
pairs AS (SELECT event_id, event_type, poly_id FROM pts JOIN rects
          ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1),
counts AS (SELECT poly_id, event_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2)
SELECT poly_id, event_type, n,
       ROUND(n * 100.0 / SUM(n) OVER (PARTITION BY poly_id), 6) AS pct
FROM counts
"""


_HEX_ZONAL_RES = 1  # odd resolution => Class III grid, so the oracle also
#                     exercises the aperture-7 rotation path


def q_hex_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical hex-cell zonal rollup on the hex7 index (the from-scratch
    H3-structure aperture-7 icosahedral index, `index/hex7.py` — the north
    rule's "encoded to H3 (and S2) cells"): events are encoded to hex cells
    via ONE Arrow UDF (no per-row Python), then a map-side-combinable
    groupBy rolls up count / mean / distinct users per cell. The DuckDB
    oracle recomputes the ids bit-for-bit through hex7.sql_cell_ctes."""
    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "event_id")
    hexed = ev.withColumn(
        "cell",
        tile_assign.hex7_cell_udf(_HEX_ZONAL_RES)(F.col("lon"), F.col("lat")),
    )
    return hexed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# lon/lat with explicit DOUBLE casts at each step: the hex encode feeds
# these into trig, where DuckDB's exact-DECIMAL literal arithmetic could
# drift 1 ulp from Spark's double math and flip a cell at a lattice
# boundary; per-op casts reproduce derived_lonlat() bit-for-bit.
SQL_HEX_ZONAL = f"""
WITH pts AS (SELECT event_id, user_id, value,
                    CAST(-180.0 AS DOUBLE)
                      + CAST((event_id * {LON_MULT}) % {LON_MOD} AS DOUBLE)
                        / CAST(1000.0 AS DOUBLE) AS lon,
                    CAST(-60.0 AS DOUBLE)
                      + CAST((event_id * {LAT_MULT}) % {LAT_MOD} AS DOUBLE)
                        / CAST(1000.0 AS DOUBLE) AS lat FROM events),
{hex7_mod.sql_cell_ctes('pts', 'event_id, user_id, value', _HEX_ZONAL_RES)}
SELECT cell, COUNT(*) AS n_events, ROUND(AVG(value), 6) AS mean_value,
       COUNT(DISTINCT user_id) AS n_users
FROM _hexed GROUP BY cell
"""


def q_utm_forward_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snyder UTM forward (P17's kernel — the exact per-pixel code path
    reproject_raster rides, ``index/proj.py:utm_forward``; the engine's
    analogue of the reference's osr transforms, seagrass_lib.py:232-242)
    under the FULL value-hash oracle: every event is assigned its standard
    UTM zone and projected to (easting, northing) meters in ONE Arrow
    pandas UDF — per-row vectorized central meridian, no per-row Python.
    The DuckDB oracle re-derives both meters BIT-FOR-BIT through
    proj.sql_utm_forward_ctes (tan as sin/cos, powers as multiply chains,
    string-cast double literals; numeric-cast literals round through
    DECIMAL and drift 1 ulp — measured, tests/test_proj_oracle.py)."""

    @F.pandas_udf("zone bigint, easting double, northing double")
    def enc(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo = lon.to_numpy()
        la = lat.to_numpy()
        zone = np.clip(np.floor((lo + 180.0) / 6.0) + 1.0, 1.0, 60.0)
        e, n = proj_mod.utm_forward(lo, la, zone)
        return pd.DataFrame(
            {"zone": zone.astype(np.int64), "easting": e, "northing": n}
        )

    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "event_id")
    u = ev.select("event_id", enc(F.col("lon"), F.col("lat")).alias("_u"))
    return u.select(
        "event_id",
        F.col("_u.zone").alias("zone"),
        F.col("_u.easting").alias("easting"),
        F.col("_u.northing").alias("northing"),
    )


_SQL_UTM_SRC = f"""(SELECT event_id, lon, lat,
    LEAST(GREATEST(FLOOR((lon + CAST('180.0' AS DOUBLE)) / CAST('6.0' AS DOUBLE))
                     + CAST('1.0' AS DOUBLE), CAST('1.0' AS DOUBLE)),
          CAST('60.0' AS DOUBLE)) AS zone
 FROM (SELECT event_id,
         CAST(-180.0 AS DOUBLE)
           + CAST((event_id * {LON_MULT}) % {LON_MOD} AS DOUBLE)
             / CAST(1000.0 AS DOUBLE) AS lon,
         CAST(-60.0 AS DOUBLE)
           + CAST((event_id * {LAT_MULT}) % {LAT_MOD} AS DOUBLE)
             / CAST(1000.0 AS DOUBLE) AS lat FROM events))"""

SQL_UTM_FORWARD = f"""
WITH {proj_mod.sql_utm_forward_ctes(_SQL_UTM_SRC, "event_id, zone", "zone")}
SELECT event_id, CAST(zone AS BIGINT) AS zone, easting, northing FROM _utm
"""


# One RPC00B camera with every one of the 20 cubic terms non-zero (both
# numerators AND both denominators), so the full term order is under the
# oracle; |den coeffs| keep den in [0.99, 1.01] over the normalized box.
_RPC_CAM = {
    "LINE_OFF": 5000.0, "SAMP_OFF": 6000.0, "LAT_OFF": 34.0,
    "LONG_OFF": -119.0, "HEIGHT_OFF": 100.0,
    "LINE_SCALE": 5200.0, "SAMP_SCALE": 6100.0,
    "LAT_SCALE": 0.04, "LONG_SCALE": 0.05, "HEIGHT_SCALE": 500.0,
    "LINE_NUM_COEFF": [
        0.004, 0.021, -1.0, 0.013, 0.0031, -0.0022, 0.0014, 0.0041,
        -0.0035, 0.0026, 0.00065, -0.00032, 0.00027, -0.00041, 0.00036,
        0.00052, -0.00023, 0.00031, -0.00044, 0.00019,
    ],
    "LINE_DEN_COEFF": [
        1.0, 0.0012, -0.0009, 0.0007, 0.00041, -0.00035, 0.00028, 0.00051,
        -0.00046, 0.00033, 0.00011, -0.00009, 0.00008, -0.00012, 0.0001,
        0.00013, -0.00007, 0.00006, -0.00011, 0.00005,
    ],
    "SAMP_NUM_COEFF": [
        -0.003, 1.0, 0.018, -0.011, -0.0027, 0.0033, -0.0018, 0.0038,
        0.0029, -0.0024, -0.00058, 0.00037, -0.00025, 0.00046, -0.00033,
        -0.00048, 0.00027, -0.00035, 0.00041, -0.00021,
    ],
    "SAMP_DEN_COEFF": [
        1.0, -0.0011, 0.0008, -0.0006, 0.00039, 0.00031, -0.00026, 0.00049,
        0.00043, -0.00031, 0.0001, 0.00008, -0.00007, 0.00011, -0.00009,
        0.00012, 0.00006, -0.00005, 0.0001, -0.00004,
    ],
}


def q_rpc_image_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPC00B ground->image (R5's core kernel — the exact rational
    polynomial ``reproject_raster_rpc`` evaluates per pixel, the engine's
    ``gdalwarp -rpc`` / seagrass_lib.py:57-76 coord_to_rpc_image) under
    the FULL value-hash oracle: events are mapped into the camera's
    normalized validity box (same affine both sides), packed/unpacked
    through the 90-double column representation, and evaluated in ONE
    Arrow pandas UDF. The DuckDB oracle re-evaluates all four 20-term
    polynomials BIT-FOR-BIT through proj.sql_rpc_image_ctes (pure
    +,-,*,/ — IEEE-identical; cubes as multiply chains, not POW)."""
    packed = proj_mod.rpc_pack(_RPC_CAM)

    @F.pandas_udf("img_x double, img_y double")
    def enc(lon: pd.Series, lat: pd.Series, h: pd.Series) -> pd.DataFrame:
        cam = proj_mod.rpc_unpack(packed)  # the production column repr
        x, y = proj_mod.rpc_ground_to_image(
            cam, lon.to_numpy(), lat.to_numpy(), h.to_numpy()
        )
        return pd.DataFrame({"img_x": x, "img_y": y})

    c = _RPC_CAM
    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "event_id")
    hmix = ((F.col("event_id") * F.lit(7919)) % F.lit(1601)).cast("double")
    cam_pts = ev.select(
        "event_id",
        (F.lit(c["LONG_OFF"]) + (F.col("lon") / F.lit(200.0)) * F.lit(c["LONG_SCALE"])).alias("lon"),
        (F.lit(c["LAT_OFF"]) + (F.col("lat") / F.lit(67.0)) * F.lit(c["LAT_SCALE"])).alias("lat"),
        (F.lit(c["HEIGHT_OFF"]) + ((hmix - F.lit(800.0)) / F.lit(889.0)) * F.lit(c["HEIGHT_SCALE"])).alias("h"),
    )
    r = cam_pts.select(
        "event_id", enc(F.col("lon"), F.col("lat"), F.col("h")).alias("_r")
    )
    return r.select(
        "event_id",
        F.col("_r.img_x").alias("img_x"),
        F.col("_r.img_y").alias("img_y"),
    )


def _sql_rpc_image() -> str:
    c = _RPC_CAM
    d = proj_mod._dlit
    src = f"""(SELECT event_id,
    {d(c["LONG_OFF"])} + (lon / {d(200.0)}) * {d(c["LONG_SCALE"])} AS lon,
    {d(c["LAT_OFF"])} + (lat / {d(67.0)}) * {d(c["LAT_SCALE"])} AS lat,
    {d(c["HEIGHT_OFF"])} + ((CAST((event_id * 7919) % 1601 AS DOUBLE) - {d(800.0)})
        / {d(889.0)}) * {d(c["HEIGHT_SCALE"])} AS h
 FROM (SELECT event_id,
         CAST(-180.0 AS DOUBLE)
           + CAST((event_id * {LON_MULT}) % {LON_MOD} AS DOUBLE)
             / CAST(1000.0 AS DOUBLE) AS lon,
         CAST(-60.0 AS DOUBLE)
           + CAST((event_id * {LAT_MULT}) % {LAT_MOD} AS DOUBLE)
             / CAST(1000.0 AS DOUBLE) AS lat FROM events))"""
    return f"""
WITH {proj_mod.sql_rpc_image_ctes(src, "event_id", c)}
SELECT event_id, img_x, img_y FROM _rpc
"""


def q_mosaic_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic overlap resolution (§2.7): per grid cell the LATEST event
    wins (ts desc, event_id desc tie-break) — the deterministic last-wins
    merge the reference leaves implicit in gdal_merge."""
    ev = derived_lonlat(_pq(spark, sf_dir, "events"), "event_id")
    ev = ev.withColumn("cell", cells_mod.cell_col("lon", "lat", 6))
    w = Window.partitionBy("cell").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cell", "event_id", F.round("value", 6).alias("value"))
    )


SQL_MOSAIC = f"""
WITH pts AS (SELECT event_id, ts, value, {_SQL_LON.format(k='event_id')} AS lon,
                    {_SQL_LAT.format(k='event_id')} AS lat FROM events),
cells AS (SELECT event_id, ts, value,
        (CAST(6 AS BIGINT) << 58)
        + (LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * 64.0) AS BIGINT), 0), 63) << 29)
        + LEAST(GREATEST(CAST(FLOOR((90.0 - lat) / 180.0 * 64.0) AS BIGINT), 0), 63) AS cell
      FROM pts)
SELECT cell, event_id, ROUND(value, 6) AS value FROM (
  SELECT cell, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ts DESC, event_id DESC) AS rk
  FROM cells) WHERE rk = 1
"""


def q_distinct_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + conditional counts per segment (A3/A12 semantics on the
    relational layer)."""
    ev = _pq(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0)).alias("n_big"),
        F.round(F.stddev_pop(F.when(F.col("value") > 100.0, F.col("value"))), 6).alias("std_big"),
        F.count(F.lit(1)).alias("n_total"),
    )


SQL_DISTINCT_CLASSES = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       ROUND(STDDEV_POP(CASE WHEN value > 100.0 THEN value END), 6) AS std_big,
       COUNT(*) AS n_total
FROM events GROUP BY event_type
"""


def _bbox_wkb_udf():
    @F.pandas_udf(BinaryType())
    def bbox_wkb(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
        return pd.Series(
            [
                bytearray(wkb_mod.bbox_to_wkb(a, b, c, d))
                for a, b, c, d in zip(x0, y0, x1, y1)
            ]
        )

    return bbox_wkb


def q_coverage_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint∩AOI coverage percent (J3, seagrass_lib.py:185-192) —
    engine runs the generic Sutherland–Hodgman clip; the oracle uses the
    closed rect∩rect form. Footprint WKB is built DISTRIBUTED (pandas UDF
    over the box table — no driver collect on the scaling side; the 25-row
    AOI dim side stays a driver-built broadcast fixture)."""
    from gis_scripts_spark.operators import coverage_join as cj

    boxes = _supplier_boxes(_pq(spark, sf_dir, "supplier"))
    # single-file sources arrive as one partition; widen so the WKB-build
    # and exact-clip UDF stages run on every core
    boxes = spread(boxes, parallelism=spark.sparkContext.defaultParallelism)
    bbox_wkb = _bbox_wkb_udf()
    # persist the built-WKB frame: both the candidate pipeline (cell cover)
    # and the final clip join consume it, and without materialization each
    # job re-runs the WKB-build UDF stage (stage capture: 3 UDF stage
    # evaluations per run).
    fp_df = persist(boxes.select(
        F.concat(F.lit("fp_"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("image_id"),
        bbox_wkb("x_min", "y_min", "x_max", "y_max").alias("wkb"),
    ))
    nations = _pq(spark, sf_dir, "nation").select("n_nationkey").collect()
    rects = pd.DataFrame(
        [
            {"aoi_id": f"aoi_{int(r[0])}", **dict(zip(("x_min", "y_min", "x_max", "y_max"), _nation_rect(int(r[0]))))}
            for r in nations
        ]
    )
    out = cj.coverage_join(fp_df, spark.createDataFrame(rects), z=6, rect_id="aoi_id")
    return out.select("image_id", "aoi_id", F.round("coverage", 4).alias("coverage"))


SQL_COVERAGE = f"""
WITH fp AS (
  SELECT 'fp_' || LPAD(CAST(id AS VARCHAR), 4, '0') AS image_id,
         x_min AS fx0, y_min AS fy0, x_max AS fx1, y_max AS fy1
  FROM ({_SQL_SUPPLIER_BOXES})),
rects AS ({_SQL_NATION_RECTS})
SELECT image_id, poly_id AS aoi_id,
       ROUND(GREATEST(LEAST(fx1, x1) - GREATEST(fx0, x0), 0)
             * GREATEST(LEAST(fy1, y1) - GREATEST(fy0, y0), 0)
             / ((fx1 - fx0) * (fy1 - fy0)), 4) AS coverage
FROM fp JOIN rects
  ON LEAST(fx1, x1) > GREATEST(fx0, x0) AND LEAST(fy1, y1) > GREATEST(fy0, y0)
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (A8; np.nanpercentile-style linear
    interpolation — Spark `percentile`, DuckDB `quantile_cont`)."""
    ev = _pq(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.05), 6) AS p05
FROM events GROUP BY event_type
"""


def q_coeff_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation per group (A7, local_match.py:67-113)."""
    ev = _pq(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_pop("value") / F.avg("value"), 6).alias("cv"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_CV = """
SELECT event_type, ROUND(STDDEV_POP(value) / AVG(value), 6) AS cv, COUNT(*) AS n
FROM events GROUP BY event_type
"""


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced sampling (§2.6; hash-ordered selection
    is content-keyed, so DuckDB reproduces it exactly)."""
    from gis_scripts_spark.operators import sampling

    ev = _pq(spark, sf_dir, "events")
    out = sampling.balance_classes(ev, label_col="event_type", key_col="event_id", n_per_class=50)
    return out.select("event_type", "event_id")


SQL_BALANCED_SAMPLE = """
SELECT event_type, event_id FROM (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
  FROM events) WHERE rk <= 50
"""


def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality in the driver suite (rows-only: FFT has no ANSI-SQL
    form; stft/mel exactness is pinned in tests/test_multimodal.py against
    a literal DFT): deterministic clips are synthesized from event keys
    (two-tone sine mixtures) — even keys as real RIFF/PCM WAV, odd keys as
    real FLAC through the from-scratch lossless codec (raster/flac.py;
    identical 16-bit quantization, so the spectra are container-
    independent) — decoded back through the respective parser and run
    through the STFT front-end; per-clip rollup = dominant bin + frame
    count. The dominant bin must equal the louder tone's bin —
    self-verifying like cog_roundtrip (`bin_ok` is computed in the
    result)."""
    from gis_scripts_spark.operators import multimodal as mm

    n = 60 if "0.01" in sf_dir else 40
    sr, n_fft, hop = 8000, 256, 128

    ids = _pq(spark, sf_dir, "events").select("event_id").orderBy("event_id").limit(n)

    def make_wav(r):
        k = int(r["event_id"])
        b1 = 5 + (k * 7) % 100  # louder tone's rFFT bin
        b2 = 5 + (k * 13) % 110
        t = np.arange(sr, dtype=np.float64)
        wave = 0.5 * np.sin(2 * np.pi * (b1 * sr / n_fft) * t / sr) \
            + 0.2 * np.sin(2 * np.pi * (b2 * sr / n_fft) * t / sr)
        if k % 2:  # FLAC container (same 16-bit quantization)
            from gis_scripts_spark.raster import flac as flac_mod

            yield (k, flac_mod.flac_encode(wave, sr))
        else:
            yield (k, mm.wav_encode(wave, sr))

    clips = map_rows(ids, make_wav, StructType(
        [StructField("clip_id", LongType(), False), StructField("bytes", BinaryType(), False)]
    ))
    spec = mm.audio_spectrogram(clips, n_fft=n_fft, hop=hop, id_col="clip_id")
    dom = spec.select(
        "clip_id", "frame_idx",
        F.expr("array_position(energies, array_max(energies)) - 1").alias("dom_bin"),
    )
    per_clip = dom.groupBy("clip_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.min("dom_bin").alias("dom_min"),
        F.max("dom_bin").alias("dom_max"),
    )
    want = F.lit(5) + (F.col("clip_id") * F.lit(7)) % F.lit(100)
    return per_clip.select(
        "clip_id", "n_frames",
        (F.col("dom_min") == F.col("dom_max")).alias("stable"),
        (F.col("dom_min") == want).alias("bin_ok"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality in the driver suite (rows-only: container walks over
    real bytes have no SQL form; codec exactness lives in tests/test_avi.py
    + test_mp4.py): deterministic videos are synthesized from event keys —
    keys%3==0 as raw-DIB (lossless) AVIs, %3==1 as MJPEG with the AVI1
    stripped-DHT layout, %3==2 as MP4/motion-JPEG (ISO-BMFF, raster/mp4.py)
    — then exploded through sample_frames and re-decoded. SELF-VERIFYING:
    each output row carries `px_ok` (DIB: bit-exact equality with the
    re-derived source frame; MJPEG: PSNR >= 40 dB), so a container/codec
    regression is driver-visible."""
    from gis_scripts_spark.operators import multimodal as mm
    from gis_scripts_spark.raster import avi as avi_mod
    from gis_scripts_spark.raster import codec as codec_mod

    n = 24 if "0.01" in sf_dir else 16
    n_frames, h, w = 6, 24, 32

    ids = _pq(spark, sf_dir, "events").select("event_id").orderBy("event_id").limit(n)

    def scene(k: int, i: int) -> np.ndarray:
        yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
        chans = [
            120 + 60 * np.sin((xx + 3 * i) / 9.0 + (k * 7) % 13)
            + 30 * np.cos((yy + 2 * i) / 7.0 + c)
            for c in range(3)
        ]
        return np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)

    def make_avi(r):
        from gis_scripts_spark.raster import mp4 as mp4_mod

        k = int(r["event_id"])
        frames = [scene(k, i) for i in range(n_frames)]
        if k % 3 == 2:  # MP4/motion-JPEG container (raster/mp4.py)
            buf = mp4_mod.mp4_encode(frames)
        else:  # AVI: raw-DIB (k%3==0) or AVI1 stripped-DHT MJPEG
            buf = avi_mod.avi_encode(
                frames, compressed=bool(k % 3 == 1), strip_dht=bool(k % 3 == 1)
            )
        yield (k, buf)

    vids = map_rows(ids, make_avi, StructType(
        [StructField("video_id", LongType(), False), StructField("bytes", BinaryType(), False)]
    ))
    sampled = mm.sample_frames(vids, every_k=2, id_col="video_id")

    def verify(r):
        k, i = int(r["video_id"]), int(r["frame_idx"])
        img = codec_mod.decode(bytes(r["frame_bytes"]))
        src = scene(k, i)
        ok = (
            bool(np.array_equal(img, src))
            if k % 3 == 0  # DIB path: lossless
            else bool(codec_mod.psnr(src, img) >= 40.0)  # MJPEG (AVI or MP4)
        )
        yield (k, i, ok)

    out_schema = StructType(
        [StructField("video_id", LongType(), False), StructField("frame_idx", IntegerType(), False),
         StructField("px_ok", BooleanType(), False)]
    )
    return map_rows(sampled, verify, out_schema)


def q_image_pipeline_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image engine on the input_hint table under the FULL
    oracle (r5): synthesize image+caption rows (real PNG/QNT bytes +
    phash), tile-assign (Web Mercator XYZ + quadkey + S2), PIP-join,
    zonal rollup — the full north-rule pipeline inside the correctness
    gate. The geo columns are overridden with the integer-derived lon/lat
    (the bytes/caption/phash columns still ride the whole pipeline), and
    the AOI side uses the nation-derived rect WKB polygons, so DuckDB
    re-derives the rollup end to end — including the Web Mercator
    asinh(tan(lat)) tiling. Fixture size scales with the events count."""
    from gis_scripts_spark.operators import tile_assign as ta
    from gis_scripts_spark.sources import synth

    ev_n = _pq(spark, sf_dir, "events").count()
    n = max(200, min(600, ev_n // 25))
    images = synth.images_df(spark, n, seed=42)
    images = derived_lonlat(
        images.withColumn("_k", F.substring("image_id", 5, 8).cast("long")), "_k"
    )
    assigned = ta.assign_tiles(images, grid_z=7, tile_z=12, s2_level=12)
    keys = assigned.select("image_id", "lon", "lat", "quadkey", "s2_cell", "phash")
    polys = _aoi_polys_df(spark, sf_dir)
    pairs = pip_join.pip_join(keys, polys, z=7)
    return pairs.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.countDistinct("quadkey").alias("n_tiles"),
        F.min("image_id").alias("first_image"),
    )


def _sql_image_pipeline_zonal() -> str:
    z = 12
    digits = " || ".join(
        f"CAST(((ty >> {i}) & 1) * 2 + ((tx >> {i}) & 1) AS VARCHAR)"
        for i in range(z - 1, -1, -1)
    )
    return f"""
WITH nimg AS (SELECT GREATEST(200, LEAST(600, COUNT(*) // 25)) AS n FROM events),
imgs AS (SELECT CAST(unnest(range(0, (SELECT n FROM nimg))) AS BIGINT) AS i),
pts AS (SELECT i, {_SQL_LON.format(k='i')} AS lon, {_SQL_LAT.format(k='i')} AS lat FROM imgs),
rects AS ({_SQL_NATION_RECTS}),
pairs AS (
  SELECT i, lon, lat, poly_id
  FROM pts JOIN rects ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1),
tiled AS (
  -- asinh(t) spelled as LN(t + SQRT(t*t + 1)) (DuckDB has no ASINH);
  -- sub-ulp engine differences only matter within ~1e-13 of a 1/4096
  -- tile boundary — none of the fixed integer-derived points sit there
  SELECT i, poly_id, tn.t,
    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * {float(1 << z)!r}) AS BIGINT), 0), {(1 << z) - 1}) AS tx,
    LEAST(GREATEST(CAST(FLOOR((1.0 - LN(tn.t + SQRT(tn.t * tn.t + 1.0)) / PI()) / 2.0
        * {float(1 << z)!r}) AS BIGINT), 0), {(1 << z) - 1}) AS ty
  FROM pairs,
       LATERAL (SELECT TAN(RADIANS(GREATEST(-85.05112878, LEAST(85.05112878, lat)))) AS t) tn)
SELECT poly_id, COUNT(*) AS n_images,
       COUNT(DISTINCT {digits}) AS n_tiles,
       MIN(printf('img_%08d', CAST(i AS INTEGER))) AS first_image
FROM tiled GROUP BY poly_id
"""


def q_exif_gps_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF-geotagged JPEGs -> GPS decode -> PIP zonal rollup under the
    FULL oracle — the north-star input's real shape: a web-crawl image
    carries its geotag inside an APP1 EXIF TIFF (D/M/S RATIONALs), not
    as table columns. Per event row: build a real JPEG with a per-row
    EXIF geotag spliced in (integer millidegrees -> exact D/M/S
    rationals, raster/exif.py), parse it back (marker walk + IFD +
    rational decode with a FIXED float order), then the engine pip_join
    against the nation-rect AOI polygons and a zonal rollup. DuckDB
    re-derives the decoded degrees from the same integer millidegrees
    and replays the rollup — the byte path (APP1 splice, both IFDs,
    rational encode/decode) must round-trip exactly for the hash to
    match. Byte-level pins (big-endian, missing tags, marker walk) live
    in tests/test_exif.py."""
    from gis_scripts_spark.operators import multimodal as mm

    ev = _pq(spark, sf_dir, "events").select("event_id")
    ev = spread(ev, parallelism=spark.sparkContext.defaultParallelism)
    k = F.col("event_id")
    src = ev.select(
        "event_id",
        ((k * F.lit(LON_MULT)) % F.lit(LON_MOD) - F.lit(180000)).alias("lon_md"),
        ((k * F.lit(LAT_MULT)) % F.lit(LAT_MOD) - F.lit(60000)).alias("lat_md"),
        (F.lit(1) + k % 8).cast("int").alias("orient"),
        F.format_string(
            "2024:%02d:%02d %02d:%02d:%02d",
            (F.lit(1) + k % 12).cast("int"), (F.lit(1) + k % 28).cast("int"),
            (k % 24).cast("int"), (k % 60).cast("int"), ((k * 7) % 60).cast("int"),
        ).alias("dt"),
    )
    tagged = mm.geotagged_jpegs(
        src, id_col="event_id", lat_md_col="lat_md", lon_md_col="lon_md",
        orientation_col="orient", dt_col="dt",
    )
    meta = mm.exif_metadata(tagged).filter(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    polys = _aoi_polys_df(spark, sf_dir)
    pairs = pip_join.pip_join(meta, polys, z=7)
    return pairs.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("orientation") >= 5, 1).otherwise(0)).alias("n_rotated"),
        F.min("image_id").alias("first_event"),
        F.max("datetime").alias("last_dt"),
    )


def _sql_exif_gps_zonal() -> str:
    # the GPS decode replayed with the exif.py float order: each rational
    # num/den, then d + m/60 + s/3600, negated for S/W refs
    def dec(md: str) -> str:
        amd = f"ABS({md})"
        deg = (
            f"(CAST({amd} // 1000 AS DOUBLE) + 0.0 / 60.0"
            f" + (CAST(({amd} % 1000) * 18 AS DOUBLE) / 5.0) / 3600.0)"
        )
        return f"(CASE WHEN {md} >= 0 THEN {deg} ELSE -{deg} END)"

    return f"""
WITH md AS (
  SELECT event_id AS k,
         (event_id * {LON_MULT}) % {LON_MOD} - 180000 AS lon_md,
         (event_id * {LAT_MULT}) % {LAT_MOD} - 60000 AS lat_md
  FROM events),
dec AS (
  SELECT k, {dec('lon_md')} AS lon, {dec('lat_md')} AS lat,
         CAST(1 + k % 8 AS INTEGER) AS orientation,
         printf('2024:%02d:%02d %02d:%02d:%02d',
                CAST(1 + k % 12 AS INTEGER), CAST(1 + k % 28 AS INTEGER),
                CAST(k % 24 AS INTEGER), CAST(k % 60 AS INTEGER),
                CAST((k * 7) % 60 AS INTEGER)) AS dt
  FROM md),
rects AS ({_SQL_NATION_RECTS}),
pairs AS (
  SELECT d.*, r.poly_id
  FROM dec d JOIN rects r
    ON d.lon > r.x0 AND d.lon < r.x1 AND d.lat > r.y0 AND d.lat < r.y1)
SELECT poly_id, COUNT(*) AS n_images,
       CAST(SUM(CASE WHEN orientation >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rotated,
       MIN(k) AS first_event, MAX(dt) AS last_dt
FROM pairs GROUP BY poly_id
"""


def ensure_phash_images_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Land the planted-near-dup image table as parquet ONCE (setup step,
    atomic staging-dir rename — the verdict-#5 discipline): the ENCODE of
    the fixture (incl. progressive JPEG, the priciest encoder) is input
    preparation, not the operator under test. The timed query then reads
    the parquet — its work is the real near-dup pipeline: mixed-codec
    decode + DCT pHash + banded hamming self-join."""
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from gis_scripts_spark.sources import synth

    n = 600 if "0.01" in sf_dir else 200
    path = f"/tmp/phash_imgs_{_hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    if _os.path.isdir(path):
        return path
    stage = f"{path}.stage.{_uuid.uuid4().hex}"
    synth.images_df(
        spark, n, seed=42, dup_every=5,
        fmts=("png", "qnt", "jpeg", "jpegp", "gif", "bmp"),
    ).write.parquet(stage)
    try:
        _os.rename(stage, path)  # atomic publish; fails if a racer won
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)
    return path


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash (rows-only: the
    pHash comes from real decoded image bytes, which SQL cannot express;
    pair-set exactness vs a numpy all-pairs oracle is pytest's job,
    tests/test_multimodal.py): input_hint-schema images with planted
    re-encoded/brightness-shifted near-dups every 5th row (parquet
    fixture, built untimed by ensure_phash_images_fixture), one Arrow
    decode+pHash pass, then the pigeonhole-banded hamming self-join
    (operators/dedup.py) — only (id, hash) scalars in the Exchanges."""
    from gis_scripts_spark.operators import multimodal

    images = spark.read.parquet(ensure_phash_images_fixture(spark, sf_dir))
    return multimodal.phash_neardup_pairs(images, max_hamming=10)


_H256_MAX_H = 10


def _h256_word_exprs(dialect: str) -> list[str]:
    """The 4 int64 hash words of the 256-bit near-dup fixture, as
    expressions Spark SQL and DuckDB evaluate BIT-FOR-BIT identically
    (pure nonneg BIGINT +,*,%,|,xor,shift — every intermediate < 2^63):
    rows with event_id % 8 in {0,1} share a group-base hash, the id%8==1
    row XORed with <=2 planted bit flips (positions mixed from event_id,
    bit 63 of each word kept zero so words stay nonnegative); all other
    rows are unrelated mixes (odd keyspace 2*id+1 vs the even group
    bases). mix(x) = 32-bit LCG; each word = 31 high + 32 low bits."""
    spark = dialect == "spark"

    def mix(x: str) -> str:
        return f"((({x}) * 2654435761 + 1013904223) % 4294967296)"

    def shl(a: str, b: str) -> str:
        if spark:
            return f"shiftleft(CAST({a} AS BIGINT), CAST({b} AS INT))"
        return f"(CAST({a} AS BIGINT) << CAST({b} AS INTEGER))"

    def xor(a: str, b: str) -> str:
        return f"(({a}) ^ ({b}))" if spark else f"xor({a}, {b})"

    def idiv(a: str, b: int) -> str:
        return f"(({a}) div {b})" if spark else f"(({a}) // {b})"

    k = "(CASE WHEN event_id % 8 <= 1 THEN event_id - (event_id % 8) ELSE 2 * event_id + 1 END)"
    p1 = f"({mix('3 * event_id + 1')} % 252)"
    p2 = f"({mix('3 * event_id + 2')} % 252)"
    cols = []
    for j in range(4):
        raw = (
            f"(({mix(f'{k} * 16 + {2 * j}')} % 2147483648) * 4294967296"
            f" + {mix(f'{k} * 16 + {2 * j + 1}')})"
        )
        flips = " | ".join(
            f"(CASE WHEN {idiv(p, 63)} = {j} THEN {shl('1', f'({p}) % 63')}"
            " ELSE CAST(0 AS BIGINT) END)"
            for p in (p1, p2)
        )
        w = f"(CASE WHEN event_id % 8 = 1 THEN {xor(raw, f'({flips})')} ELSE {raw} END)"
        cols.append(f"{w} AS w{j}")
    return cols


def q_hamming256_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiword (256-bit) banded hamming near-dup join under the FULL
    oracle — the 10^12-row image-dedup scale knob itself (64-bit pHash at
    max_hamming=10 would mean ~6-bit bands; 256 bits keeps 23/24-bit
    bands at the same threshold, several of which SPAN WORD BOUNDARIES,
    so the two-shift extraction path is oracle-gated too). Hashes are
    integer-mixed from event_id (planted <=2-bit near-dups every 8th
    row); DuckDB re-derives every word bit-for-bit and replays the same
    pigeonhole band join + bit_count refine (dedup.multiword_band_sql —
    the band layout comes from the one shared Python function)."""
    ev = _pq(spark, sf_dir, "events").select("event_id")
    # small-scan unlock (same root cause as text_fingerprint's r4 fix):
    # one parquet file = one task, which would serialize the synthesis +
    # band explode + join build on a single core; at real table sizes
    # (scan partitions >= slots) this is a no-op
    ev = spread(ev, parallelism=spark.sparkContext.defaultParallelism)
    df = ev.selectExpr("event_id", *_h256_word_exprs("spark")).select(
        "event_id", F.array("w0", "w1", "w2", "w3").alias("h256")
    )
    out = dedup.hamming_neardup_pairs(
        df, hash_col="h256", id_col="event_id",
        max_hamming=_H256_MAX_H, n_words=4,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_hamming256() -> str:
    words = ", ".join(_h256_word_exprs("duckdb"))
    inner = dedup.multiword_band_sql(
        "hashes", "event_id", ["w0", "w1", "w2", "w3"], _H256_MAX_H
    )
    return f"""
WITH hashes AS (SELECT event_id, {words} FROM events)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM ({inner})
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE tokenization over the documents table (rows-only: a
    rank-greedy merge loop has no ANSI-SQL form; trainer/apply exactness
    is pinned in tests/test_tokenize.py against a brute-force trainer and
    the hand-derived classic merges): ONE map-side-combinable shuffle
    builds the (word, count) histogram, the merge loop runs driver-side
    over that bounded table (never the corpus), merges broadcast, and one
    Arrow pass tokenizes every doc with a distinct-word memo. Output is a
    per-language rollup of token counts + the corpus compression ratio."""
    from gis_scripts_spark.operators import tokenize as tok

    docs = _pq(spark, sf_dir, "documents")
    hist = tok.word_histogram(docs, "text", max_words=50_000)
    # the synthetic corpus has a ~31-word vocabulary; 100 merges leaves it
    # mid-merge (real subword splits) instead of degenerating into a
    # whole-word dictionary
    merges = tok.train_bpe(hist, n_merges=100)
    toks = tok.apply_bpe(docs, merges, id_col="doc_id", keep_tokens=False)
    joined = toks.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pretokens").alias("pretokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.round(F.sum("n_bpe_tokens") / F.sum("n_chars"), 6).alias("tokens_per_char"),
    )


def q_cog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 raster EXPORT path in the driver suite (rows-only: a
    file-writing sink over real TIFF bytes has no SQL form; bit-exactness
    oracles live in tests/test_cog.py): input_hint images -> distributed
    Cloud-Optimized GeoTIFF export (tiled + 'average' overview pyramid,
    ingest.export_cog, atomic executor-side writes) -> re-ingest through
    ingest_geotiffs -> join back to the source rows. SELF-VERIFYING: the
    returned frame decodes BOTH sides executor-side and reports per-image
    pixel equality, anchor (lon/lat) roundtrip, and pyramid depth —
    a driver-visible failure if the export path ever tears."""
    from gis_scripts_spark.sources import ingest, synth

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    n = 24 if "0.01" in sf_dir else 12
    images = synth.images_df(spark, n, seed=7, sizes=(32, 64))
    out_dir = f"/tmp/gss_cogq_{tag}"
    # the export is the sink under test: run it eagerly (atomic per-file
    # rename keeps concurrent runs whole), keep the tiny manifest
    man = ingest.export_cog(images, out_dir, tile=16, compress="deflate")
    man_rows = {r["image_id"]: r["n_levels"] for r in man.collect()}
    man_df = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(man_rows.items())],
        "image_id string, n_levels int",
    )

    back = ingest.ingest_geotiffs(spark, out_dir + "/*.tif").select(
        F.regexp_replace("image_id", r"\.tif$", "").alias("image_id"),
        F.col("bytes").alias("cog_bytes"),
        F.col("lon").alias("cog_lon"),
        F.col("lat").alias("cog_lat"),
    )
    joined = images.select("image_id", "bytes", "fmt", "lon", "lat").join(
        back, "image_id"
    )

    out_schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("pixels_equal", BooleanType(), False),
            StructField("anchor_equal", BooleanType(), False),
            StructField("bands", IntegerType(), False),
        ]
    )

    def compare(r):
        from gis_scripts_spark.raster import codec

        want = codec.decode(bytes(r["bytes"]), r["fmt"])
        got = codec.decode(bytes(r["cog_bytes"]), "raw")
        yield (
            r["image_id"],
            bool(np.array_equal(got[:, :, : want.shape[2]], want)),
            bool(abs(r["cog_lon"] - r["lon"]) < 1e-9 and abs(r["cog_lat"] - r["lat"]) < 1e-9),
            int(want.shape[2]),
        )

    return (
        map_rows(joined, compare, out_schema)
        .join(man_df, "image_id")
        .orderBy("image_id")
    )


def q_image_histogram_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global histogram matching on deliberately-overlapping synthetic
    images (rows-only): returns the solved per-image gain/offset params —
    the reference flagship's output table (global_match.py:314-554)."""
    import numpy as np

    from gis_scripts_spark.raster import codec, match
    from gis_scripts_spark.sources import synth as synth_mod

    rng = np.random.default_rng(42)
    scene = rng.integers(40, 200, (64, 160, 1)).astype(np.uint8)
    res = match.RES_DEG
    rows = []
    for k, (c0, shift) in enumerate([(0, 0), (48, 15), (96, -10)]):
        tile = scene[:, c0 : c0 + 64]
        tile = np.clip(tile.astype(np.int32) + shift, 0, 255).astype(np.uint8)
        rows.append(
            {
                "image_id": f"ov_{k}", "bytes": bytearray(codec.png_encode(tile)),
                "w": 64, "h": 64, "fmt": "png", "caption": f"overlap {k}",
                "phash": codec.phash64(tile), "lon": c0 * res, "lat": 0.0,
                "nodata": -9999.0, "bands": 1,
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth_mod.IMAGE_SCHEMA)
    _, params = match.global_match(df, z=13)
    out = spark.createDataFrame(params)
    return out.select(
        "image_id", "band", F.round("a", 4).alias("gain"), F.round("b", 4).alias("offset")
    )


def q_zonal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U agreement test over zonal percentages
    (Assess_Agreement.R:68-94): per-AOI 'click' vs 'view' percentage
    distributions, one-sided 'less', rank-biserial effect + magnitude
    label. The zonal rollup is distributed; the 2-class test is the
    driver-side finisher exactly like the reference's per-site R call.
    FULL oracle row: U is re-derived in SQL from the pairwise definition."""
    from gis_scripts_spark import stats as stats_mod

    zones = q_zonal_event_stats(spark, sf_dir)
    out = stats_mod.zonal_agreement(zones, "event_type", "pct", "click", "view", "less")
    out["Median"] = out["Median"].round(6)
    out["Rank_biserial"] = out["Rank_biserial"].round(6)
    return spark.createDataFrame(out[["Class", "n", "Median", "Rank_biserial", "Difference"]])


SQL_ZONAL_AGREEMENT = f"""
WITH pts AS (SELECT event_id, event_type, {_SQL_LON.format(k='event_id')} AS lon,
                    {_SQL_LAT.format(k='event_id')} AS lat FROM events),
rects AS ({_SQL_NATION_RECTS}),
pairs AS (SELECT event_id, event_type, poly_id FROM pts JOIN rects
          ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1),
counts AS (SELECT poly_id, event_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
pct AS (SELECT poly_id, event_type,
               n * 100.0 / SUM(n) OVER (PARTITION BY poly_id) AS pct FROM counts),
a AS (SELECT pct AS v FROM pct WHERE event_type = 'click'),
b AS (SELECT pct AS v FROM pct WHERE event_type = 'view'),
u AS (SELECT SUM(CASE WHEN a.v > b.v THEN 1.0 WHEN a.v = b.v THEN 0.5 ELSE 0.0 END) AS u1
      FROM a CROSS JOIN b),
m AS (SELECT (SELECT COUNT(*) FROM a) AS n_a, (SELECT COUNT(*) FROM b) AS n_b,
             (SELECT quantile_cont(v, 0.5) FROM a) AS med_a,
             (SELECT quantile_cont(v, 0.5) FROM b) AS med_b,
             (SELECT u1 FROM u) AS u1),
r AS (SELECT *, ROUND(2.0 * u1 / (n_a * n_b) - 1.0, 6) AS rb FROM m),
lbl AS (SELECT *, CASE WHEN ABS(rb) < 0.1 THEN 'Negligible'
                       WHEN ABS(rb) < 0.3 THEN 'Small'
                       WHEN ABS(rb) < 0.5 THEN 'Moderate'
                       ELSE 'Large' END AS diff FROM r)
SELECT 'click' AS Class, n_a AS n, ROUND(med_a, 6) AS Median,
       rb AS Rank_biserial, diff AS Difference FROM lbl
UNION ALL
SELECT 'view' AS Class, n_b AS n, ROUND(med_b, 6) AS Median,
       rb AS Rank_biserial, diff AS Difference FROM lbl
"""


def _mosaic_fixture_pixels(i: int) -> np.ndarray:
    """32x32x1 int16 scene for image i — integer-mixed so DuckDB re-derives
    every pixel: v = ((mix(i*131071 + r*8191 + c) >> 16) % 200), nodata
    (-9999) planted where v < 10 (5% holes)."""
    r = np.arange(32, dtype=np.int64)[:, None]
    c = np.arange(32, dtype=np.int64)[None, :]
    x = np.int64(i) * 131071 + r * 8191 + c
    h = (x * 2654435761 + 1013904223) % (1 << 32)
    v = ((h >> 16) % 200).astype(np.int16)
    return np.where(v < 10, np.int16(-9999), v)[..., None]


def q_mosaic_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level mosaic compositing under the FULL oracle (r5):
    deterministically overlapping integer-mixed scenes -> per-tile
    last-wins composite (gdal_merge semantics, merge_tif_files.py:48-58).
    The REAL pixel pipeline runs (RAW1 encode -> tile-keyed shuffle ->
    applyInPandas paint -> decode), and because the fixture pixels are
    integer-mixed the emitted per-tile value/position checksums are
    re-derivable relationally: DuckDB replays the paint as
    MAX_BY(value, image) per global pixel (SQL_MOSAIC_COMPOSITE). Byte-
    level paint exactness vs numpy stays pinned in tests/test_mosaic.py.
    Fixture size scales with the events row count so the oracle follows
    the gate's sf."""

    from gis_scripts_spark.operators import mosaic as mosaic_mod
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster.match import RES_DEG
    from gis_scripts_spark.sources import synth as synth_mod

    ev_n = _pq(spark, sf_dir, "events").count()
    n = max(24, min(96, ev_n // 250))
    rows = []
    for i in range(n):
        px = _mosaic_fixture_pixels(i)
        rows.append(
            {
                "image_id": f"mc_{i:04d}",
                "bytes": bytearray(codec_mod.raw_encode(px)),
                "w": 32, "h": 32, "fmt": "raw", "caption": f"scene {i}",
                "phash": 0,
                "lon": float((i % 10) * 16 * RES_DEG),  # 50% horizontal overlap
                "lat": float((i // 10) * 16 * RES_DEG),
                "nodata": -9999.0, "bands": 1,
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth_mod.IMAGE_SCHEMA)
    out = mosaic_mod.mosaic_composite(df, tile_px=64, order="last", nodata_col="nodata",
                                      fill_value=-9999.0)

    chk_schema = StructType(
        [
            StructField("tile_x", LongType()),
            StructField("tile_y", LongType()),
            StructField("n_sources", IntegerType()),
            StructField("n_valid_px", LongType()),
            StructField("px_sum", LongType()),
            StructField("px_chk", LongType()),
        ]
    )

    def tile_checksums(row):
        img = codec_mod.decode(bytes(row["bytes"]), row["fmt"])[:, :, 0]
        val = img.astype(np.int64)
        mask = val != -9999
        gy = np.int64(row["tile_y"]) * 64 + np.arange(64, dtype=np.int64)[:, None]
        gx = np.int64(row["tile_x"]) * 64 + np.arange(64, dtype=np.int64)[None, :]
        pos = (gy % 32768) * 32768 + (gx % 32768)
        wt = ((((pos * 2654435761 + 1013904223) % (1 << 32)) >> 16) % 997) + 1
        yield (int(row["tile_x"]), int(row["tile_y"]), int(row["n_sources"]),
               int(row["n_valid_px"]), int(val[mask].sum()), int((val[mask] * wt[mask]).sum()))

    return map_rows(out, tile_checksums, chk_schema)


SQL_MOSAIC_COMPOSITE = """
WITH nimg AS (SELECT GREATEST(24, LEAST(96, COUNT(*) // 250)) AS n FROM events),
imgs AS (SELECT CAST(unnest(range(0, (SELECT n FROM nimg))) AS BIGINT) AS i),
rr AS (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS r),
cl AS (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS c),
src AS (
  SELECT i, (i % 10) * 16 + 180000 + c AS gx,
         90000 - (i // 10) * 16 - 32 + r AS gy,
         (((i * 131071 + r * 8191 + c) * 2654435761 + 1013904223) % 4294967296 >> 16) % 200 AS v
  FROM imgs, rr, cl),
comp AS (
  SELECT gx, gy, MAX_BY(v, i) AS val
  FROM src WHERE v >= 10 GROUP BY gx, gy),
nsrc AS (
  SELECT gx // 64 AS tile_x, gy // 64 AS tile_y,
         CAST(COUNT(DISTINCT i) AS INTEGER) AS n_sources
  FROM src GROUP BY 1, 2),
agg AS (
  SELECT gx // 64 AS tile_x, gy // 64 AS tile_y,
         COUNT(*) AS n_valid_px, CAST(SUM(val) AS BIGINT) AS px_sum,
         CAST(SUM(val * (((((gy % 32768) * 32768 + (gx % 32768)) * 2654435761 + 1013904223)
                          % 4294967296 >> 16) % 997 + 1)) AS BIGINT) AS px_chk
  FROM comp GROUP BY 1, 2)
SELECT a.tile_x, a.tile_y, n.n_sources, a.n_valid_px, a.px_sum, a.px_chk
FROM agg a JOIN nsrc n USING (tile_x, tile_y)
"""


def _warp_fixture_pixels(i: int) -> np.ndarray:
    """24x24x1 int16 scene for image i — integer-mixed so DuckDB re-derives
    every pixel: v = (mix(i*131071 + r*8191 + c) >> 16) % 1000."""
    r = np.arange(24, dtype=np.int64)[:, None]
    c = np.arange(24, dtype=np.int64)[None, :]
    x = np.int64(i) * 131071 + r * 8191 + c
    h = (x * 2654435761 + 1013904223) % (1 << 32)
    return ((h >> 16) % 1000).astype(np.int16)[..., None]


def q_reproject_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS warp under the FULL oracle (r5): deterministic integer-mixed
    scenes reprojected to UTM 33N at 120 m via the from-scratch Snyder
    transforms (index/proj.py). The REAL pixel pipeline runs (RAW1 encode
    -> mapInPandas warp: 132-point boundary forward projection, TAP grid,
    per-target-pixel INVERSE projection, nearest sample -> decode), and
    DuckDB replays every step relationally: sql_utm_forward_ctes +
    sql_utm_inverse_ctes reproduce both projection legs bit-for-bit
    (tests/test_proj_oracle.py), the TAP/grid float math mirrors the
    kernel's evaluation order, and the emitted per-image value/position
    checksums are exact int64 sums. Warp exactness vs numpy stays pinned
    in tests/test_proj_warp.py."""

    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import warp as warp_mod
    from gis_scripts_spark.sources import synth as synth_mod

    rows = []
    for i in range(12):
        px = _warp_fixture_pixels(i)
        rows.append(
            {
                "image_id": f"wp_{i:03d}",
                "bytes": bytearray(codec_mod.raw_encode(px)),
                "w": 24, "h": 24, "fmt": "raw", "caption": f"warp {i}",
                "phash": 0,
                "lon": 14.0 + (i % 4) * 0.03, "lat": 51.8 + (i // 4) * 0.03,
                "nodata": -9999.0, "bands": 1,
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth_mod.IMAGE_SCHEMA)
    out = warp_mod.reproject_raster(df, "utm:33n", 120.0, method="nearest")

    chk_schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("crs", StringType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("x0", DoubleType()),
            StructField("y0", DoubleType()),
            StructField("n_valid", LongType()),
            StructField("px_sum", LongType()),
            StructField("px_chk", LongType()),
        ]
    )

    def image_checksums(row):
        yield (row["image_id"], row["crs"], int(row["w"]), int(row["h"]),
               round(float(row["x0"]), 2), round(float(row["y0"]), 2), *_warp_checksums(row))

    return map_rows(out, image_checksums, chk_schema)


def _warp_checksums(row) -> tuple[int, int, int]:
    """(n_valid, px_sum, px_chk) of a warped image's band 0, -9999 masked,
    with a per-pixel weight from its (row, col): the pixel checksums the
    warp queries share with their SQL replays."""
    from gis_scripts_spark.raster import codec as codec_mod

    val = codec_mod.decode(bytes(row["bytes"]), row["fmt"])[:, :, 0].astype(np.int64)
    mask = val != -9999
    r = np.arange(val.shape[0], dtype=np.int64)[:, None]
    c = np.arange(val.shape[1], dtype=np.int64)[None, :]
    wt = (((((r * 8191 + c) * 2654435761 + 1013904223) % (1 << 32)) >> 16) % 997) + 1
    return int(mask.sum()), int(val[mask].sum()), int((val[mask] * wt[mask]).sum())


def _sql_reproject_utm() -> str:
    """The CRS warp replayed relationally: 132 boundary points -> forward
    UTM -> TAP grid -> per-target-pixel inverse UTM -> nearest sample of
    the integer-mixed source -> per-image checksums. Float expressions
    mirror warp._warp_one's evaluation order exactly."""
    d = proj_mod._dlit
    res = d(120.0)
    rd = d(0.001)  # RES_DEG
    half = d(0.5)
    fwd = proj_mod.sql_utm_forward_ctes("edges", "i", 33, lon_col="elon", lat_col="elat")
    inv = proj_mod.sql_utm_inverse_ctes("tpx", "i, r, c, lon, lat, x0, y0, ow, oh",
                                        33, e_col="tx", n_col="ty")
    return f"""
WITH imgs AS (
  SELECT CAST(i AS BIGINT) AS i,
         {d(14.0)} + CAST(i % 4 AS DOUBLE) * {d(0.03)} AS lon,
         {d(51.8)} + CAST(i // 4 AS DOUBLE) * {d(0.03)} AS lat
  FROM (SELECT unnest(range(0, 12)) AS i)),
bsj AS (SELECT CAST(unnest(range(0, 33)) AS DOUBLE) / {d(32.0)} AS bs),
grp AS (SELECT unnest(range(0, 4)) AS g),
edges AS (
  SELECT i,
         CASE WHEN g IN (0, 1) THEN lon + (bs * {d(24.0)}) * {rd}
              WHEN g = 2 THEN lon ELSE lon + {d(24.0)} * {rd} END AS elon,
         CASE WHEN g = 0 THEN lat
              WHEN g = 1 THEN lat + {d(24.0)} * {rd}
              ELSE lat + (bs * {d(24.0)}) * {rd} END AS elat
  FROM imgs, bsj, grp),
{fwd},
grid AS (
  SELECT i, FLOOR(MIN(easting) / {res}) * {res} AS x0,
         CEIL(MAX(northing) / {res}) * {res} AS y1,
         GREATEST(CAST(CEIL((MAX(easting) - FLOOR(MIN(easting) / {res}) * {res}) / {res}) AS BIGINT), 1) AS ow,
         GREATEST(CAST(CEIL((CEIL(MAX(northing) / {res}) * {res} - MIN(northing)) / {res}) AS BIGINT), 1) AS oh
  FROM _utm GROUP BY i),
tpx AS (
  SELECT g.i, rr.r, cc.c, im.lon, im.lat, g.x0, g.y1 AS y0, g.ow, g.oh,
         g.x0 + (CAST(cc.c AS DOUBLE) + {half}) * {res} AS tx,
         g.y1 - (CAST(rr.r AS DOUBLE) + {half}) * {res} AS ty
  FROM grid g
  JOIN imgs im USING (i)
  CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS r) rr
  CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS c) cc
  WHERE rr.r < g.oh AND cc.c < g.ow),
{inv},
sampled AS (
  SELECT i, r, c, lon, lat, x0, y0, ow, oh,
         CAST(FLOOR((glon - lon) / {rd} - {half} + {half}) AS BIGINT) AS ci,
         CAST(FLOOR((lat + {d(24.0)} * {rd} - glat) / {rd} - {half} + {half}) AS BIGINT) AS ri
  FROM _inv),
vals AS (
  SELECT i, r, c, x0, y0, ow, oh,
         CASE WHEN ci >= 0 AND ci < 24 AND ri >= 0 AND ri < 24 THEN
           (((i * 131071 + ri * 8191 + ci) * 2654435761 + 1013904223) % 4294967296 >> 16) % 1000
         END AS v
  FROM sampled)
SELECT printf('wp_%03d', CAST(i AS INTEGER)) AS image_id,
       'utm:33n' AS crs,
       CAST(MAX(ow) AS INTEGER) AS w, CAST(MAX(oh) AS INTEGER) AS h,
       ROUND(MAX(x0), 2) AS x0, ROUND(MAX(y0), 2) AS y0,
       CAST(COUNT(v) AS BIGINT) AS n_valid,
       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS px_sum,
       CAST(COALESCE(SUM(v * (((((r * 8191 + c) * 2654435761 + 1013904223)
                                % 4294967296) >> 16) % 997 + 1)), 0) AS BIGINT) AS px_chk
FROM vals GROUP BY i
"""


def _rpc_fixture_cam(i: int) -> dict:
    """Camera i of the reproject_rpc fixture — shared by the Spark query
    and the DuckDB oracle's coefficient VALUES rows."""
    z20 = [0.0] * 20
    line_num = list(z20); line_num[0:4] = [0.001, 0.02 + 0.001 * i, -1.0, 0.01]
    samp_num = list(z20); samp_num[0:4] = [-0.002, 1.0, 0.03 - 0.002 * i, -0.01]
    den = list(z20); den[0] = 1.0; den[4] = 0.0003
    return {
        "LINE_OFF": 24.0, "SAMP_OFF": 24.0,
        "LAT_OFF": 34.0 + 0.05 * i, "LONG_OFF": -119.0 + 0.06 * i,
        "HEIGHT_OFF": 0.0, "LINE_SCALE": 26.0, "SAMP_SCALE": 26.0,
        "LAT_SCALE": 0.02, "LONG_SCALE": 0.025, "HEIGHT_SCALE": 500.0,
        "LINE_NUM_COEFF": line_num, "LINE_DEN_COEFF": den,
        "SAMP_NUM_COEFF": samp_num, "SAMP_DEN_COEFF": den,
    }


def _rpc_fixture_pixels(i: int) -> np.ndarray:
    """48x48x1 int16 scene for camera i — integer-mixed (SQL-re-derivable)."""
    r = np.arange(48, dtype=np.int64)[:, None]
    c = np.arange(48, dtype=np.int64)[None, :]
    x = np.int64(i) * 131071 + r * 8191 + c
    h = (x * 2654435761 + 1013904223) % (1 << 32)
    return ((h >> 16) % 1000).astype(np.int16)[..., None]


def q_reproject_rpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPC georeferencing warp (R5) under the FULL oracle (r5):
    un-georeferenced L1B-style scenes + 20-term rational polynomial
    coefficients -> geographic grid (``gdalwarp -rpc``,
    seagrass_lib.py:232-242). The REAL pipeline runs (mapInPandas warp:
    132-point boundary Newton inversion of the rational model, TAP grid,
    per-target-pixel ground->image projection, nearest sample), and the
    whole chain is pure +,-,*,/ — so the DuckDB oracle replays it exactly:
    a RECURSIVE CTE runs the same 15 finite-difference Newton steps over
    per-camera coefficient columns, then the forward polynomials sample
    the integer-mixed source. Grid origins are emitted as exact integer
    grid indices (x0k/y0k = origin / res) and pixels as value/position
    checksums."""

    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import warp as warp_mod

    rows = []
    for i in range(8):
        px = _rpc_fixture_pixels(i)
        rows.append({
            "image_id": f"rpc_{i:03d}", "bytes": bytearray(codec_mod.raw_encode(px)),
            "fmt": "raw", "rpc": proj_mod.rpc_pack(_rpc_fixture_cam(i)),
            "nodata": -9999.0,
        })
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = warp_mod.reproject_raster_rpc(df, 1e-3, height=50.0, method="nearest")

    chk_schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("crs", StringType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("x0k", LongType()),
            StructField("y0k", LongType()),
            StructField("n_valid", LongType()),
            StructField("px_sum", LongType()),
            StructField("px_chk", LongType()),
        ]
    )

    def image_checksums(row):
        yield (row["image_id"], row["crs"], int(row["w"]), int(row["h"]),
               int(round(float(row["x0"]) * 1000.0)), int(round(float(row["y0"]) * 1000.0)),
               *_warp_checksums(row))

    return map_rows(out, image_checksums, chk_schema)


def _sql_reproject_rpc() -> str:
    """The RPC warp replayed relationally (all ops +,-,*,/ => bit-exact by
    construction): recursive-CTE Newton inversion for the 132 boundary
    points, TAP grid, forward rational projection per target pixel,
    nearest sample of the integer-mixed source, per-image checksums."""
    d = proj_mod._dlit
    eps = d(1e-6)
    res = d(0.001)
    half = d(0.5)

    cam_cols = (
        ["l_off", "s_off", "lat_off", "lon_off", "h_off",
         "l_sc", "s_sc", "lat_sc", "lon_sc", "h_sc"]
        + [f"ln{k}" for k in range(20)] + [f"ld{k}" for k in range(20)]
        + [f"sn{k}" for k in range(20)] + [f"sd{k}" for k in range(20)]
    )
    cam_rows = []
    for i in range(8):
        cam = _rpc_fixture_cam(i)
        vals = [cam["LINE_OFF"], cam["SAMP_OFF"], cam["LAT_OFF"], cam["LONG_OFF"],
                cam["HEIGHT_OFF"], cam["LINE_SCALE"], cam["SAMP_SCALE"],
                cam["LAT_SCALE"], cam["LONG_SCALE"], cam["HEIGHT_SCALE"],
                *cam["LINE_NUM_COEFF"], *cam["LINE_DEN_COEFF"],
                *cam["SAMP_NUM_COEFF"], *cam["SAMP_DEN_COEFF"]]
        cam_rows.append("(" + ", ".join([f"CAST({i} AS BIGINT)"] + [d(v) for v in vals]) + ")")
    cams = ("cams(i, " + ", ".join(cam_cols) + ") AS (VALUES\n  "
            + ",\n  ".join(cam_rows) + ")")

    def p(pfx, L, P):
        return proj_mod.sql_rpc_poly_cols(pfx, L, P, "H")

    c0 = f"{p('sn', 'L', 'P')} / {p('sd', 'L', 'P')}"
    r0 = f"{p('ln', 'L', 'P')} / {p('ld', 'L', 'P')}"
    cl = f"{p('sn', f'(L + {eps})', 'P')} / {p('sd', f'(L + {eps})', 'P')}"
    rl = f"{p('ln', f'(L + {eps})', 'P')} / {p('ld', f'(L + {eps})', 'P')}"
    cp = f"{p('sn', 'L', f'(P + {eps})')} / {p('sd', 'L', f'(P + {eps})')}"
    rp = f"{p('ln', 'L', f'(P + {eps})')} / {p('ld', 'L', f'(P + {eps})')}"
    fcol = f"({p('sn', 'L', 'P')} / {p('sd', 'L', 'P')}) * s_sc + s_off"
    frow = f"({p('ln', 'L', 'P')} / {p('ld', 'L', 'P')}) * l_sc + l_off"

    return f"""
WITH RECURSIVE {cams},
bsj AS (SELECT CAST(unnest(range(0, 33)) AS DOUBLE) / {d(32.0)} AS bs,
               CAST(unnest(range(0, 33)) AS BIGINT) AS j),
grp AS (SELECT unnest(range(0, 4)) AS g),
targets AS (
  SELECT cams.i, g * 33 + j AS eid,
         (CASE WHEN g IN (0, 1) THEN bs * {d(47.0)}
               WHEN g = 2 THEN {d(0.0)} ELSE {d(47.0)} END - s_off) / s_sc AS tc,
         (CASE WHEN g = 0 THEN {d(0.0)} WHEN g = 1 THEN {d(47.0)}
               ELSE bs * {d(47.0)} END - l_off) / l_sc AS tr,
         ({d(50.0)} - h_off) / h_sc AS H
  FROM cams, bsj, grp),
newton AS (
  SELECT i, eid, tc, tr, H, 0 AS step,
         CAST('0.0' AS DOUBLE) AS L, CAST('0.0' AS DOUBLE) AS P
  FROM targets
  UNION ALL
  SELECT i, eid, tc, tr, H, step + 1,
         L - (j11 * fx - j01 * fy) / det AS L,
         P - (-j10 * fx + j00 * fy) / det AS P
  FROM (
    SELECT i, eid, tc, tr, H, step, L, P, fx, fy, j00, j01, j10, j11,
           CASE WHEN ABS(j00 * j11 - j01 * j10) < {d(1e-15)} THEN {d(1e-15)}
                ELSE j00 * j11 - j01 * j10 END AS det
    FROM (
      SELECT i, eid, tc, tr, H, step, L, P,
             c0 - tc AS fx, r0 - tr AS fy,
             (cl - c0) / {eps} AS j00, (cp - c0) / {eps} AS j01,
             (rl - r0) / {eps} AS j10, (rp - r0) / {eps} AS j11
      FROM (
        SELECT n.i, n.eid, n.tc, n.tr, n.H, n.step, n.L, n.P,
               {c0} AS c0, {r0} AS r0, {cl} AS cl, {rl} AS rl,
               {cp} AS cp, {rp} AS rp
        FROM newton n JOIN cams USING (i)
        WHERE n.step < 15))) ),
inv AS (
  SELECT n.i, n.eid, n.L * lon_sc + lon_off AS elon, n.P * lat_sc + lat_off AS elat
  FROM newton n JOIN cams USING (i) WHERE n.step = 15),
grid AS (
  SELECT i,
         CAST(FLOOR(MIN(elon) / {res}) AS BIGINT) AS kx,
         CAST(CEIL(MAX(elat) / {res}) AS BIGINT) AS ky,
         FLOOR(MIN(elon) / {res}) * {res} AS x0,
         CEIL(MAX(elat) / {res}) * {res} AS y1,
         GREATEST(CAST(CEIL((MAX(elon) - FLOOR(MIN(elon) / {res}) * {res}) / {res}) AS BIGINT), 1) AS ow,
         GREATEST(CAST(CEIL((CEIL(MAX(elat) / {res}) * {res} - MIN(elat)) / {res}) AS BIGINT), 1) AS oh
  FROM inv GROUP BY i),
tpx AS (
  SELECT g.i, rr.r, cc.c, g.kx, g.ky, g.ow, g.oh,
         g.x0 + (CAST(cc.c AS DOUBLE) + {half}) * {res} AS tx,
         g.y1 - (CAST(rr.r AS DOUBLE) + {half}) * {res} AS ty
  FROM grid g
  CROSS JOIN (SELECT CAST(unnest(range(0, 96)) AS BIGINT) AS r) rr
  CROSS JOIN (SELECT CAST(unnest(range(0, 96)) AS BIGINT) AS c) cc
  WHERE rr.r < g.oh AND cc.c < g.ow),
tnorm AS (
  SELECT t.*, cams.* EXCLUDE (i),
         (t.tx - lon_off) / lon_sc AS L, (t.ty - lat_off) / lat_sc AS P,
         ({d(50.0)} - h_off) / h_sc AS H
  FROM tpx t JOIN cams USING (i)),
samp AS (
  SELECT i, r, c, kx, ky, ow, oh,
         CAST(FLOOR(({fcol}) + {half}) AS BIGINT) AS ci,
         CAST(FLOOR(({frow}) + {half}) AS BIGINT) AS ri
  FROM tnorm),
vals AS (
  SELECT i, r, c, kx, ky, ow, oh,
         CASE WHEN ci >= 0 AND ci < 48 AND ri >= 0 AND ri < 48 THEN
           (((i * 131071 + ri * 8191 + ci) * 2654435761 + 1013904223) % 4294967296 >> 16) % 1000
         END AS v
  FROM samp)
SELECT printf('rpc_%03d', CAST(i AS INTEGER)) AS image_id,
       'lonlat' AS crs,
       CAST(MAX(ow) AS INTEGER) AS w, CAST(MAX(oh) AS INTEGER) AS h,
       MAX(kx) AS x0k, MAX(ky) AS y0k,
       CAST(COUNT(v) AS BIGINT) AS n_valid,
       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS px_sum,
       CAST(COALESCE(SUM(v * (((((r * 8191 + c) * 2654435761 + 1013904223)
                                % 4294967296) >> 16) % 997 + 1)), 0) AS BIGINT) AS px_chk
FROM vals GROUP BY i
"""


def q_seamless_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference flagship end-to-end (rows-only): overlapping
    shifted INT16 scenes with -9999 holes -> global histogram match (solve
    + nodata-masked, dtype-preserving gain apply) -> per-tile last-wins
    pixel composite (the gdal.Warp merge step, global_match.py:302-312;
    GDT_Int16 output parity, global_match.py:212). Emits tile ids + source
    counts + byte md5."""
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import match as match_mod
    from gis_scripts_spark.sources import synth as synth_mod

    rng = np.random.default_rng(42)
    scene = rng.integers(200, 2800, (64, 160, 1)).astype(np.int16)
    res = match_mod.RES_DEG
    rows = []
    for k, (c0, shift) in enumerate([(0, 0), (48, 150), (96, -100)]):
        tile = (scene[:, c0 : c0 + 64].astype(np.int32) + shift).astype(np.int16)
        tile[4 + k : 10 + k, 4 : 10] = -9999  # planted nodata holes
        rows.append(
            {
                "image_id": f"sm_{k}", "bytes": bytearray(codec_mod.raw_encode(tile)),
                "w": 64, "h": 64, "fmt": "raw", "caption": f"seam {k}",
                "phash": 0, "lon": c0 * res, "lat": 0.0,
                "nodata": -9999.0, "bands": 1,
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth_mod.IMAGE_SCHEMA)
    tiles, _params = match_mod.global_match_mosaic(
        df, z=13, tile_px=64, order="last", nodata_col="nodata")
    return tiles.select(
        "tile_x", "tile_y", "n_sources", "n_valid_px", F.md5("bytes").alias("tile_md5")
    )


# ----------------------------------------------------- streaming (§2.9)
_STREAM_TS_BASE = 1767225600  # 2026-01-01 00:00:00 UTC
_STREAM_TS_MULT, _STREAM_TS_MOD = 7919, 5400  # event times span 90 minutes


def ensure_stream_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Streaming source fixture (SETUP step, untimed — r4 verdict #5): the
    events table split into 6 parquet files by event_id % 6 with an
    integer-derived event-time column, plus a far-future SENTINEL file
    (later mtime, so FileStreamSource processes it last) that advances the
    watermark past every real window so append mode finalizes them.
    Atomic staging-dir rename; concurrent builders race safely."""
    import hashlib as _hashlib
    import shutil as _shutil
    import uuid as _uuid

    # v2 in the key: a fixture-FORMAT version (ADVICE — without it any
    # change to the time-mixing constants or layout silently reuses a stale
    # cached fixture built by older code)
    _fixture_key = f"v2|{_STREAM_TS_BASE}|{LON_MULT}|{LAT_MULT}|{sf_dir}"
    path = f"/tmp/gss_streamq_{_hashlib.md5(_fixture_key.encode()).hexdigest()[:10]}"
    if os.path.isdir(path):
        return path
    ev = _pq(spark, sf_dir, "events").select("event_id", "event_type").toPandas()
    k = ev["event_id"].to_numpy(np.int64)
    ev["lon"] = -180.0 + ((k * LON_MULT) % LON_MOD) / 1000.0
    ev["lat"] = -60.0 + ((k * LAT_MULT) % LAT_MOD) / 1000.0
    # UTC microseconds: pandas-default NANOS parquet is unreadable under a
    # Spark TimestampType stream schema
    ev["ts"] = pd.to_datetime(
        _STREAM_TS_BASE + (k * _STREAM_TS_MULT) % _STREAM_TS_MOD,
        unit="s", utc=True,
    ).astype("datetime64[us, UTC]")
    stage = f"{path}.stage.{_uuid.uuid4().hex}"
    os.makedirs(stage)
    # files ordered by EVENT TIME (15-minute slices — the realistic stream
    # arrival shape; files spanning the full range would strand their early
    # rows beyond the advancing watermark), with a deterministic ~10% LATE
    # subset shifted one file later: 15 min of lateness sits INSIDE the
    # 20-minute watermark, so those rows must still land in their window
    secs = ((k * _STREAM_TS_MULT) % _STREAM_TS_MOD).astype(np.int64)
    fidx = np.minimum(secs // 900, 5)
    fidx = np.where((k * 31) % 10 == 0, np.minimum(fidx + 1, 5), fidx)
    for part in range(6):
        ev[fidx == part].to_parquet(
            os.path.join(stage, f"batch_{part}.parquet"), index=False)
    # sentinel INSIDE aoi_0 (it must survive the PIP join to reach the
    # watermark operator); its own window never finalizes and is filtered
    x0, y0, x1, y1 = _nation_rect(0)
    pd.DataFrame({
        "event_id": np.array([-1], np.int64), "event_type": ["sentinel"],
        "lon": [(x0 + x1) / 2.0], "lat": [(y0 + y1) / 2.0],
        "ts": pd.to_datetime(
            [_STREAM_TS_BASE + 864000], unit="s", utc=True
        ).astype("datetime64[us, UTC]"),
    }).to_parquet(os.path.join(stage, "zz_sentinel.parquet"), index=False)
    now = time.time()
    for f in sorted(os.listdir(stage)):
        t = now + 3600 if f.startswith("zz_") else now + 10 * int(f[6])
        os.utime(os.path.join(stage, f), (t, t))
    try:
        os.rename(stage, path)
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)  # lost the race: done
    return path


def q_streaming_windowed_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the FULL DuckDB oracle (§2.9): a REAL
    incremental run — file micro-batches (maxFilesPerTrigger=2) through a
    stream-static PIP join and a watermarked event-time tumbling-window
    zonal rollup, append-mode parquet sink with a fresh checkpoint per
    invocation (every run does the full streaming work; the SOURCE fixture
    is static + shared). Windows finalize when the sentinel batch advances
    the watermark; a drain pass flushes state. The final table is
    event-time-determined — micro-batch boundaries cannot change it — so
    DuckDB re-derives it exactly: same integer-mixed event times, same PIP
    rectangles, same epoch-aligned 10-minute buckets. Replaces the
    reference's rebuild-the-zonal-table-per-run batch habit
    (Assess_Agreement.R) with an incremental pipeline."""
    from pyspark.sql.types import TimestampType

    from gis_scripts_spark import streaming as streaming_mod

    src = ensure_stream_events_fixture(spark, sf_dir)
    run = f"/tmp/gss_streamrun_{uuid.uuid4().hex}"
    sink, ckpt = os.path.join(run, "sink"), os.path.join(run, "ckpt")
    schema = StructType([
        StructField("event_id", LongType(), False),
        StructField("event_type", StringType(), False),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False),
        StructField("ts", TimestampType(), False),
    ])
    polys = _aoi_polys_df(spark, sf_dir)

    def one_pass(max_files: int | None) -> None:
        stream = spark.readStream.schema(schema)
        if max_files:
            stream = stream.option("maxFilesPerTrigger", max_files)
        joined = pip_join.pip_join(stream.parquet(src), polys, z=7)
        out = streaming_mod.stream_windowed_zonal_counts(
            joined, ts_col="ts", window="10 minutes", watermark="20 minutes")
        q = (out.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination()

    # state-store partitioning is sized PER STREAM on a real deployment
    # (the shuffle-partition count is frozen into the checkpoint at first
    # start); 64 session partitions x 5 micro-batches of a small stream is
    # pure state-file churn
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        one_pass(2)     # incremental micro-batches; sentinel file lands last
        one_pass(None)  # drain: no new files, flush watermark-expired state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    got = spark.read.parquet(sink)
    res = (
        got.filter(F.col("window_start").cast("long") < _STREAM_TS_BASE + 6000)
        .select(
            F.col("window_start").cast("long").alias("win_start_s"),
            "poly_id",
            F.col("n_images").alias("n_events"),
        )
    )
    # materialize the (tiny) final table, then remove the per-invocation
    # sink+checkpoint dir (ADVICE: every bench/correctness run leaked a
    # /tmp/gss_streamrun_* tree; the returned frame lazily read the sink,
    # so the rmtree must come after collection)
    import shutil as _shutil

    pdf = res.toPandas()
    _shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(pdf, schema=res.schema)


SQL_STREAMING_WINDOWED_ZONAL = f"""
WITH pts AS (SELECT event_id,
                    {_SQL_LON.format(k='event_id')} AS lon,
                    {_SQL_LAT.format(k='event_id')} AS lat,
                    ({_STREAM_TS_BASE} + (event_id * {_STREAM_TS_MULT}) % {_STREAM_TS_MOD}) AS es
             FROM events),
rects AS ({_SQL_NATION_RECTS}),
pairs AS (SELECT es, poly_id FROM pts JOIN rects
          ON lon > x0 AND lon < x1 AND lat > y0 AND lat < y1)
SELECT (es // 600) * 600 AS win_start_s, poly_id, COUNT(*) AS n_events
FROM pairs GROUP BY 1, 2
"""


# Every entry runs in one cache scope (cachescope): the persists of the
# operators it calls live until the caller drops the frame it returns.
QUERIES: dict = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "tile_assign": q_tile_assign,
    "pip_pairs": q_pip_pairs,
    "geoparquet_pip": q_geoparquet_pip,
    "geojson_pip": q_geojson_pip,
    "zip_manifest_coverage": q_zip_manifest_coverage,
    "pip_counts": q_pip_counts,
    "grid_agg_mean_of_means": q_grid_agg,
    "knn_k5": q_knn,
    "bbox_overlap_pairs": q_overlap_pairs,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "embed_cosine_top3": q_embed_topk,
    "ann_ivf_top3": q_ann_ivf_topk,
    "ann_lsh_top3": q_ann_lsh_topk,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "minhash_lsh_pairs": q_minhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "las_ground_stats": q_las_ground_stats,
    "laz_ground_stats": q_laz_ground_stats,
    "simhash_pairs": q_simhash_pairs,
    "text_quality": q_text_quality,
    "text_fingerprint": q_text_fingerprint,
    "zonal_agreement": q_zonal_agreement,
    "topk_events_per_user": q_topk_events_per_user,
    "zonal_event_stats": q_zonal_event_stats,
    "hex_zonal_stats": q_hex_zonal,
    "utm_forward_coords": q_utm_forward_coords,
    "rpc_image_coords": q_rpc_image_coords,
    "mosaic_last_wins": q_mosaic_last_wins,
    "distinct_classes": q_distinct_classes,
    "coverage_join": q_coverage_join,
    "percentiles_exact": q_percentiles,
    "coeff_variation": q_coeff_variation,
    "balanced_sample": q_balanced_sample,
    # end-to-end image engine (rows-only: bytes pipelines have no SQL
    # equivalent; exactness proven by tests/ numpy oracles)
    "image_pipeline_zonal": q_image_pipeline_zonal,
    "phash_neardup_pairs": q_phash_neardup,
    "hamming256_neardup": q_hamming256_neardup,
    "exif_gps_zonal": q_exif_gps_zonal,
    "bpe_token_stats": q_bpe_token_stats,
    "audio_spectral": q_audio_spectral,
    "video_frames": q_video_frames,
    "cog_roundtrip": q_cog_roundtrip,
    "image_histogram_match": q_image_histogram_match,
    "mosaic_composite": q_mosaic_composite,
    "reproject_utm": q_reproject_utm,
    "reproject_rpc": q_reproject_rpc,
    "seamless_mosaic": q_seamless_mosaic,
    # Structured Streaming (§2.9) under the FULL oracle: micro-batched
    # stream-static PIP + watermarked event-time windowed zonal rollup —
    # the final table is event-time-determined, so DuckDB replays it
    "streaming_windowed_zonal": q_streaming_windowed_zonal,
}
QUERIES = {name: scoped(fn) for name, fn in QUERIES.items()}

ORACLES: dict[str, str] = {
    "pricing_summary": SQL_PRICING,
    "revenue_by_nation": SQL_REVENUE,
    "tile_assign": _sql_tile_assign(),
    "pip_pairs": SQL_PIP_PAIRS,
    "geoparquet_pip": SQL_GEOPARQUET_PIP,
    "geojson_pip": SQL_GEOJSON_PIP,
    "zip_manifest_coverage": SQL_ZIP_MANIFEST,
    "pip_counts": SQL_PIP_COUNTS,
    "grid_agg_mean_of_means": SQL_GRID_AGG,
    "knn_k5": SQL_KNN,
    "bbox_overlap_pairs": SQL_OVERLAP,
    "dedup_exact": SQL_DEDUP_EXACT,
    "text_stats": SQL_TEXT_STATS,
    "embed_cosine_top3": SQL_EMBED_TOPK,
    "ann_ivf_top3": SQL_EMBED_TOPK,
    # the LSH candidate set itself is oracled: integer-mixed Rademacher
    # planes over quantized components = exact int64 bucket keys in SQL
    "ann_lsh_top3": _sql_ann_lsh(),
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
    "minhash_lsh_pairs": SQL_MINHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "simhash_pairs": SQL_SIMHASH,
    # the 256-bit multiword banded hamming join (word-boundary band
    # extraction included) replayed exactly over integer-mixed hashes
    "hamming256_neardup": _sql_hamming256(),
    # the EXIF APP1 geotag byte path (splice, IFDs, D/M/S rationals) must
    # round-trip exactly for this hash to match: DuckDB re-derives the
    # decoded degrees from the same integer millidegrees
    "exif_gps_zonal": _sql_exif_gps_zonal(),
    "text_quality": SQL_TEXT_QUALITY,
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
    "zonal_agreement": SQL_ZONAL_AGREEMENT,
    # las/laz: the SQL re-derives the quantization-grid fixture points, so
    # the .las parse and the .laz arithmetic-coder decode run under the
    # full value-hash gate (byte-level codec tests remain in tests/)
    "las_ground_stats": SQL_LAS_STATS,
    "laz_ground_stats": SQL_LAS_STATS,
    # every text/dedup query is now fully oracled; the blake2b 128-perm
    # minhash variant remains as an operator with its recall pytest.
    # mosaic_composite (r5): the REAL pixel paint pipeline runs; DuckDB
    # replays it relationally over the integer-mixed fixture pixels
    "mosaic_composite": SQL_MOSAIC_COMPOSITE,
    # reproject_utm (r5): both projection legs (forward for the TAP grid,
    # inverse per target pixel) replayed bit-for-bit in SQL + nearest
    # sample of the integer-mixed source — the full warp under the oracle
    "reproject_utm": _sql_reproject_utm(),
    # image_pipeline_zonal (r5): the end-to-end north-rule pipeline (real
    # bytes through tile-assign + PIP + rollup) with integer-derived geo
    # columns — DuckDB re-derives the rollup incl. Web Mercator tiling
    "image_pipeline_zonal": _sql_image_pipeline_zonal(),
    # reproject_rpc (r5): the whole RPC chain is +,-,*,/ only, so the
    # oracle replays it exactly — recursive-CTE Newton inversion included
    "reproject_rpc": _sql_reproject_rpc(),
    # seamless_mosaic / image_histogram_match: float solves (lstsq gain,
    # gamma fit) -> rows-only; pixel exactness proven by numpy oracles in
    # tests/ (test_mosaic.py, test_raster_ops.py).
    "topk_events_per_user": SQL_TOPK_EVENTS,
    "zonal_event_stats": SQL_ZONAL_EVENTS,
    "hex_zonal_stats": SQL_HEX_ZONAL,
    # the projection kernels (P17/R5 core math) under exact-equality
    # oracles: the SQL mirrors reproduce the numpy kernels bit-for-bit
    "utm_forward_coords": SQL_UTM_FORWARD,
    "rpc_image_coords": _sql_rpc_image(),
    "mosaic_last_wins": SQL_MOSAIC,
    "distinct_classes": SQL_DISTINCT_CLASSES,
    "coverage_join": SQL_COVERAGE,
    "percentiles_exact": SQL_PERCENTILES,
    "coeff_variation": SQL_CV,
    "balanced_sample": SQL_BALANCED_SAMPLE,
    "streaming_windowed_zonal": SQL_STREAMING_WINDOWED_ZONAL,
}
