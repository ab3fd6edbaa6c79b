"""Polygon∩rect coverage join (SURVEY.md §2.3 J3).

Reference: image footprint polygon ∩ AOI extent, percent coverage =
area(∩)/area(footprint) (``seagrass_lib.py:185-192``), used to filter the
acquisition manifest (AOI_COVERAGE > 0, ``1_Image_processing.py:34``).

Spark shape: footprints (polygons as WKB) are cell-exploded by the shared
polygon cover (``pip_join.build_cover_df``; a NULL WKB covers nothing);
AOI rects by the Column box cover (``cells.cover_bbox_col``, JVM-only);
candidates meet on the cell equi-join and are deduplicated on ids; the
footprint WKB is re-joined to them (broadcast when their measured bytes
fit ``repart.fits_broadcast``, shuffled otherwise); the exact
Sutherland–Hodgman clip + shoelace ratio runs in an Arrow-batched pandas
UDF on candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from gis_scripts_spark.cachescope import persist, scoped
from gis_scripts_spark.geom import core as geom
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.index import cells as cells_mod
from gis_scripts_spark.operators.pip_join import build_cover_df
from gis_scripts_spark.operators.repart import fits_broadcast


def _coverage(wkb_col: pd.Series, x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
    out = np.empty(len(wkb_col))
    cache: dict[bytes, list] = {}
    for i, buf in enumerate(wkb_col):
        key = bytes(buf)
        polys = cache.get(key)
        if polys is None:
            polys = cache[key] = wkb_mod.from_wkb(key)
        bb = (x0.iloc[i], y0.iloc[i], x1.iloc[i], y1.iloc[i])
        # multipolygon: sum part intersections / sum part areas
        inter = sum(geom.coverage_fraction(rings, bb) * geom.polygon_area(rings) for rings in polys)
        total = sum(geom.polygon_area(rings) for rings in polys)
        out[i] = inter / total if total > 0 else 0.0
    return pd.Series(out)


# Marked nondeterministic only so the optimizer keeps the `coverage >
# min_coverage` filter above the projection: pushed below it, the filter
# re-derives the clip and the plan runs it in a second ArrowEvalPython.
_coverage_udf = F.pandas_udf(_coverage, DoubleType()).asNondeterministic()


@scoped
def coverage_join(
    footprints_df: DataFrame,
    rects_df: DataFrame,
    z: int = 6,
    fp_id: str = "image_id",
    wkb_col: str = "wkb",
    rect_id: str = "aoi_id",
    min_coverage: float = 0.0,
) -> DataFrame:
    """(fp_id, rect_id, coverage) for every footprint×AOI pair with
    coverage > min_coverage. rects_df: (rect_id, x_min, y_min, x_max,
    y_max).

    Shuffle hygiene (the minhash ids-only discipline): the cell explode and
    the candidate dedup carry (id, cell) / (id, rect, bbox) ONLY — polygon
    WKB never rides an Exchange. The WKB is re-joined ONCE per surviving
    candidate: when the candidate set is broadcast (rows are ~48 bytes of
    ids+bbox) the join is map-side on the footprint scan, so no Exchange in
    the whole plan contains wkb; otherwise the re-join degrades to ONE
    linear shuffle of each matched footprint's WKB.

    Regime: the ids-only candidate frame is persisted and one aggregate
    job over it measures its bytes (ids as strings plus the four bbox
    doubles); the join then reads the cache, so the cover+dedup pipeline
    runs once. ``repart.fits_broadcast`` picks the broadcast re-join or
    the shuffle re-join.

    The persisted candidate frame lives as long as the returned frame
    (cachescope)."""
    fp_src = footprints_df.select(
        F.col(fp_id).alias("_fid"), F.col(wkb_col).alias("_wkb")
    )
    # ids-only cell explode — the WKB stays in its scan partition
    fp = build_cover_df(footprints_df.sparkSession, footprints_df, z, fp_id, wkb_col).select(
        F.col("poly_id").alias("_fid"), "cell"
    )
    box = ("x_min", "y_min", "x_max", "y_max")
    rects = rects_df.select(
        F.col(rect_id).alias("_rid"), *[F.col(c).cast("double").alias(c) for c in box]
    ).withColumn("cell", F.explode(cells_mod.cover_bbox_col(*box, z)))

    cand = (
        fp.join(F.broadcast(rects), "cell")
        .select("_fid", "_rid", "x_min", "y_min", "x_max", "y_max")
        .dropDuplicates(["_fid", "_rid"])  # ids+bbox only in this Exchange
    )
    cand = persist(cand)
    nbytes = cand.agg(F.sum(
        F.octet_length(F.col("_fid").cast("string"))
        + F.octet_length(F.col("_rid").cast("string")) + 32
    )).first()[0] or 0
    fits = fits_broadcast(footprints_df.sparkSession, "coverage_join.candidates", nbytes)
    cand_side = F.broadcast(cand) if fits else cand
    joined = fp_src.join(cand_side, "_fid")  # WKB re-joined once per candidate
    out = joined.withColumn(
        "coverage",
        _coverage_udf(F.col("_wkb"), F.col("x_min"), F.col("y_min"), F.col("x_max"), F.col("y_max")),
    )
    return (
        out.filter(F.col("coverage") > min_coverage)
        .select(F.col("_fid").alias(fp_id), F.col("_rid").alias(rect_id), "coverage")
    )
