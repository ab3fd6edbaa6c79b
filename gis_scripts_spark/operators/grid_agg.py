"""Block-grid aggregation — the tiling heart (SURVEY.md §2.4 A5/A6).

Reference semantics (``local_match.py:313-392``): scatter-add pixel values
into an M×N block grid per image (`np.add.at`), threshold low-coverage
blocks, then average the per-image block means across images with ONE VOTE
PER IMAGE (unweighted mean-of-means, ``local_match.py:284-291``).

Spark mapping: this is exactly partial+final hash aggregation —
  level 1: groupBy(entity, cell)  -> sum/count/mean per entity per cell
  level 2: groupBy(cell)          -> avg of entity means (A6) and/or
                                     pixel-weighted stats (plain sum/count)
No UDF, map-side combine free, AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gis_scripts_spark.index import cells as cells_mod


def grid_aggregate(
    df: DataFrame,
    value: str,
    entity: str | None = None,
    lon: str = "lon",
    lat: str = "lat",
    z: int = 7,
    min_count: int = 0,
) -> DataFrame:
    """Per-cell stats. With `entity`, computes the reference's two-level
    mean-of-means (each entity = one vote per cell); without, plain
    per-cell sum/count/mean.

    Returns: cell, n_rows, sum_value, mean_value [, n_entities,
    mean_of_means].
    """
    with_cell = df.withColumn("cell", cells_mod.cell_col(lon, lat, z))

    if entity is None:
        out = with_cell.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(value).alias("sum_value"),
            F.avg(value).alias("mean_value"),
        )
    else:
        lvl1 = with_cell.groupBy("cell", entity).agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(value).alias("_sum"),
            F.avg(value).alias("_mean"),
        )
        if min_count > 0:
            # validity threshold per local_match.py:352 (blocks with too few
            # contributing pixels are dropped before the cross-image vote)
            lvl1 = lvl1.filter(F.col("_n") >= min_count)
        out = lvl1.groupBy("cell").agg(
            F.sum("_n").alias("n_rows"),
            F.sum("_sum").alias("sum_value"),
            (F.sum("_sum") / F.sum("_n")).alias("mean_value"),
            F.count(F.lit(1)).alias("n_entities"),
            F.avg("_mean").alias("mean_of_means"),
        )
    return out
