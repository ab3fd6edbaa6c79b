"""Pairwise bbox-overlap self-join (SURVEY.md §2.3 J1).

Reference: ``global_match.py:61-75`` — O(n²) Python loop over all image
pairs testing strict bbox overlap
(`x_min_i < x_max_j and x_max_i > x_min_j and y_min_i < y_max_j and
y_max_i > y_min_j`). Here: each footprint is exploded to its covering grid
cells by the Column box cover (``cells.cover_bbox_col``: closed-form, run
in the JVM — no row goes to Python), pairs meet via a cell equi-join, the
exact predicate post-filters, and the REPORT-ONCE trick deduplicates
without a distinct shuffle: a pair is emitted only from the single
canonical cell that contains the top-left corner of the pair's
intersection rectangle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gis_scripts_spark.index import cells as cells_mod


def bbox_overlap_join(
    boxes_df: DataFrame,
    z: int = 6,
    id_col: str = "id",
    x_min: str = "x_min",
    y_min: str = "y_min",
    x_max: str = "x_max",
    y_max: str = "y_max",
) -> DataFrame:
    """All pairs (id_i < id_j) with strictly overlapping bboxes, plus the
    intersection window — the input of the pair-stats join (J2).

    Returns (id_i, id_j, ix_min, iy_min, ix_max, iy_max).
    """
    from gis_scripts_spark.operators.repart import spread

    # spread the scan (guide §2.5 input skew): a single-file boxes table
    # plans the cover + explode + self-join on ONE task (stage capture
    # at 10k boxes: a 1-task 2.8 s save stage); keyed repartition is a
    # no-op on multi-split inputs.
    boxes_df = spread(boxes_df, id_col)
    a = boxes_df.select(
        F.col(id_col).alias("id_i"),
        F.col(x_min).alias("xi0"),
        F.col(y_min).alias("yi0"),
        F.col(x_max).alias("xi1"),
        F.col(y_max).alias("yi1"),
    ).withColumn("cell", F.explode(
        cells_mod.cover_bbox_col("xi0", "yi0", "xi1", "yi1", z)
    ))
    b = boxes_df.select(
        F.col(id_col).alias("id_j"),
        F.col(x_min).alias("xj0"),
        F.col(y_min).alias("yj0"),
        F.col(x_max).alias("xj1"),
        F.col(y_max).alias("yj1"),
    ).withColumn("cell", F.explode(
        cells_mod.cover_bbox_col("xj0", "yj0", "xj1", "yj1", z)
    ))

    pairs = a.join(b, "cell").filter(F.col("id_i") < F.col("id_j"))
    # exact strict-overlap predicate (reference global_match.py:67-72)
    pairs = pairs.filter(
        (F.col("xi0") < F.col("xj1"))
        & (F.col("xi1") > F.col("xj0"))
        & (F.col("yi0") < F.col("yj1"))
        & (F.col("yi1") > F.col("yj0"))
    )
    ix0 = F.greatest("xi0", "xj0")
    iy0 = F.greatest("yi0", "yj0")
    ix1 = F.least("xi1", "xj1")
    iy1 = F.least("yi1", "yj1")
    # report-once: keep the row only where the join cell == the cell of the
    # intersection's top-left (max-lat, min-lon) corner — no distinct needed
    canon = cells_mod.cell_col("greatest(xi0, xj0)", "least(yi1, yj1)", z)
    pairs = pairs.filter(F.col("cell") == canon)
    return pairs.select(
        "id_i",
        "id_j",
        ix0.alias("ix_min"),
        iy0.alias("iy_min"),
        ix1.alias("ix_max"),
        iy1.alias("iy_max"),
    )
