"""End-to-end image pipeline: the north-rule workload as checkpointed
stages with lineage metrics.

  stage ingest : deterministic image+caption table (input_hint schema)
  stage tiles  : cell / XYZ / quadkey / S2 tile assignment
  stage pip    : cell-keyed PIP join against the AOI polygon table
  stage zonal  : per-polygon rollup (zonal counts + pixel-free stats)

Each stage commits a snapshot (sources.snaptable); a re-run SKIPS already
committed stages and continues from the last checkpoint — the Iceberg
snapshot-restart semantics of the north rule. Per-partition metrics land in
`<root>/metrics`: each stage's write runs under a ``MetricsCollector.stage``
label, and the rows come from Spark's own task metrics for that write, so
the stages' plans carry no instrumentation node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gis_scripts_spark.index import cells
from gis_scripts_spark.metrics import MetricsCollector
from gis_scripts_spark.operators import pip_join, tile_assign
from gis_scripts_spark.sources import snaptable, synth


def run_image_pipeline(
    spark: SparkSession,
    root: str,
    n_images: int = 2000,
    seed: int = 42,
    grid_z: int = 7,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline under `root`. Returns stage DataFrames.

    Restart semantics: with resume=True, stages whose snapshot is already
    committed are read back instead of recomputed (write_snapshot's stage
    key is the idempotency token)."""
    mc = MetricsCollector(spark)
    t_images = os.path.join(root, "images")
    t_tiles = os.path.join(root, "tiles")
    t_zonal = os.path.join(root, "zonal")
    t_metrics = os.path.join(root, "metrics")

    done = snaptable.completed_stages(t_images) if resume else set()
    if "ingest" in done:
        images = snaptable.read_snapshot(spark, t_images)
    else:
        with mc.stage("ingest"):
            snaptable.write_snapshot(
                synth.images_df(spark, n_images, seed=seed), t_images, stage="ingest"
            )
        images = snaptable.read_snapshot(spark, t_images)

    done = snaptable.completed_stages(t_tiles) if resume else set()
    if "tiles" in done:
        tiles = snaptable.read_snapshot(spark, t_tiles)
    else:
        assigned = tile_assign.assign_tiles(images, grid_z=grid_z, tile_z=12, s2_level=12)
        # tile table: keys only — image bytes NEVER shuffle (SURVEY.md §7.4)
        tiles = assigned.select(
            "image_id", "lon", "lat", "cell", "tile_z", "tile_x", "tile_y",
            "quadkey", "s2_cell",
            cells.cell_prefix_col("cell", grid_z, 2).alias("cell_prefix"),
        )
        # the north rule's "explicit repartitioning by cell prefix" persisted
        # into the TABLE layout: Hive-partitioned by the coarse (z=2) parent
        # cell + per-file min/max of the fine cell in the snapshot manifest,
        # so a selective AOI read prunes files before listing them
        with mc.stage("tiles"):
            snaptable.write_snapshot(
                tiles, t_tiles, stage="tiles",
                partition_by=["cell_prefix"], stats_cols=["cell"],
            )
        tiles = snaptable.read_snapshot(spark, t_tiles)

    done = snaptable.completed_stages(t_zonal) if resume else set()
    if "zonal" in done:
        zonal = snaptable.read_snapshot(spark, t_zonal)
    else:
        polys = synth.aoi_polygons_df(spark, seed=seed)
        pairs = pip_join.pip_join(tiles, polys, z=grid_z)
        zonal = pairs.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_images"),
            F.countDistinct("quadkey").alias("n_tiles"),
        )
        with mc.stage("zonal"):
            snaptable.write_snapshot(zonal, t_zonal, stage="zonal")
        zonal = snaptable.read_snapshot(spark, t_zonal)

    mc.flush(t_metrics)
    return {"images": images, "tiles": tiles, "zonal": zonal}
