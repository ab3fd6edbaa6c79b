"""Checkpoint/restart + lineage metrics (north rule; FIXTURES.md inv. 5):
resumed pipeline skips committed stages and reproduces identical outputs."""

import os

import pytest
from pyspark.sql import functions as F

from gis_scripts_spark import pipelines
from gis_scripts_spark.sources import snaptable, synth


def test_snapshot_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.range(5).select(F.col("id"))
    s1 = snaptable.write_snapshot(df1, t, stage="s1")
    df2 = spark.range(5, 8).select(F.col("id"))
    s2 = snaptable.write_snapshot(df2, t, stage="s2", mode="append")
    assert snaptable.read_snapshot(spark, t).count() == 8
    # time travel to s1
    assert snaptable.read_snapshot(spark, t, s1["id"]).count() == 5
    # overwrite truncates lineage
    s3 = snaptable.write_snapshot(spark.range(2), t, stage="s3", mode="overwrite")
    assert snaptable.read_snapshot(spark, t).count() == 2
    assert snaptable.read_snapshot(spark, t, s2["id"]).count() == 8
    # idempotent stage: re-committing s1 is a no-op returning the old record
    again = snaptable.write_snapshot(spark.range(100), t, stage="s1")
    assert again["id"] == s1["id"]
    assert [s["stage"] for s in snaptable.snapshots(t)] == ["s1", "s2", "s3"]


def test_pipeline_restart_identical_output(spark, tmp_path):
    root1 = str(tmp_path / "run1")
    root2 = str(tmp_path / "run2")
    n = 300

    # full run
    out1 = pipelines.run_image_pipeline(spark, root1, n_images=n)
    zonal1 = sorted(map(tuple, out1["zonal"].collect()))

    # simulated crash: run only through the tiles stage (fresh root), then
    # resume the full pipeline — ingest+tiles must be skipped, zonal computed
    from gis_scripts_spark.operators import tile_assign

    t_images = os.path.join(root2, "images")
    t_tiles = os.path.join(root2, "tiles")
    images = synth.images_df(spark, n)
    snaptable.write_snapshot(images, t_images, stage="ingest")
    tiles = tile_assign.assign_tiles(
        snaptable.read_snapshot(spark, t_images), grid_z=7, tile_z=12, s2_level=12
    ).select("image_id", "lon", "lat", "cell", "tile_z", "tile_x", "tile_y", "quadkey", "s2_cell")
    snaptable.write_snapshot(tiles, t_tiles, stage="tiles")
    pre_ids = {s["id"] for s in snaptable.snapshots(t_images)} | {
        s["id"] for s in snaptable.snapshots(t_tiles)
    }

    out2 = pipelines.run_image_pipeline(spark, root2, n_images=n, resume=True)
    post_ids = {s["id"] for s in snaptable.snapshots(t_images)} | {
        s["id"] for s in snaptable.snapshots(t_tiles)
    }
    assert post_ids == pre_ids  # resumed run did NOT rewrite finished stages

    zonal2 = sorted(map(tuple, out2["zonal"].collect()))
    assert zonal1 == zonal2  # byte-identical final table


def test_metrics_table_written(spark, tmp_path):
    root = str(tmp_path / "mrun")
    pipelines.run_image_pipeline(spark, root, n_images=200)
    m = snaptable.read_snapshot(spark, os.path.join(root, "metrics")).toPandas()
    assert {"run_id", "stage", "partition_id", "rows", "seconds"} <= set(m.columns)
    assert set(m["stage"]) >= {"ingest", "tiles", "zonal"}
    assert (m["rows"] >= 0).all()
    # lineage: per-stage row counts sum to table row counts
    ingest_rows = m[m["stage"] == "ingest"]["rows"].sum()
    assert ingest_rows == 200
    for stage in ("tiles", "zonal"):
        table = snaptable.read_snapshot(spark, os.path.join(root, stage))
        assert m[m["stage"] == stage]["rows"].sum() == table.count()


def test_pipeline_plans_have_no_metrics_node(spark, tmp_path):
    """The metrics come from Spark's task metrics, not from a pass-through:
    of the four table writes (ingest, tiles, zonal, metrics) only ingest
    holds a MapInPandas node, the synthetic image generator's."""
    import re
    import time

    t0 = time.time() * 1000
    pipelines.run_image_pipeline(spark, str(tmp_path / "plans"), n_images=200)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    execs = store.executionsList(max(0, n - 64), min(n, 64))
    plans = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())
             if execs.apply(i).submissionTime() >= t0]
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert [len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) for p in writes] == [1, 0, 0, 0]


def test_manifest_partition_and_stats_pruning(spark, tmp_path):
    """Iceberg-manifest semantics: partitioned snapshot + per-file min/max
    -> read_snapshot(where=...) opens ONLY the surviving files (checked via
    inputFiles), and the result always equals full-read + filter."""
    t = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 8).alias("cell_prefix"),
        (F.col("id") * 2).alias("val"),
    )
    s = snaptable.write_snapshot(
        df, t, stage="ingest", partition_by=["cell_prefix"], stats_cols=["val"]
    )
    assert s["rows"] == 1000
    assert len(s["files"]) >= 8  # one+ per partition dir
    assert all("partition" in f and "stats" in f for f in s["files"])

    # partition-equality pruning: only cell_prefix=3 files are listed
    pruned = snaptable.read_snapshot(spark, t, where={"cell_prefix": 3})
    opened = pruned.inputFiles()
    assert opened and all("cell_prefix=3" in p for p in opened)
    full = snaptable.read_snapshot(spark, t).filter(F.col("cell_prefix") == 3)
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )
    # partition columns are restored on the leaf-file read (basePath)
    assert set(pruned.columns) == {"id", "cell_prefix", "val"}

    # stats-range pruning on a NON-partition column: files whose [min,max]
    # misses the range are never opened
    rng = snaptable.read_snapshot(spark, t, where={"val": (0, 10)})
    assert len(rng.inputFiles()) < len(s["files"])
    assert sorted(r["id"] for r in rng.collect()) == list(range(6))

    # append a second snapshot; chain read still prunes per snapshot
    df2 = spark.range(1000, 1200).select(
        F.col("id"),
        (F.col("id") % 8).alias("cell_prefix"),
        (F.col("id") * 2).alias("val"),
    )
    snaptable.write_snapshot(
        df2, t, stage="more", partition_by=["cell_prefix"], stats_cols=["val"]
    )
    both = snaptable.read_snapshot(spark, t, where={"cell_prefix": 3})
    assert both.count() == 125 + 25
    assert all("cell_prefix=3" in p for p in both.inputFiles())

    # a range no file can hold -> empty result, exact schema
    none = snaptable.read_snapshot(spark, t, where={"val": (10**9, 10**9 + 1)})
    assert none.count() == 0
    assert set(none.columns) == {"id", "cell_prefix", "val"}

    # old-format manifests (no files list) still read fine with where
    import json as _json

    mpath = t + "/manifest.json"
    with open(mpath) as f:
        m = _json.load(f)
    for snap in m["snapshots"]:
        snap.pop("files", None)
    with open(mpath, "w") as f:
        _json.dump(m, f)
    legacy = snaptable.read_snapshot(spark, t, where={"cell_prefix": 3})
    assert legacy.count() == 150  # unpruned but correctly filtered


def test_pipeline_tiles_partitioned_by_cell_prefix(spark, tmp_path):
    """The pipeline persists the tiles stage Hive-partitioned by the coarse
    cell prefix (north rule: explicit repartitioning by cell prefix) with
    per-file cell stats; a selective read opens only matching files."""
    import numpy as np

    from gis_scripts_spark.index import cells as cells_mod

    root = str(tmp_path / "prun")
    out = pipelines.run_image_pipeline(spark, root, n_images=300)
    tiles = out["tiles"]
    assert "cell_prefix" in tiles.columns

    # the Column computation matches the numpy twin exactly (incl. >2^53 ids)
    for r in tiles.select("cell", "cell_prefix").limit(64).collect():
        assert int(cells_mod.cell_prefix(np.int64(r["cell"]), 2)) == r["cell_prefix"]

    per_prefix = {int(r[0]): r[1] for r in tiles.groupBy("cell_prefix").count().collect()}
    assert len(per_prefix) > 1  # images span multiple coarse cells
    target = sorted(per_prefix)[0]

    t_tiles = os.path.join(root, "tiles")
    full = snaptable.read_snapshot(spark, t_tiles)
    pruned = snaptable.read_snapshot(spark, t_tiles, where={"cell_prefix": target})
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() == per_prefix[target]
    # adjacent packed ids differ by 1 ulp-sub-float resolution: the exact
    # integer compare must NOT leak neighbor partitions into the file list
    assert all(f"cell_prefix={target}" in p for p in pruned.inputFiles())

    # per-file fine-cell stats prune on the NON-partition column too
    cmin = tiles.agg(F.min("cell")).collect()[0][0]
    rng = snaptable.read_snapshot(spark, t_tiles, where={"cell": (cmin, cmin)})
    assert len(rng.inputFiles()) < len(full.inputFiles())
    assert rng.count() == tiles.filter(F.col("cell") == cmin).count()
