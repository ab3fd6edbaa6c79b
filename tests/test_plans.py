"""Physical-plan quality gates (SURVEY.md §7.4): column pruning keeps the
fat `bytes` column out of metadata-only plans and out of every shuffle;
filters push down to the parquet scan; an AOI layer's cover is looked up
in the one Python node that also encodes S2/hex7 cells."""

import re

import pytest
from pyspark.sql import functions as F

from gis_scripts_spark.operators import pip_join, tile_assign
from gis_scripts_spark.sources import synth


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "images")
    synth.images_df(spark, 60, parts=2).write.parquet(p)
    return p


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_metadata_query_prunes_bytes(spark, images_parquet):
    df = spark.read.parquet(images_parquet)
    q = df.groupBy("fmt").agg(F.count(F.lit(1)).alias("n"), F.avg("w").alias("aw"))
    plan = _plan(q)
    scan_schema = re.search(r"ReadSchema: (.*)", plan).group(1)
    assert "bytes" not in scan_schema, scan_schema
    assert "fmt" in scan_schema and "w" in scan_schema


def test_filter_pushdown_reaches_scan(spark, images_parquet):
    df = spark.read.parquet(images_parquet).filter(F.col("w") == 64).select("image_id")
    plan = _plan(df)
    m = re.search(r"PushedFilters: \[(.*)\]", plan)
    assert m and "w" in m.group(1), plan[:2000]


def test_pip_join_looks_cover_up_in_one_python_node_and_keeps_bytes_out_of_shuffle(
    spark, images_parquet
):
    """A broadcast-regime layer is a closure lookup: no join and no
    BroadcastExchange under the aggregate, one ArrowEvalPython."""
    images = spark.read.parquet(images_parquet)
    polys = synth.aoi_polygons_df(spark)
    keys = tile_assign.assign_tiles(images, s2_level=None).select(
        "image_id", "lon", "lat", "quadkey"
    )
    joined = pip_join.pip_join(keys, polys, z=7)
    agg = joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    executed = agg._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in executed and "BroadcastExchange" not in executed, executed
    assert re.findall(r"\w*(?:Python|Pandas|Arrow)\w*", executed) == ["ArrowEvalPython"], executed
    # every Exchange in the plan must be bytes-free
    for ex in re.findall(r"Exchange [^\n]*", plan):
        assert "bytes" not in ex, ex
    scan_schema = re.search(r"ReadSchema: (.*)", plan).group(1)
    assert "bytes" not in scan_schema  # pruned at the source too


@pytest.mark.parametrize("deterministic", [False, True])
def test_pip_join_after_assign_tiles_plans_one_python_node(
    spark, images_parquet, monkeypatch, deterministic
):
    """The S2 and hex7 encodes and the polygon lookup are Arrow UDFs in one
    projection, so one ArrowEvalPython runs all three. The lookup is
    nondeterministic for this: a deterministic one lets the optimizer
    push the explode's `size(hits) > 0` filter below the projection, and
    the lookup runs again in a second Python node."""
    if deterministic:
        make = pip_join._pip_hits_udf

        def deterministic_hits(*args):
            hits = make(*args)._unwrapped
            hits.deterministic = True
            return hits._wrapped()

        monkeypatch.setattr(pip_join, "_pip_hits_udf", deterministic_hits)
    images = spark.read.parquet(images_parquet)
    tiles = tile_assign.assign_tiles(images, s2_level=12, hex_res=7)
    joined = pip_join.pip_join(tiles, synth.aoi_polygons_df(spark), z=7)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    if deterministic:
        assert len(nodes) == 2, plan
    else:
        assert len(nodes) == 1, plan
        assert nodes[0].count("enc(") == 2 and "pip_hits(" in nodes[0], nodes[0]


def test_match_pair_stats_bytes_free(spark, images_parquet):
    """SURVEY §7.4 invariant on the histogram-match pipeline: the pair-
    window stats plan must not carry image bytes through ANY Exchange
    (the window list broadcasts onto the image scan; only stat rows
    shuffle)."""
    from gis_scripts_spark.raster import match

    images = spark.read.parquet(images_parquet)
    stats = match.overlap_pair_stats(images, z=10)
    plan = _plan(stats)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for ex in re.findall(r"Exchange [^\n]*", plan):
        assert "bytes" not in ex, ex


def test_knn_shuffles_only_keys(spark, images_parquet):
    from gis_scripts_spark.operators import knn

    images = spark.read.parquet(images_parquet)
    out = knn.knn_join(
        images, images, k=3, z=4, point_id="image_id", query_id="image_id",
        exclude_self=True, initial_r=2,
    )
    plan = _plan(out)
    for ex in re.findall(r"Exchange [^\n]*", plan):
        assert "bytes" not in ex, ex


def test_knn_haversine_plan_has_no_python(spark, images_parquet):
    """Both metrics run the same codegen round: no Python node anywhere in
    a haversine kNN plan, from the parsed plan to the executed one."""
    from gis_scripts_spark.operators import knn

    images = spark.read.parquet(images_parquet)
    out = knn.knn_join(
        images, images, k=3, z=4, point_id="image_id", query_id="image_id",
        metric="haversine", exclude_self=True,
    )
    plans = out._jdf.queryExecution().toString()
    assert not re.findall(r"\w*(?:Python|Pandas|Arrow)\w*", plans)


def test_image_features_plans_one_mapinpandas(spark, images_parquet):
    """A map_rows stage is one mapInPandas: image_features plans exactly
    one MapInPandas node and no other Python node."""
    from gis_scripts_spark.operators import multimodal as mm

    out = mm.image_features(spark.read.parquet(images_parquet))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*(?:Python|Pandas|Arrow)\w*", plan) == ["MapInPandas"], plan


def test_bbox_overlap_join_plan_has_no_python(spark):
    """The box cover is Column math: no Python node anywhere in the
    bbox_overlap_join plan, from the parsed plan to the executed one."""
    import pandas as pd

    from gis_scripts_spark.operators import overlap_join

    boxes = spark.createDataFrame(pd.DataFrame({
        "id": ["b0", "b1", "b2"], "x_min": [0.0, 5.0, 50.0], "y_min": [0.0, 5.0, 50.0],
        "x_max": [10.0, 15.0, 60.0], "y_max": [10.0, 15.0, 60.0]}))
    out = overlap_join.bbox_overlap_join(boxes, z=6)
    plans = out._jdf.queryExecution().toString()
    assert not re.findall(r"\w*(?:Python|Pandas|Arrow)\w*", plans)
    assert [(r["id_i"], r["id_j"]) for r in out.collect()] == [("b0", "b1")]


def test_coverage_join_wkb_never_in_exchange(spark, images_parquet):
    """Round-3 hygiene gate: the coverage_join plan must not ship polygon
    WKB through ANY Exchange (ids-only explode + dedup; WKB re-joined
    map-side via the broadcast candidate list)."""
    import pandas as pd

    from gis_scripts_spark.geom import wkb as wkb_mod
    from gis_scripts_spark.operators import coverage_join as cj
    from gis_scripts_spark.raster.match import RES_DEG

    imgs = spark.read.parquet(images_parquet)
    fp = imgs.select(
        "image_id",
        F.udf(lambda lon, lat: bytearray(wkb_mod.bbox_to_wkb(
            lon, lat, lon + 64 * RES_DEG, lat + 64 * RES_DEG)), "binary")(
            F.col("lon"), F.col("lat")).alias("wkb"),
    )
    rects = spark.createDataFrame(pd.DataFrame({
        "aoi_id": ["a0", "a1"],
        "x_min": [-20.0, 10.0], "y_min": [-20.0, 10.0],
        "x_max": [20.0, 50.0], "y_max": [20.0, 50.0],
    }))
    out = cj.coverage_join(fp, rects, z=5)
    plan = _plan(out)
    for ex in re.findall(r"Exchange [^\n]*", plan):
        assert "wkb" not in ex, ex
    assert out.count() >= 0  # plan executes


def test_coverage_join_clips_each_candidate_once(spark):
    """The `coverage > min_coverage` filter reads the projected column: one
    ArrowEvalPython node runs the exact clip, not one for the filter and
    one for the projection."""
    import pandas as pd

    from gis_scripts_spark.geom import wkb as wkb_mod
    from gis_scripts_spark.operators import coverage_join as cj

    fp = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"img{i}" for i in range(8)],
        "wkb": [bytearray(wkb_mod.bbox_to_wkb(4.0 * i - 16, -2, 4.0 * i - 12, 2))
                for i in range(8)],
    }))
    rects = spark.createDataFrame(pd.DataFrame({
        "aoi_id": ["a0"], "x_min": [-10.0], "y_min": [-10.0], "x_max": [10.0], "y_max": [10.0]}))
    out = cj.coverage_join(fp, rects, z=5, min_coverage=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    clips = [ln for ln in plan.splitlines() if "ArrowEvalPython [_coverage(" in ln]
    assert len(clips) == 1, plan
    got = sorted((r["image_id"], r["coverage"]) for r in out.collect())
    assert got == [("img2", 1.0), ("img3", 1.0), ("img4", 1.0), ("img5", 1.0)]


def test_cluster_labels_plan_bounded(spark):
    """Round-4 gate (VERDICT r3 #1): the label-propagation loop must
    checkpoint each round — without it the returned plan nested every
    round's plan (8,385 lines / 474 Exchanges after ~6 rounds). With
    lineage truncated to a LogicalRDD leaf the final plan is a constant
    few-line projection regardless of component depth."""
    import pandas as pd

    from gis_scripts_spark.operators import dedup

    # a 12-node path needs ~11 propagation rounds — deep enough that an
    # un-checkpointed loop would blow well past the ceiling below
    pairs = pd.DataFrame({"id_a": list(range(11)), "id_b": list(range(1, 12))})
    out = dedup.cluster_pairs_distributed(spark.createDataFrame(pairs), max_iters=30)
    plan = _plan(out)
    n_lines = plan.count("\n")
    n_exchanges = len(re.findall(r"Exchange ", plan))
    assert n_lines < 200, f"plan not bounded: {n_lines} lines"
    assert n_exchanges <= 2, f"plan not bounded: {n_exchanges} Exchanges"
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan, plan[:500]
