"""Per-task metrics read from Spark's status store under a job tag."""

import glob
import importlib.util
import os
import time

from pyspark.sql import functions as F

from gis_scripts_spark import taskmetrics


def _ids(sc, tag):
    return {j["job_id"] for j in taskmetrics.jobs(sc, tag)}


def test_labels_isolate_and_nest(spark):
    sc = spark.sparkContext
    with taskmetrics.label(sc, "tm-outer"):
        with taskmetrics.label(sc, "tm-a"):
            spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count().collect()
        with taskmetrics.label(sc, "tm-b"):
            spark.range(0, 1000, 1, 4).agg(F.sum("id")).collect()
    a, b, outer = _ids(sc, "tm-a"), _ids(sc, "tm-b"), _ids(sc, "tm-outer")
    assert a and b
    assert not a & b
    assert a | b == outer
    assert "tm-a" not in sc.getJobTags()

    rows = taskmetrics.tasks(sc, taskmetrics.jobs(sc, "tm-a"))
    assert rows and {r["job_id"] for r in rows} <= a
    assert sum(r["records_read"] for r in rows) == 1000
    assert sum(r["shuffle_write_bytes"] for r in rows) > 0
    assert sum(r["shuffle_read_bytes"] for r in rows) > 0
    assert all(r["run_s"] >= 0 and r["cpu_s"] >= 0 and r["status"] == "SUCCESS" for r in rows)


def test_python_worker_time_from_sql_metrics(spark):
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def slow(s):
        import time

        time.sleep(0.3)
        return s + 1

    with taskmetrics.label(sc, "tm-py"):
        spark.range(0, 100, 1, 2).select(slow("id").alias("x")).agg(F.sum("x")).collect()
    with taskmetrics.label(sc, "tm-jvm"):
        spark.range(0, 100, 1, 2).agg(F.sum("id")).collect()
    assert taskmetrics.python_worker_s(spark, taskmetrics.jobs(sc, "tm-py")) >= 0.5
    assert taskmetrics.python_worker_s(spark, taskmetrics.jobs(sc, "tm-jvm")) == 0.0
    assert taskmetrics._metric_ms("12 ms") == 12.0
    assert taskmetrics._metric_ms(
        "total (min, med, max (stageId: taskId))\n5.0 s (1 ms, 2.5 s, 2.5 s (stage 3.0: task 7))"
    ) == 5000.0


def test_skipped_stage_and_retried_attempt(spark):
    """AQE runs a shuffle's map stage as its own job; the result job lists
    that stage again and reports it skipped, with no task. Deleting the
    shuffle files makes the next job fail its fetch, so Spark re-runs the
    map stage and the result stage as attempt 1. Both read cleanly: each
    task is counted once, in the job that ran it."""
    sc = spark.sparkContext
    with taskmetrics.label(sc, "tm-aqe"):
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 5).alias("k")).count().collect()
    jobs = taskmetrics.jobs(sc, "tm-aqe")
    rows = taskmetrics.tasks(sc, jobs)
    ran = {r["stage_id"] for r in rows}
    listed = {s for j in jobs for s in j["stage_ids"]}
    assert listed - ran  # a skipped stage: listed by a job, no task
    assert len({r["task_id"] for r in rows}) == len(rows)

    rdd = sc.parallelize(range(1000), 4).map(lambda x: (x % 5, 1)).reduceByKey(lambda a, b: a + b)
    assert rdd.count() == 5
    local_dirs = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
    files = [f for d in local_dirs
             for f in glob.glob(os.path.join(d.getAbsolutePath(), "**", "shuffle_*"), recursive=True)]
    newest = max(int(os.path.basename(f).split("_")[1]) for f in files)
    for f in files:
        if os.path.basename(f).startswith(f"shuffle_{newest}_"):
            os.remove(f)
    with taskmetrics.label(sc, "tm-retry"):
        assert rdd.count() == 5
    rows = taskmetrics.tasks(sc, taskmetrics.jobs(sc, "tm-retry"))
    assert max(r["attempt"] for r in rows) >= 1
    assert any(r["status"] != "SUCCESS" for r in rows)
    done = [(r["stage_id"], r["partition_id"]) for r in rows if r["status"] == "SUCCESS"]
    assert len(done) == len(set(done))


def test_chained_python_nodes_nest_and_leave_jvm_time_unknown(spark):
    """Within one stage each mapInPandas node's `time to run Python
    workers` includes the nodes upstream of it, so three chained nodes
    read more than the tasks' run time; the layer record then has no JVM
    share instead of a clipped 0."""
    spec = importlib.util.spec_from_file_location(
        "layers_tool", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "layers.py")
    )
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)

    def slow(batches):
        import time

        for pdf in batches:
            time.sleep(0.4)
            yield pdf

    sc = spark.sparkContext
    df = spark.range(0, 100, 1, 2)
    for _ in range(3):
        df = df.mapInPandas(slow, df.schema)
    with taskmetrics.label(sc, "tm-chain") as tag:
        t0 = time.time()
        df.agg(F.sum("id")).collect()
        t1 = time.time()
    rec = layers.leaf_record(spark, tag, t0, t1)
    assert rec["python_worker_s"] > rec["executor_run_s"]
    assert rec["jvm_s"] is None
    assert layers.diff({"leaves": {"q": rec}}, {"leaves": {"q": rec}})["q"]["jvm_s"] is None
