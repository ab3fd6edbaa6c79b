"""Per-partition lineage + runtime metrics (north rule: "per-partition
lineage and row-count/latency metrics written to a metrics table").

``with MetricsCollector.stage(name):`` tags the Spark jobs of one pipeline
stage (``taskmetrics.label``) and, when the block ends, reads Spark's own
task metrics for them: one record per partition of each Spark stage that
wrote rows (the stage's table write), with the rows and bytes it wrote and
its executor run, CPU and GC time. Nothing is added to the stage's plan.
``flush()`` appends the records as rows of a snapshot-versioned metrics
table. This replaces the reference's debug raster sinks + stats txt files
(``local_match.py:803-849``, ``count_raster_values.py:80-113``) with a
queryable table.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import SparkSession

from gis_scripts_spark import taskmetrics


class MetricsCollector:
    def __init__(self, spark: SparkSession, run_id: str | None = None):
        self.spark = spark
        self.run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
        self._records: list[dict] = []

    @contextmanager
    def stage(self, stage: str):
        """Record the partitions that the block's Spark jobs wrote."""
        sc = self.spark.sparkContext
        with taskmetrics.label(sc, f"{self.run_id}:{stage}") as tag:
            yield
        rows = [t for t in taskmetrics.tasks(sc, taskmetrics.jobs(sc, tag)) if t["status"] == "SUCCESS"]
        writers = {t["stage_id"] for t in rows if t["records_written"]}
        self._records += [
            {
                "run_id": self.run_id,
                "stage": stage,
                "partition_id": t["partition_id"],
                "rows": t["records_written"],
                "bytes_written": t["bytes_written"],
                "seconds": t["run_s"],
                "cpu_seconds": t["cpu_s"],
                "gc_seconds": t["gc_s"],
                "host": t["host"],
                "ts": t["launch"],
            }
            for t in rows
            if t["stage_id"] in writers
        ]

    def flush(self, metrics_table: str, stage: str = None) -> dict | None:
        """Append the recorded partitions to the metrics snaptable."""
        from gis_scripts_spark.sources import snaptable

        if not self._records:
            return None
        df = self.spark.createDataFrame(pd.DataFrame(self._records))
        return snaptable.write_snapshot(df, metrics_table, stage=stage)
