"""SparkSession builders tuned for the engine.

Local-mode sandbox stands in for a multi-executor cluster; all settings are
chosen so the same code runs unchanged under ``spark-submit --py-files`` on a
real cluster (nothing here is local-only).

Every Python UDF task (the S2 and hex7 encodes and pip_join's polygon
lookup, which share one Arrow node; the shuffle regime's exact check;
image decode) pays a fixed worker cost before it reads a row. On Python
3.11 PySpark's worker calls ``importlib.invalidate_caches()`` per task,
and each of the 16 zip importers cached for pyspark.zip re-read the
archive's directory: 0.17-0.24 s of CPU per task on a 4-core host. The
package's ``__init__`` makes that invalidation lazy, as CPython 3.13 does,
so a reused worker's later tasks pay 0.03-0.05 s.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_ram() -> str | None:
    """Half of this host's MemTotal as a JVM size ("8035m"), or None where
    /proc/meminfo is missing. Half is the share of RAM at which perfbench
    kills a run's process tree, so a heap grown to its maximum still fits."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return None


# On a real cluster these knobs scale with `spark.sql.shuffle.partitions ~=
# 2-3x total cores`; the heap and slot count are derived from the host.
_DEFAULTS = {
    # AQE: runtime coalescing + skew-join splitting is the first line of
    # defense for hot spatial cells (SURVEY.md §4.2).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow is the UDF boundary for every pixel / cell-encode kernel.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 8192 balances Arrow IPC round-trip overhead (big batches scale the
    # key-only UDF paths better) against per-worker memory on image-bytes
    # batches (~85 MB/batch at 10 KB rows)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Image `bytes` rows are fat; keep scan partitions bounded.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Prefer shuffle-hash over sort-merge for cell-keyed joins: cell keys are
    # high-cardinality and pre-aggregated sides are small per key.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "gis-scripts-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` is the local parallelism level (the sandbox proxy for cluster
    size N vs 4N — see BENCH/BASELINE.md). ``None`` reads $SPARK_GRAFT_CPUS,
    falling back to ``*``. ``master`` overrides the master URL entirely
    (e.g. ``local-cluster[8,4,6144]`` for multi-executor-JVM scaling runs).
    """
    # Python UDF workers spawned by the JVM import the engine via PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    # One BLAS thread per Python worker: task-level parallelism already
    # fills every core, and N workers x multi-thread BLAS oversubscribes
    # the membus (guide §4.5 — heavyweight state is per-task; the BLAS
    # kernels in ann/similarity showed 2x run-to-run executor-time swings
    # from thread contention). Inherited by workers at JVM launch.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cores}]"
    # "*" means every core of this host
    n_slots = (os.cpu_count() or 1) if cores == "*" else max(int(cores), 1)
    if shuffle_partitions is None:
        shuffle_partitions = 2 * max(n_slots, 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(shuffle_partitions)
    # the true SLOT count, published for the engine's explicit AQE-exempt
    # repartitions (spread(), per-bucket BLAS kernel stages): on
    # small-row-count compute-heavy stages a 2x-slots width just doubles
    # per-task Arrow/scheduling overhead (measured: ann_lsh 4.2 -> 3.1 s
    # at 20k vectors), while data-sized exchanges keep the 2x shuffle
    # width + AQE coalescing (the flagship pip_join measured 0.35 s WORSE
    # when default.parallelism itself was dropped to 1x).
    conf["spark.graft.slots"] = str(n_slots)
    # local mode: ONE JVM holds executor execution+storage for every task
    # plus the driver, so it gets half the host's RAM (a fixed 24g exceeded
    # smaller hosts' RAM and the kernel OOM-killed the JVM). On a real
    # cluster this is per-executor sizing; `extra_conf` overrides it.
    heap = _half_ram()
    if heap is not None:
        conf["spark.driver.memory"] = heap
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
