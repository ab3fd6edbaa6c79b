"""Width and regime policy: scan spreading and the broadcast bound.

Scale-adaptive scan spreading (guide §2.5 "input skew" / §6).

Small-bytes-but-compute-heavy tables (a 6 MB parquet of 50k documents, an
embedding table of 20k x 64 floats) arrive as ONE scan partition under
``spark.sql.files.maxPartitionBytes`` — and every per-row-expensive stage
planned on top of the scan (Arrow UDFs, shingle explodes) then runs on a
single core no matter how many the host has. `spread` repartitions ONLY
when the scan has fewer partitions than the session's parallelism, so at
real scale (thousands of input splits) it is a no-op and no shuffle is
added; at bench scale it is one tiny (<= MBs) exchange that unlocks every
core. Keyed by a deterministic column (never rand() — SPARK-38388).

Broadcast or shuffle: every operator that can ship one side whole to
the tasks (pip_join's polygon cover, coverage_join's candidates,
ann_ivf's queries, ngram_jaccard_pairs' postings, knn's retry probes)
measures that side's bytes with one cheap job of its own and asks
`fits_broadcast`. The one bound is the session's
``spark.sql.autoBroadcastJoinThreshold`` — the same number under which
Spark itself broadcasts a join side — so no operator has a cap of its own
and no caller picks the regime; ``-1`` sends every operator down its
shuffle path. Both paths of each operator return the same rows.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def slots(spark_or_df) -> int:
    """The session's task-slot count (published by session.get_spark as
    spark.graft.slots; falls back to defaultParallelism). The right width
    for small-row-count compute-heavy stages, where 2x-slots widths only
    double per-task fixed overhead."""
    spark = getattr(spark_or_df, "sparkSession", spark_or_df)
    try:
        return int(spark.conf.get("spark.graft.slots"))
    except Exception:
        return spark.sparkContext.defaultParallelism


def fits_broadcast(spark, name: str, nbytes: int) -> bool:
    """True when a side of `nbytes` measured bytes may be broadcast: at
    most ``spark.sql.autoBroadcastJoinThreshold`` ("64m", "10MB" and
    "1048576" parse with Spark's binary units; a negative bound never
    fits). Logs the decision (name, bytes, bound, choice) at INFO."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m").strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([kmgtp]?)b?", raw)
    if m is None:
        raise ValueError(f"spark.sql.autoBroadcastJoinThreshold: cannot parse {raw!r}")
    bound = int(m.group(1)) << _SHIFT[m.group(2)]
    ok = 0 <= int(nbytes) <= bound
    _log.info("regime %s: %d bytes, bound %d -> %s",
              name, int(nbytes), bound, "broadcast" if ok else "shuffle")
    return ok


def spread(df: DataFrame, *keys: str, parallelism: int | None = None) -> DataFrame:
    """Repartition `df` to the session's SLOT count iff its current plan
    yields fewer partitions — a no-op on well-split inputs."""
    p = parallelism if parallelism is not None else slots(df)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        n = 0
    if n >= p:
        return df
    if keys:
        return df.repartition(p, *keys)
    return df.repartition(p)
