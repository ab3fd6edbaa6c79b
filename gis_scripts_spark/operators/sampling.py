"""Deterministic sampling / class balancing (SURVEY.md §2.6).

Reference: random up/down-sampling to balance training classes
(``seagrass_lib.py:650-655``, numpy RNG). Spark's `sampleBy` is seeded but
partition-layout-dependent; this engine instead uses HASH-ORDERED
selection — rank rows inside each class by a cryptographic hash of their
key and keep the first n. The sample is a pure function of row CONTENT:
identical at any parallelism, across restarts, and reproducible by any
other engine (the md5 oracle property used by the driver check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def balance_classes(
    df: DataFrame,
    label_col: str,
    key_col: str,
    n_per_class: int,
) -> DataFrame:
    """At most n_per_class rows per label, chosen by md5(key) order
    (deterministic, content-keyed — never partition-dependent). A NULL
    key hashes to NULL, which the ascending sort ranks first; a NULL label
    is a class of its own."""
    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(label_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_class)
        .drop("_rk")
    )


def deterministic_sample(df: DataFrame, key_col: str, fraction_denominator: int, bucket: int = 0) -> DataFrame:
    """Content-keyed 1/denominator sample: rows whose md5(key) bucket
    matches. Stable under repartitioning (unlike df.sample)."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
    return df.filter(F.pmod(h, F.lit(fraction_denominator)) == F.lit(bucket))
