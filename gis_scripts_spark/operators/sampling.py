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
    (deterministic, content-keyed — never partition-dependent).

    Scale shape: a map-side per-partition top-k prefilter (one Arrow pass,
    no shuffle) bounds the window's input at n_per_class x partitions rows
    per label — the global top-k under a total order is a subset of the
    union of per-partition top-k, so the result is IDENTICAL to the plain
    window (which otherwise shuffles and sorts every row of every class
    on one task per label). The prefilter only fires for integer keys,
    where Python's str() provably equals Spark's cast-to-string, so the
    pandas md5 ranks exactly like the SQL md5."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    h = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(label_col).orderBy(h, F.col(key_col))
    src = df
    if isinstance(df.schema[key_col].dataType,
                  (ByteType, ShortType, IntegerType, LongType)):
        import hashlib

        lbl, key, npc = label_col, key_col, int(n_per_class)

        def _pretopk(batches):
            import pandas as pd

            acc = None
            for pdf in batches:
                # a NULL key hashes to NULL, which the window's ascending
                # sort puts first; a NULL label is a class of its own
                md5s = [
                    None if pd.isna(k) else hashlib.md5(str(int(k)).encode()).hexdigest()
                    for k in pdf[key].to_numpy()
                ]
                pdf = pdf.assign(_h=md5s)
                both = pdf if acc is None else pd.concat((acc, pdf))
                both = both.sort_values(["_h", key], kind="mergesort", na_position="first")
                acc = both.groupby(lbl, sort=False, dropna=False).head(npc)
            if acc is not None:
                yield acc.drop(columns=["_h"])

        from gis_scripts_spark.operators.repart import spread

        # spread first: a few-split scan would run the per-row md5 pass on
        # a handful of cores (no-op on well-split inputs)
        src = spread(df, key_col).mapInPandas(_pretopk, df.schema)
    return (
        src.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_class)
        .drop("_rk")
    )


def deterministic_sample(df: DataFrame, key_col: str, fraction_denominator: int, bucket: int = 0) -> DataFrame:
    """Content-keyed 1/denominator sample: rows whose md5(key) bucket
    matches. Stable under repartitioning (unlike df.sample)."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
    return df.filter(F.pmod(h, F.lit(fraction_denominator)) == F.lit(bucket))
