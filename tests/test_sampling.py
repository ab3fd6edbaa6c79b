"""Deterministic sampling: content-keyed, stable under repartitioning."""

from gis_scripts_spark.operators import sampling


def test_balance_classes_counts_and_determinism(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = sampling.balance_classes(ev, "event_type", "event_id", 20)
    pdf = out.select("event_type", "event_id").toPandas()
    assert (pdf.groupby("event_type").size() <= 20).all()
    # stable under repartitioning (content-keyed, not layout-keyed)
    out2 = sampling.balance_classes(ev.repartition(13), "event_type", "event_id", 20)
    assert sorted(map(tuple, out2.select("event_type", "event_id").collect())) == sorted(
        map(tuple, pdf.itertuples(index=False))
    )


def test_deterministic_sample_partition_invariance(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = sampling.deterministic_sample(ev, "event_id", 10).select("event_id")
    b = sampling.deterministic_sample(ev.repartition(7), "event_id", 10).select("event_id")
    sa = sorted(r[0] for r in a.collect())
    sb = sorted(r[0] for r in b.collect())
    assert sa == sb
    n = ev.count()
    assert 0.03 * n < len(sa) < 0.25 * n  # roughly 1/10


def test_balance_classes_pretopk_equals_plain_window(spark):
    """balance_classes returns the same rows as the pure window
    formulation on a multi-partition integer-key input."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").repartition(9)
    fast = sampling.balance_classes(ev, "event_type", "event_id", 50)
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h, F.col("event_id"))
    plain = (
        ev.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 50)
        .drop("_rk")
    )
    got = sorted(map(tuple, fast.select("event_type", "event_id").collect()))
    want = sorted(map(tuple, plain.select("event_type", "event_id").collect()))
    assert got == want


def test_balance_classes_null_keys_match_plain_window(spark):
    """NULL keys hash to NULL, which the window's ascending sort ranks
    first; a NULL label is a class of its own."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # every 40th key NULL (fewer NULL rows than n per class, so the window's
    # choice among tied NULL keys is not arbitrary), every 50th label NULL
    ev = ev.select(
        F.when(F.col("event_id") % 40 == 0, F.lit(None)).otherwise(F.col("event_id"))
        .cast("long").alias("event_id"),
        F.when(F.col("event_id") % 50 == 0, F.lit(None)).otherwise(F.col("event_type"))
        .alias("event_type"),
    ).repartition(5)
    fast = sampling.balance_classes(ev, "event_type", "event_id", 20)
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h, F.col("event_id"))
    plain = ev.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= 20).drop("_rk")

    def rows(df):
        return sorted(map(tuple, df.select("event_type", "event_id").collect()), key=repr)

    got, want = rows(fast), rows(plain)
    assert got == want
    assert any(k is None for _, k in want) and any(t is None for t, _ in want)


def test_balance_classes_large_long_keys_with_null(spark):
    """A LongType key with a NULL and values above 2^53: a pandas path
    turns such a column into float64, which rounds odd keys to their even
    neighbours and changes both their md5 rank and the keys returned.
    The selection must equal the plain window's, key for key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = 2**53
    rows = [(base + 2 * i + 1, "abc"[i % 3]) for i in range(600)] + [(None, "a")]
    schema = StructType([
        StructField("event_id", LongType(), True),
        StructField("event_type", StringType(), False),
    ])
    ev = spark.createDataFrame(rows, schema).repartition(4)
    fast = sampling.balance_classes(ev, "event_type", "event_id", 20)
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h, F.col("event_id"))
    plain = ev.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= 20).drop("_rk")

    def rows_of(df):
        return sorted(map(tuple, df.select("event_type", "event_id").collect()), key=repr)

    got, want = rows_of(fast), rows_of(plain)
    assert got == want
    assert len(want) == 60 and ("a", None) in want
