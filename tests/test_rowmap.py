"""rowmap.map_rows: the one Arrow row loop behind every per-row stage."""

from pyspark.sql.types import LongType, StringType, StructField, StructType

from gis_scripts_spark.rowmap import map_rows

OUT = StructType([StructField("k", LongType(), False), StructField("s", StringType(), False)])


def test_empty_input_keeps_schema(spark):
    df = spark.createDataFrame([], "k long")
    out = map_rows(df, lambda row: [(row["k"], "x")], OUT)
    assert out.collect() == []
    assert out.schema == OUT


def test_kernel_yields_zero_or_many_rows(spark):
    df = spark.range(0, 5, 1, 2).withColumnRenamed("id", "k")

    def fn(row):
        assert isinstance(row, dict)
        for i in range(row["k"]):
            yield (row["k"], f"{row['k']}.{i}")

    got = sorted((r["k"], r["s"]) for r in map_rows(df, fn, OUT).collect())
    assert got == [(k, f"{k}.{i}") for k in range(5) for i in range(k)]


def test_dict_rows_drop_keys_outside_schema(spark):
    df = spark.createDataFrame([(1, "a", 2.5), (2, "b", 3.5)], "k long, s string, extra double")

    def fn(row):
        yield {**row, "s": row["s"].upper(), "more": [1, 2]}

    out = map_rows(df, fn, OUT)
    assert out.columns == ["k", "s"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, "A"), (2, "B")]
