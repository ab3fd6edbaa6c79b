"""Cache scope: operator persists live exactly as long as the frame a
scoped call returns, and identical calls never alias each other's caches."""

import functools
import gc

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_scripts_spark import queries as Q
from gis_scripts_spark.cachescope import scoped
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.operators import coverage_join, dedup, knn

SF = "/root/testdata/sf0.001"
CACHING_QUERIES = ["knn_k5", "minhash_lsh_pairs", "simhash_pairs", "coverage_join",
                   "phash_neardup_pairs", "hamming256_neardup"]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _reads_cache(df) -> bool:
    return "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()


def _points(spark):
    return Q.derived_lonlat(Q._pq(spark, SF, "customer"), "c_custkey")


def _footprints(spark):
    rng = np.random.default_rng(3)
    fps = []
    for i in range(20):
        x0, y0 = rng.uniform(-40, 20), rng.uniform(-20, 10)
        fps.append((f"img{i:02d}", bytearray(wkb_mod.bbox_to_wkb(x0, y0, x0 + 6, y0 + 4))))
    rects = pd.DataFrame({"aoi_id": ["r1", "r2"], "x_min": [-20.0, 0.0], "y_min": [-10.0, -5.0],
                          "x_max": [10.0, 25.0], "y_max": [10.0, 15.0]})
    return (spark.createDataFrame(pd.DataFrame(fps, columns=["image_id", "wkb"])),
            spark.createDataFrame(rects))


def _operator_calls(spark):
    docs = Q._pq(spark, SF, "documents")
    fp, rects = _footprints(spark)
    return {
        "knn_join": lambda: knn.knn_join(
            _points(spark), _points(spark), k=3, point_id="c_custkey",
            query_id="c_custkey", exclude_self=True).select("query_id", "neighbor_id"),
        "minhash_lsh_pairs_sql": lambda: dedup.minhash_lsh_pairs_sql(docs).select("id_a", "id_b"),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs).select("id_a", "id_b"),
        "hamming_neardup_pairs": lambda: dedup.hamming_neardup_pairs(
            docs.select("doc_id", F.xxhash64("text").alias("h")), "h", "doc_id").select(
            "id_a", "id_b"),
        "hamming_neardup_pairs_4w": lambda: dedup.hamming_neardup_pairs(
            docs.select("doc_id", F.array(*[F.xxhash64("text", F.lit(i)) for i in range(4)]).alias(
                "h")), "h", "doc_id", max_hamming=10, n_words=4).select("id_a", "id_b"),
        "coverage_join": lambda: coverage_join.coverage_join(
            fp, rects).select("image_id", "aoi_id"),
    }


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_query_frame_reads_its_caches(spark, name):
    spark.catalog.clearCache()
    df = Q.QUERIES[name](spark, SF)
    gc.collect()
    assert _reads_cache(df)


@pytest.mark.parametrize("name", CACHING_QUERIES + ["dedup_clusters"])
def test_query_caches_released_with_frame(spark, name):
    spark.catalog.clearCache()
    df = Q.QUERIES[name](spark, SF)
    df.count()
    assert not _cache_empty(spark)
    del df
    gc.collect()
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "name", ["knn_join", "minhash_lsh_pairs_sql", "simhash_pairs", "hamming_neardup_pairs",
             "hamming_neardup_pairs_4w", "coverage_join"])
def test_operator_under_bare_select(spark, name):
    """Outside any scope the operator's own scope releases its caches when
    its result is dropped, so a bare projection leaks nothing; inside a
    caller's scope the projection keeps them."""
    call = _operator_calls(spark)[name]
    spark.catalog.clearCache()
    df = call()
    df.count()
    del df
    gc.collect()
    assert _cache_empty(spark)

    df = scoped(call)()
    gc.collect()
    assert _reads_cache(df)
    df.count()
    del df
    gc.collect()
    assert _cache_empty(spark)


def test_identical_knn_calls_do_not_alias(spark):
    """Plan salting: dropping the first of two identical calls must not
    release the second call's caches."""
    spark.catalog.clearCache()

    def run():
        return knn.knn_join(_points(spark), _points(spark), k=5, point_id="c_custkey",
                            query_id="c_custkey", exclude_self=True)

    first = run()
    want = sorted(map(tuple, first.collect()))
    second = run()
    del first
    gc.collect()
    assert not _cache_empty(spark)
    assert _reads_cache(second)
    assert sorted(map(tuple, second.collect())) == want


def test_dedup_clusters_signs_each_document_once(spark, monkeypatch):
    """The signature UDF sees each document once per dedup_clusters call:
    cluster_pairs_distributed checkpoints its edges while the signature
    cache is live, and its result no longer depends on the UDF."""
    acc = spark.sparkContext.accumulator(0)

    class CountingF:
        def __getattr__(self, name):
            return getattr(F, name)

        def pandas_udf(self, *args, **kwargs):
            dec = F.pandas_udf(*args, **kwargs)

            def wrap(fn):
                if fn.__name__ != "sig_udf":
                    return dec(fn)

                @functools.wraps(fn)
                def counted(t: pd.Series) -> pd.Series:
                    acc.add(len(t))
                    return fn(t)

                return dec(counted)

            return wrap

    monkeypatch.setattr(dedup, "F", CountingF())
    n_docs = Q._pq(spark, SF, "documents").count()
    df = Q.QUERIES["dedup_clusters"](spark, SF)
    assert acc.value == n_docs
    df.count()
    gc.collect()
    df.collect()
    assert acc.value == n_docs


def test_minhash_sql_null_text_yields_no_pair(spark):
    docs = Q._pq(spark, SF, "documents")
    next_id = docs.agg(F.max("doc_id")).first()[0] + 1
    null_row = docs.limit(1).select(
        F.lit(next_id).cast("long").alias("doc_id"), F.lit(None).cast("string").alias("text"),
        "lang", "source", "n_chars")
    with_null = docs.unionByName(null_row)
    got = dedup.minhash_lsh_pairs_sql(with_null).collect()
    want = dedup.minhash_lsh_pairs_sql(docs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


@pytest.mark.parametrize("n_words", [1, 4])
def test_hamming_join_reads_its_input_once(spark, n_words):
    """Both sides of the band self-join, and the word re-attach, read one
    persisted (id, words) projection, so the caller's upstream runs once
    per row at any hash width."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    n = 300
    rng = np.random.default_rng(7)
    h = rng.integers(-(2**63), 2**63 - 1, (n, n_words), dtype=np.int64)
    h[1::10] = h[::10] ^ 0b101  # planted pairs at distance 2 per word
    one = n_words == 1
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "h": h[:, 0] if one else list(h)})
    ).mapInPandas(count_rows, "id long, h long" if one else "id long, h array<long>")
    pairs = dedup.hamming_neardup_pairs(df, "h", "id", max_hamming=4 * n_words,
                                        n_words=n_words).collect()
    assert acc.value == n
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(i, i + 1) for i in range(0, n, 10)}
