"""Dedup + text operators: MinHash recall vs exact Jaccard, SimHash on
planted near-dups and against an all-pairs brute force, exact dedup,
lang-ID, fingerprint determinism."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_scripts_spark.operators import dedup, text

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    df.count()
    return df


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_dedup(docs).toPandas()
    assert out["n_copies"].sum() == docs.count()
    assert out["canonical_id"].is_unique


def test_ngram_jaccard_vs_pandas_oracle(spark, no_broadcast, docs):
    """Both regimes (broadcast-postings kernel, self-join) equal a pandas
    brute force."""
    got = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    with no_broadcast():
        joined = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    tri = {
        r["doc_id"]: set(dedup._shingles(r["text"], 3)) for _, r in pdf.iterrows()
    }
    want = set()
    ids = sorted(tri)
    # brute force only over pairs sharing at least one gram (same result set)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            u = len(tri[a] | tri[b])
            if u and len(tri[a] & tri[b]) / u >= 0.5:
                want.add((a, b))
    assert want
    assert set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False))) == want
    assert got.sort_values(["id_a", "id_b"]).reset_index(drop=True).equals(
        joined.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )


def test_minhash_recall_and_precision(spark, docs):
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    exact_pairs = set(map(tuple, exact[["id_a", "id_b"]].itertuples(index=False)))
    mh = dedup.minhash_lsh_pairs_sql(
        docs, n_perm=128, bands=32, shingle_n=3, threshold=0.5).toPandas()
    mh_pairs = set(map(tuple, mh[["id_a", "id_b"]].itertuples(index=False)))
    # exact-Jaccard verify -> precision 1.0 (every reported pair truly >= threshold)
    assert mh_pairs <= exact_pairs
    # banded LSH at 32x4 catches >=90% of true pairs at j>=0.5
    assert len(mh_pairs) >= 0.9 * len(exact_pairs)


def test_simhash_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely different words everywhere nothing shared at all here now"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    df = spark.createDataFrame(pdf)
    out = dedup.simhash_pairs(df, max_hamming=10, shingle_n=1).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].itertuples(index=False)))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def _md5_simhash(text: str) -> int:
    """Reference SimHash: bit j is set iff most md5 token hashes set it."""
    hs = np.array([int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                   for t in text.split(" ")], np.uint64)
    votes = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).sum(axis=0)
    return sum(1 << j for j in range(64) if 2 * votes[j] > len(hs))


@pytest.mark.parametrize("max_hamming", [3, 10])
def test_simhash_pairs_complete_vs_brute_force(spark, docs, max_hamming):
    got = dedup.simhash_pairs(docs, max_hamming=max_hamming).toPandas()
    pdf = docs.select("doc_id", "text").toPandas().sort_values("doc_id")
    ids = pdf["doc_id"].to_numpy()
    sims = np.array([_md5_simhash(t) for t in pdf["text"]], np.uint64)
    want = set()
    for i in range(len(ids) - 1):
        xor = (sims[i] ^ sims[i + 1:]).view(np.uint8).reshape(-1, 8)
        dist = np.unpackbits(xor, axis=1).sum(axis=1)
        for j in np.flatnonzero(dist <= max_hamming):
            want.add((int(ids[i]), int(ids[i + 1 + j]), int(dist[j])))
    assert len(want) > 0
    assert set(map(tuple, got[["id_a", "id_b", "hamming"]].itertuples(index=False))) == want


def test_word_jaccard_identical_docs(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b c", "c b a", "x y z"]})
    out = dedup.ngram_jaccard_pairs(spark.createDataFrame(pdf), n=1, threshold=0.99).toPandas()
    assert set(map(tuple, out[["id_a", "id_b"]].itertuples(index=False))) == {(1, 2)}


def test_cluster_pairs_union_find():
    pairs = pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    out = dedup.cluster_pairs(pairs).set_index("doc_id")["cluster_id"]
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == 10


def test_lang_id_heuristic(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat is in the house and it is warm",
                "der hund ist nicht in das haus und die katze",
                "qqq www eee rrr",
            ],
        }
    )
    out = spark.createDataFrame(pdf).withColumn("lang", text.lang_id_udf()(F.col("text"))).toPandas()
    assert out.set_index("doc_id")["lang"].tolist() == ["en", "de", "und"]


def test_fingerprint_deterministic_and_normalizing(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["Hello  World foo bar baz qux one two",
                                        "hello world foo bar baz qux one two",
                                        "entirely different text content here now ok yes"]}
    )
    fp = text.fingerprint_udf()
    out = spark.createDataFrame(pdf).withColumn("fp", fp(F.col("text"))).toPandas()
    # case/whitespace-normalized texts collide; different text doesn't
    assert out["fp"][0] == out["fp"][1]
    assert out["fp"][0] != out["fp"][2]


def test_token_stats_and_quality(spark):
    pdf = pd.DataFrame({"doc_id": [1], "text": ["the quick brown fox jumps over the lazy dog ok"]})
    df = text.with_quality_score(text.with_token_stats(spark.createDataFrame(pdf)))
    row = df.toPandas().iloc[0]
    assert row["n_tokens"] == 10
    assert row["punct_ratio"] == 0.0
    assert row["stopword_hits"] >= 1
    assert row["quality_score"] >= 0.6


def test_cluster_pairs_distributed_matches_union_find(spark):
    """Min-label propagation == the driver union-find on a random graph
    (chains, triangles, isolated pairs)."""
    import pandas as pd

    from gis_scripts_spark.operators import dedup

    rng = np.random.default_rng(2)
    edges = set()
    for _ in range(60):
        a, b = sorted(rng.integers(0, 50, 2).tolist())
        if a != b:
            edges.add((int(a), int(b)))
    pdf = pd.DataFrame(sorted(edges), columns=["id_a", "id_b"])
    want = dedup.cluster_pairs(pdf).sort_values("doc_id").reset_index(drop=True)
    got = (
        dedup.cluster_pairs_distributed(spark.createDataFrame(pdf))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["cluster_id"].to_numpy() == want["cluster_id"].to_numpy()).all()


def test_cluster_pairs_distributed_deep_chain(spark):
    """Round-4 gate: a 50-node path (diameter 49 — ~49 propagation rounds)
    completes without plan blowup and labels every node with the chain
    min. Before the localCheckpoint fix this shape was quadratic in
    driver-side plan analysis and effectively hung."""
    import pandas as pd

    pairs = pd.DataFrame({"id_a": list(range(49)), "id_b": list(range(1, 50))})
    got = (
        dedup.cluster_pairs_distributed(spark.createDataFrame(pairs), max_iters=60)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == 50
    assert (got["cluster_id"] == 0).all()


def test_cluster_pairs_check_every_2_identical(spark):
    """r4 directive #7 (optional): batching the convergence check every 2
    rounds must give IDENTICAL clusters (labels are monotone — extra
    rounds past the fixpoint are no-ops), with telemetry recording which
    rounds ran the driver check."""
    import pandas as pd

    pairs = pd.DataFrame({
        "id_a": [0, 1, 2, 10, 11, 20],
        "id_b": [1, 2, 3, 11, 12, 21],
    })
    df = spark.createDataFrame(pairs)
    want = sorted(map(tuple, dedup.cluster_pairs_distributed(df).collect()))
    tel = {}
    got = sorted(map(tuple, dedup.cluster_pairs_distributed(
        df, check_every=2, telemetry=tel).collect()))
    assert got == want
    checked = [r["checked"] for r in tel["rounds"]]
    assert checked.count(True) <= (len(checked) + 1) // 2 + 1
    assert all("seconds" in r for r in tel["rounds"])
