"""IVF ANN: spherical k-means quantizer + list-probed exact re-rank.

Oracles: numpy brute force, exhaustive-probe == cosine_topk equivalence,
recall floor on clustered data, determinism, scalar-only rank Exchange.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from gis_scripts_spark.operators import ann_ivf, similarity


def _blobs(n_blobs=6, per=60, dim=12, seed=5, spread=0.08):
    """Well-separated unit-sphere clusters (the data IVF is built for)."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_blobs, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for b in range(n_blobs):
        v = centers[b] + spread * rng.standard_normal((per, dim))
        rows.append(v)
    m = np.vstack(rows)
    return pd.DataFrame(
        {"vec_id": np.arange(len(m)), "embedding": [r.tolist() for r in m]}
    )


def _brute_topk(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    ids = pdf["vec_id"].to_numpy()
    out = []
    for qi in range(len(m)):
        order = np.lexsort((ids, -sims[qi]))[:k]
        for r, oi in enumerate(order, start=1):
            out.append((ids[qi], ids[oi], r))
    return pd.DataFrame(out, columns=["query_id", "neighbor_id", "rank"])


def test_ivf_exhaustive_equals_brute_force(spark):
    """nprobe = n_lists probes every list -> EXACT brute-force top-k,
    regardless of what k-means did. This is the driver query's oracle
    contract (ann_ivf_top3)."""
    pdf = _blobs(n_blobs=4, per=40, dim=10, seed=9)
    df = spark.createDataFrame(pdf)
    got = (
        ann_ivf.ivf_topk(df, k=3, n_lists=4, nprobe=4, n_iters=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = _brute_topk(pdf, 3)
    pd.testing.assert_frame_equal(
        got.astype({"query_id": np.int64, "neighbor_id": np.int64, "rank": np.int32}),
        want.astype({"query_id": np.int64, "neighbor_id": np.int64, "rank": np.int32}),
    )


def test_ivf_matches_cosine_topk_exhaustive(spark):
    """Cross-implementation agreement: exhaustive IVF == the blocked-BLAS
    cosine_topk operator row-for-row."""
    pdf = _blobs(n_blobs=3, per=30, dim=8, seed=21)
    df = spark.createDataFrame(pdf)
    a = (
        ann_ivf.ivf_topk(df, k=3, n_lists=3, nprobe=3, n_iters=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        similarity.cosine_topk(df, k=3)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[["query_id", "neighbor_id"]].astype(np.int64),
        b[["query_id", "neighbor_id"]].astype(np.int64),
    )


def test_ivf_probe_recall_on_clusters(spark):
    """The ANN contract: on clustered data, probing 2 of 6 lists keeps
    recall@3 >= 0.95 (neighbors of a clustered point live in its own
    list; probe 2 covers boundary cases)."""
    pdf = _blobs(n_blobs=6, per=60, dim=12, seed=5)
    df = spark.createDataFrame(pdf)
    got = ann_ivf.ivf_topk(df, k=3, n_lists=6, nprobe=2, n_iters=8).toPandas()
    want = _brute_topk(pdf, 3)
    g = set(map(tuple, got[["query_id", "neighbor_id"]].to_numpy()))
    w = set(map(tuple, want[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(g & w) / len(w)
    assert recall >= 0.95, recall
    # lists partition the corpus: no query may exceed k rows
    counts = got.groupby("query_id").size()
    assert (counts <= 3).all()


def test_ivf_train_deterministic(spark):
    pdf = _blobs(n_blobs=4, per=25, dim=8, seed=13)
    df = spark.createDataFrame(pdf)
    c1 = ann_ivf.train_ivf(df, n_lists=4, n_iters=5, seed=3)
    c2 = ann_ivf.train_ivf(df, n_lists=4, n_iters=5, seed=3)
    assert np.array_equal(c1, c2)
    # unit-norm codebook
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_separate_query_set_no_self_exclusion(spark):
    """queries_df path: corpus ids and query ids are different tables; a
    query vector identical to a corpus vector must MATCH it (no implicit
    self-exclusion across tables)."""
    pdf = _blobs(n_blobs=3, per=20, dim=8, seed=17)
    df = spark.createDataFrame(pdf)
    qpdf = pdf.iloc[:5].copy()
    qpdf["vec_id"] = qpdf["vec_id"] + 10_000
    got = ann_ivf.ivf_topk(
        df, k=1, n_lists=3, nprobe=3, n_iters=3,
        queries_df=spark.createDataFrame(qpdf),
    ).toPandas()
    got = got.sort_values("query_id").reset_index(drop=True)
    # rank-1 neighbor of the copied vector is the original (sim == 1.0)
    assert got["neighbor_id"].tolist() == list(range(5))


def test_ivf_rank_exchange_ships_scalars_only(spark):
    """Plan gate (mirror of the lsh/coverage gates): after the sim
    projection, the top-k rank Exchange must carry (qid, pid, sim) scalars
    — the embedding arrays may ride ONLY the _list-keyed candidate join
    (the Exchange a bucket-written index layout eliminates)."""
    pdf = _blobs(n_blobs=3, per=20, dim=8, seed=29)
    df = spark.createDataFrame(pdf)
    cents = ann_ivf.train_ivf(df, n_lists=3, n_iters=2)
    out = ann_ivf.ivf_topk(df, k=3, n_lists=3, nprobe=2, centroids=cents)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    blocks = re.findall(r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\nInput[^\n]*", plan)
    assert blocks, plan[:500]
    vec_blocks = [b for b in blocks if "_pv" in b or "_qv" in b or "embedding" in b]
    # exactly the candidate-join Exchanges may see vectors; the rank window
    # Exchange (hashpartitioning(_qid)) must not
    for b in blocks:
        if "hashpartitioning(_qid#" in b or re.search(r"hashpartitioning\(_qid", b):
            assert "_pv" not in b and "_qv" not in b and "embedding" not in b, b
    # and the window input is the scalar projection: every vector-carrying
    # Exchange must be keyed by _list (the join), never by _qid alone
    for b in vec_blocks:
        assert "_list" in b, b


@pytest.mark.parametrize("n_lists", [2, 5])
def test_ivf_empty_list_degeneracy(spark, n_lists):
    """Fewer natural clusters than lists: empty lists keep their previous
    centroid and the search still returns exact results exhaustively."""
    rng = np.random.default_rng(41)
    base = rng.standard_normal(6)
    m = base + 0.01 * rng.standard_normal((30, 6))  # one tight blob
    pdf = pd.DataFrame({"vec_id": np.arange(30), "embedding": [r.tolist() for r in m]})
    df = spark.createDataFrame(pdf)
    got = (
        ann_ivf.ivf_topk(df, k=2, n_lists=n_lists, nprobe=n_lists, n_iters=4)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    want = _brute_topk(pdf, 2)
    assert got[["query_id", "neighbor_id"]].astype(np.int64).equals(
        want[["query_id", "neighbor_id"]].astype(np.int64)
    )


def test_ivf_broadcast_equals_cogroup_rows(spark, no_broadcast):
    """The broadcast-queries path and the cogroup fallback must be
    row-identical (same raw values, same float64 kernel, same float32
    probe sets via the shared _probe_rows)."""
    corpus = spark.createDataFrame(_blobs(n_blobs=5, per=40, dim=10, seed=3))
    queries = spark.createDataFrame(
        _blobs(n_blobs=5, per=9, dim=10, seed=77).assign(
            vec_id=lambda d: d["vec_id"] + 10_000
        )
    )
    cents = ann_ivf.train_ivf(corpus, n_lists=5, n_iters=3)
    kw = dict(k=4, n_lists=5, nprobe=2, centroids=cents, queries_df=queries)
    a = (
        ann_ivf.ivf_topk(corpus, **kw)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    with no_broadcast():
        b = (
            ann_ivf.ivf_topk(corpus, **kw)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
    assert a.equals(b)
    assert len(a) == queries.count() * 4


def test_ivf_broadcast_no_query_bytes_in_any_exchange(spark):
    """Broadcast path: query vectors ride the task broadcast, NEVER an
    Exchange; corpus vectors cross only the _list-keyed group Exchange."""
    import contextlib
    import io

    corpus = spark.createDataFrame(_blobs(n_blobs=3, per=30, dim=8, seed=9))
    queries = spark.createDataFrame(
        _blobs(n_blobs=3, per=5, dim=8, seed=10).assign(
            vec_id=lambda d: d["vec_id"] + 5_000
        )
    )
    cents = ann_ivf.train_ivf(corpus, n_lists=3, n_iters=2)
    out = ann_ivf.ivf_topk(
        corpus, k=2, n_lists=3, nprobe=2, centroids=cents,
        queries_df=queries,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    blocks = re.findall(r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\nInput[^\n]*", plan)
    assert blocks, plan[:500]
    for b in blocks:
        assert "_qv" not in b, b  # query vectors never shuffle
        if "_pv" in b or "embedding" in b:
            assert "_list" in b, b  # corpus vectors only via the list key


def test_ivf_prebuilt_index_equals_inline(spark, tmp_path):
    """Search over a prebuilt (assigned, parquet-landed) index returns the
    same rows as the inline assign path — the production serving split."""
    corpus = spark.createDataFrame(_blobs(n_blobs=4, per=30, dim=8, seed=21))
    queries = spark.createDataFrame(
        _blobs(n_blobs=4, per=6, dim=8, seed=22).assign(
            vec_id=lambda d: d["vec_id"] + 7_000
        )
    )
    cents = ann_ivf.train_ivf(corpus, n_lists=4, n_iters=3)
    path = str(tmp_path / "index.parquet")
    ann_ivf.assign_lists(corpus, cents).write.parquet(path)
    a = (
        ann_ivf.ivf_topk_prebuilt(
            spark.read.parquet(path), k=3, centroids=cents,
            queries_df=queries, nprobe=2,
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        ann_ivf.ivf_topk(
            corpus, k=3, n_lists=4, nprobe=2, centroids=cents, queries_df=queries,
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert a.equals(b)
