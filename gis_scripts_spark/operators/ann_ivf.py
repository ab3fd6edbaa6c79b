"""IVF (inverted-file) ANN over embedding columns: distributed k-means
coarse quantizer + list-probed exact re-rank.

Training-data-pipeline operator (the second ANN scale path next to the
LSH-bucketed one in ``similarity.py``; the reference has no embedding
surface — nearest analogue is its kNN interpolation,
local_match.py:120-168). The classic IVF shape: a small coarse codebook
(n_lists centroids, trained by Lloyd's k-means) partitions the corpus into
inverted lists; a query probes only its ``nprobe`` nearest lists and
re-ranks those candidates exactly.

Scale shape (the part that matters at 10^9+ vectors):
- TRAINING touches a bounded sample and every cross-executor byte is a
  partial aggregate: assignment is an Arrow-batched argmax against the
  BROADCAST codebook (n_lists x dim floats, KBs-MBs), the centroid update
  is ``posexplode -> groupBy(list, pos).agg(sum, count)`` — a map-side
  combinable HashAggregate whose post-shuffle size is exactly
  n_lists x dim scalars regardless of input rows; only that codebook-sized
  frame ever reaches the driver.
- SEARCH ships each corpus vector through exactly ONE Exchange (the
  ``_list``-keyed group — on a production layout the index table is
  bucket-written by ``_list`` so even that shuffle disappears). Query
  batches are small next to the corpus, so whenever their n_q·dim·8
  bytes fit ``repart.fits_broadcast`` they are BROADCAST: the query
  matrix plus a CSR inverted probe index ride one broadcast into the
  per-list Arrow kernel, and
  NO query bytes enter any Exchange — the cogroup fallback (queries
  replicated nprobe times through a shuffle) serves query sets too big
  to broadcast, row-identical by construction. Scoring is one float64
  BLAS matmul per list (the cosine_topk kernel shape, blocked by list),
  and the top-k window runs over (qid, pid, sim) SCALARS — vectors
  never enter the rank Exchange (plan gate in tests/test_plans.py).
  Coarse quantization (assign + probe selection) scores in float32 —
  the sim matrix is pure membus traffic and picks only WHICH lists are
  used; the exact re-rank stays float64.
- Unlike LSH, lists partition the corpus (each candidate lives in exactly
  one list), so the candidate stream needs no pair-dedup stage at all.

``nprobe >= n_lists`` probes every list, making the result EXACTLY the
brute-force cosine top-k — that equivalence is both a pytest gate and the
driver query's full DuckDB oracle (ann_ivf_top3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType



def _unit_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def train_ivf(
    df: DataFrame,
    n_lists: int,
    vec: str = "embedding",
    n_iters: int = 8,
    sample_fraction: float | None = None,
    seed: int = 11,
) -> np.ndarray:
    """Lloyd k-means on the unit sphere (spherical k-means — the right
    quantizer for cosine similarity): returns (n_lists, dim) unit-norm
    centroids.

    Deterministic init: the ``n_lists`` vectors with the smallest
    xxhash64 of their serialized value (a seedable uniform draw that needs
    no monotonic ids; ``orderBy(hash).limit(k)`` is a top-k, not a global
    sort). Each iteration runs two bounded-output jobs: the argmax
    assignment (broadcast codebook, Arrow batches) and the per-(list, dim)
    partial-sum update whose result — n_lists x dim scalars — is the only
    thing collected. Empty lists keep their previous centroid (standard
    Lloyd degeneracy handling, deterministic)."""
    from gis_scripts_spark.operators.repart import spread

    vecs = df.select(F.col(vec).alias("_v"))
    if sample_fraction is not None:
        vecs = vecs.sample(fraction=sample_fraction, seed=seed)
    # spread: a single-file embedding table arrives as ONE scan partition —
    # without this every Lloyd assignment pass runs its Arrow UDF +
    # posexplode on one core (measured ~3 s/iteration at 20k x 64 vs ~0.4 s
    # spread; the explode is 64 rows per vector).
    vecs = spread(
        vecs.select(F.transform("_v", lambda x: x.cast("double")).alias("_v"))
    ).persist()
    try:
        init = (
            vecs.withColumn("_h", F.xxhash64(F.to_json(F.struct("_v")), F.lit(seed)))
            .orderBy("_h")
            .limit(n_lists)
            .select("_v")
            .toPandas()
        )
        cents = _unit_rows(np.stack(init["_v"].to_numpy()).astype(np.float64))
        dim = cents.shape[1]
        nl = n_lists
        for _ in range(n_iters):
            # per-PARTITION partial sums inside one Arrow pass: the earlier
            # posexplode + groupBy(_list,_pos) shape shuffled n*dim rows per
            # iteration and ran a second 64-task reduce stage per pass
            # (stage capture: ~0.65 s/task of per-task overhead on a
            # 20k-row table). Here each task emits <= n_lists bounded rows
            # (list, count, sum-vector) and the driver combines — the only
            # thing collected is n_lists x dim scalars, as before. Float
            # summation is per-partition then driver-ordered; centroid
            # low-bit drift does not affect results (exhaustive probing is
            # codebook-independent; ties re-rank in float64 off raw values).
            cT = np.ascontiguousarray(cents.T, dtype=np.float32)

            def _partials(batches, _cT=cT, _nl=nl, _dim=dim):
                import pyarrow as pa

                S = np.zeros((_nl, _dim), np.float64)
                N = np.zeros(_nl, np.int64)
                for b in batches:
                    col = b.column(0)
                    flat = np.asarray(col.flatten(), dtype=np.float64)
                    m = flat.reshape(len(col), _dim)
                    a = np.argmax(
                        _unit_rows(m).astype(np.float32) @ _cT, axis=1
                    )
                    np.add.at(S, a, m)
                    N += np.bincount(a, minlength=_nl)
                nz = np.nonzero(N)[0]
                if len(nz):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(nz.astype(np.int32)),
                            pa.array(N[nz]),
                            pa.array(list(S[nz]), type=pa.list_(pa.float64())),
                        ],
                        names=["_list", "_n", "_s"],
                    )

            sums = vecs.mapInArrow(
                _partials, "_list int, _n long, _s array<double>"
            ).toPandas()
            new = cents.copy()
            counts = np.zeros(len(cents), dtype=np.int64)
            acc = np.zeros_like(cents)
            for li, n, s in sums.itertuples(index=False):
                acc[int(li)] += np.asarray(s, np.float64)
                counts[int(li)] += int(n)
            nz = counts > 0
            new[nz] = _unit_rows(acc[nz] / counts[nz, None])
            if np.allclose(new, cents, atol=1e-12):
                cents = new
                break
            cents = new
        assert cents.shape == (n_lists, dim)
        return cents
    finally:
        vecs.unpersist(False)


def _argmax_list_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment (cosine = max dot on the
    unit sphere; codebook rides the closure -> broadcast once per task).

    COARSE scoring runs in float32: the sim matrix is the membus cost of
    the whole index build (batch x n_lists x 8B in float64 — a 2M x 1408
    assign pushes 22 GB through one memory bus, measured 83 s and
    anti-scaling at 32 threads; float32 halves the bytes and doubles the
    BLAS rate). float32 only picks WHICH list a vector lands in / which
    lists a query probes — the final re-rank stays float64, so result
    ordering and the DuckDB-oracle tie contract are untouched. np.argmax
    takes the lowest list id on exact ties: deterministic, row-local,
    parallelism-independent."""
    cT = np.ascontiguousarray(centroids.T, dtype=np.float32)

    @F.pandas_udf(IntegerType())
    def assign(v: pd.Series) -> pd.Series:
        m = _unit_rows(np.stack(v.to_numpy()).astype(np.float64)).astype(np.float32)
        return pd.Series(np.argmax(m @ cT, axis=1).astype(np.int32))

    return assign


def _probe_rows(raw: np.ndarray, cT32: np.ndarray, k: int) -> np.ndarray:
    """(n, dim) raw vectors -> (n, k) probed list ids. One shared kernel so
    the distributed UDF and the driver-side broadcast path compute
    IDENTICAL probe sets (float32 coarse scoring, stable argsort on
    (-sim, list_id))."""
    m = _unit_rows(raw.astype(np.float64)).astype(np.float32)
    sims = m @ cT32
    return np.argsort(-sims, axis=1, kind="stable")[:, :k].astype(np.int32)


def _probe_lists_udf(centroids: np.ndarray, nprobe: int):
    """Top-``nprobe`` nearest centroid ids per query vector (array<int>)."""
    cT = np.ascontiguousarray(centroids.T, dtype=np.float32)
    k = min(nprobe, cT.shape[1])

    @F.pandas_udf(ArrayType(IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        order = _probe_rows(np.stack(v.to_numpy()), cT, k)
        return pd.Series(list(order))

    return probes


def assign_lists(
    df: DataFrame, centroids: np.ndarray, vec: str = "embedding", out: str = "_list"
) -> DataFrame:
    """Index-build step: tag every row with its inverted-list id. At
    production scale the result is bucket-written by ``out`` so searches
    join shuffle-free; here it feeds the join directly."""
    return df.withColumn(out, _argmax_list_udf(centroids)(F.col(vec)))


def _chunked_list_topk(
    q_raw: np.ndarray,
    qids: np.ndarray,
    c_raw: np.ndarray,
    pids: np.ndarray,
    kk: int,
    excl: bool,
) -> pd.DataFrame:
    """Exact per-list top-k: float64 scoring, (sim desc, pid asc) ties.

    Shared by the broadcast and cogroup kernels so the two plans are
    row-identical. BLOCKS over queries: the full (nq, nc) sim matrix is
    O(nq*nc) memory — at 2M vectors / 64 lists a single group would
    materialize 31k x 31k x 8B = 7.7 GB and stall the executor (measured:
    the first 2M scaling sweep hung here). Chunks bound the live matrix
    to ~256 MB; each chunk's top-k is final because rows are independent.
    Candidates are pid-sorted once, then a STABLE argsort on -sim keeps
    the exact (sim desc, pid asc) tie contract the full oracle pins
    (argpartition would pick arbitrarily among boundary ties).
    """
    cm = _unit_rows(c_raw.astype(np.float64))
    order_p = np.argsort(pids, kind="mergesort")
    cm = cm[order_p]
    pid = pids[order_p]
    nc = len(pid)
    m = min(kk, nc)
    q_chunk = max(1, int(32_000_000 // max(nc, 1)))
    outs = []
    for s in range(0, len(qids), q_chunk):
        qm = _unit_rows(q_raw[s : s + q_chunk].astype(np.float64))
        sims = qm @ cm.T  # (chunk, nc)
        qid = qids[s : s + q_chunk]
        if excl:
            sims[qid[:, None] == pid[None, :]] = -np.inf
        # pid-sorted columns + first-max argmax passes keep the exact
        # (sim desc, pid asc) tie contract at O(k*nq*nc) — the full stable
        # argsort (O(nq*nc*log nc)) dominated this kernel in the stage
        # capture (see similarity.topk_passes)
        from gis_scripts_spark.operators.similarity import topk_passes

        top, tsim = topk_passes(sims, m)
        top_pid = pid[top]
        keep = np.isfinite(tsim)
        cnt = keep.sum(axis=1)
        outs.append(pd.DataFrame(
            {
                "_qid": np.repeat(qid, cnt),
                "_pid": top_pid[keep],
                "_sim": tsim[keep],
            }
        ))
    return pd.concat(outs, ignore_index=True)


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_lists: int = 8,
    nprobe: int = 2,
    centroids: np.ndarray | None = None,
    queries_df: DataFrame | None = None,
    n_iters: int = 8,
    seed: int = 11,
) -> DataFrame:
    """Approximate cosine top-k via IVF probing; exact when
    ``nprobe >= n_lists`` (every list probed = brute force).

    Returns (query_id, neighbor_id, rank), rank by (sim desc, neighbor_id)
    — the same deterministic contract as ``cosine_topk``/``lsh_topk``.
    Self-matches are excluded when the corpus serves as its own query set.

    Regime: one count job sizes the query matrix at n_q·dim·8 bytes, and
    ``repart.fits_broadcast`` picks the broadcast path or the cogroup
    fallback. The two are row-identical by construction (same raw values,
    same float64 kernel, same probe sets via the shared float32
    ``_probe_rows``).
    """
    from gis_scripts_spark.operators.repart import spread

    if centroids is None:
        centroids = train_ivf(df, n_lists, vec=vec, n_iters=n_iters, seed=seed)
    exclude_self = queries_df is None
    qs = queries_df if queries_df is not None else df

    # spread before the assignment UDF: single-file scans otherwise run the
    # whole coarse-quantizer argmax on one core (see train_ivf).
    base = assign_lists(spread(df, id_col), centroids, vec=vec).select(
        F.col(id_col).alias("_pid"), F.col(vec).alias("_pv"), "_list"
    )
    return _ivf_search(
        base, qs, centroids, k, id_col, vec, nprobe, exclude_self
    )


def ivf_topk_prebuilt(
    index_df: DataFrame,
    k: int,
    centroids: np.ndarray,
    queries_df: DataFrame,
    id_col: str = "vec_id",
    vec: str = "embedding",
    list_col: str = "_list",
    nprobe: int = 2,
) -> DataFrame:
    """Search over a PREBUILT index: ``index_df`` already carries the
    inverted-list tag from :func:`assign_lists` (the production layout —
    the index is built once, bucket-written by ``list_col``, and every
    query batch amortizes it). Same result contract as :func:`ivf_topk`.
    """
    base = index_df.select(
        F.col(id_col).alias("_pid"), F.col(vec).alias("_pv"),
        F.col(list_col).alias("_list"),
    )
    return _ivf_search(
        base, queries_df, centroids, k, id_col, vec, nprobe, False
    )


def _ivf_search(
    base: DataFrame,
    qs: DataFrame,
    centroids: np.ndarray,
    k: int,
    id_col: str,
    vec: str,
    nprobe: int,
    exclude_self: bool,
) -> DataFrame:
    # Per-list scoring is ONE float64 BLAS matmul per list group — the
    # same blocked-BLAS kernel shape as cosine_topk, blocked by inverted
    # list instead of by hash. (A first cut computed the dot product with
    # zip_with/aggregate Column expressions on the joined pairs: the
    # higher-order functions evaluate interpreted per ELEMENT per pair —
    # measured 53 s for 4M pairs at dim 64 where this kernel takes ~2 s.)
    # Each kernel emits <= k rows per query per probed list (the global
    # top-k is a subset of the union, because lists PARTITION the corpus),
    # so the rank window's input is bounded at nprobe*k rows/query and its
    # Exchange carries (qid, pid, sim) scalars only.
    qid_type = qs.schema[id_col].dataType
    pid_type = base.schema["_pid"].dataType
    from pyspark.sql.types import DoubleType, StructField, StructType

    part_schema = StructType(
        [
            StructField("_qid", qid_type),
            StructField("_pid", pid_type),
            StructField("_sim", DoubleType()),
        ]
    )
    kk = int(k)
    excl = bool(exclude_self)
    p = min(nprobe, len(centroids))
    cT32 = np.ascontiguousarray(centroids.T, dtype=np.float32)

    # ---- query-side regime ---------------------------------------------
    # Query batches are usually tiny next to the corpus (50k queries x
    # dim 64 = 13 MB vs a multi-GB index). Broadcasting them deletes the
    # probe-explode Exchange AND the query-vector shuffle entirely: the
    # search plan becomes corpus scan -> ONE Exchange (groupBy _list;
    # zero with a bucket-written index) -> Arrow kernel -> scalar rank
    # window. Measured at 2M x 50k / 1408 lists: the cogroup path's
    # query side alone shuffled ~650 MB of replicated vectors. The
    # cogroup path remains for query sets too big to broadcast.
    from gis_scripts_spark.operators.repart import fits_broadcast, slots

    q_bytes = qs.count() * len(centroids[0]) * 8
    if fits_broadcast(base.sparkSession, "ivf_topk.queries", q_bytes):
        qpdf = qs.select(F.col(id_col).alias("_qid"), F.col(vec).alias("_qv")).toPandas()
        # keep RAW values at native dtype: the kernel normalizes in
        # float64 from the same raw values the cogroup path sees, so the
        # two paths are bit-identical row for row
        q_raw = np.stack(qpdf["_qv"].to_numpy())
        qids_all = qpdf["_qid"].to_numpy()
        probes = _probe_rows(q_raw, cT32, p)  # (nq, p) — same kernel as the UDF
        # CSR inverted probe index: list -> query row indices
        flat = probes.ravel()
        order = np.argsort(flat, kind="stable")
        inv_idx = np.repeat(np.arange(len(qids_all), dtype=np.int64), p)[order]
        inv_start = np.searchsorted(flat[order], np.arange(len(centroids) + 1))
        bc = base.sparkSession.sparkContext.broadcast(
            (qids_all, q_raw, inv_idx, inv_start)
        )

        def list_topk_b(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"_qid": [], "_pid": [], "_sim": []})
            qids_b, q_raw_b, inv_idx_b, inv_start_b = bc.value
            lst = int(pdf["_list"].iloc[0])
            s, e = int(inv_start_b[lst]), int(inv_start_b[lst + 1])
            if e <= s:
                return pd.DataFrame({"_qid": [], "_pid": [], "_sim": []})
            qsel = inv_idx_b[s:e]
            return _chunked_list_topk(
                q_raw_b[qsel], qids_b[qsel],
                np.stack(pdf["_pv"].to_numpy()), pdf["_pid"].to_numpy(),
                kk, excl,
            )

        # explicit numPartitions repartition before the kernel groupBy: the
        # post-shuffle bytes are tiny (20k x 64 floats ~ 8 MB) so AQE's
        # coalescer folds the per-list BLAS stage onto ~4 tasks (measured:
        # 76 s of executor time serialized 4-wide = 19-24 s wall); an
        # AQE-exempt repartition on the SAME key keeps the kernel on every
        # core and the groupBy reuses the partitioning (one Exchange).
        #
        # SUB-SPLIT skew balancing (optimization round): Voronoi lists are
        # uneven (2-3x), and with ~one group per core the largest list IS
        # the stage wall (run-to-run kernel-job swings 1.9-4.6 s). A
        # deterministic sub-key partitions each list into `nsub` chunks:
        # work per group evens out, and exactness is unchanged — chunks
        # partition the list, so per-chunk top-k lists are a superset of
        # the per-list top-k and the same union argument that covers
        # partitioned lists covers partitioned chunks; each (q, p) pair
        # still appears exactly once.
        par = slots(base)
        nsub = max(1, (2 * par) // max(len(centroids), 1))
        keyed = base.withColumn(
            "_sub", F.pmod(F.xxhash64("_pid"), F.lit(nsub)).cast("int")
        )
        scored = (
            keyed.repartition(min(len(centroids) * nsub, 2 * par), "_list", "_sub")
            .groupBy("_list", "_sub")
            .applyInPandas(list_topk_b, part_schema)
        )
    else:
        q = qs.select(
            F.col(id_col).alias("_qid"),
            F.col(vec).alias("_qv"),
            _probe_lists_udf(centroids, nprobe)(F.col(vec)).alias("_probes"),
        ).select("_qid", "_qv", F.explode("_probes").alias("_list"))

        def list_topk(qdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
            if len(qdf) == 0 or len(cdf) == 0:
                return pd.DataFrame({"_qid": [], "_pid": [], "_sim": []})
            return _chunked_list_topk(
                np.stack(qdf["_qv"].to_numpy()), qdf["_qid"].to_numpy(),
                np.stack(cdf["_pv"].to_numpy()), cdf["_pid"].to_numpy(),
                kk, excl,
            )

        par = slots(base)
        n_part = min(len(centroids), par)
        scored = (
            q.repartition(n_part, "_list")
            .groupBy("_list")
            .cogroup(base.repartition(n_part, "_list").groupBy("_list"))
            .applyInPandas(list_topk, part_schema)
        )
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_pid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_pid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
