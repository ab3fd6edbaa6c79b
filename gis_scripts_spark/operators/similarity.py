"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Training-data-pipeline operator (not in the reference, which has no
embedding surface; nearest analogue is its kNN-style interpolation). The
brute-force path stays entirely JVM-side (higher-order array functions —
zip_with/aggregate — inside whole-stage codegen, no Python). The scale path
buckets by random-hyperplane LSH signatures so candidate generation is an
equi-join instead of a cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def topk_passes(sims: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise top-m of a (nq, nc) sim matrix by (sim desc, column asc),
    via m argmax passes — O(m*nq*nc) instead of the full stable argsort's
    O(nq*nc*log nc) (measured: the argsort dominated every BLAS re-rank
    kernel at 20k x 625-per-list). np.argmax takes the FIRST maximum, so
    with pid-sorted columns the (sim desc, pid asc) tie contract of the
    stable argsort is preserved exactly. MUTATES `sims` (picked entries
    become -inf). Returns (idx, val) of shape (nq, m); exhausted rows
    yield -inf vals (callers drop non-finite entries)."""
    nq = sims.shape[0]
    rows = np.arange(nq)
    idx = np.empty((nq, m), np.int64)
    val = np.empty((nq, m), np.float64)
    for j in range(m):
        c = np.argmax(sims, axis=1)
        v = sims[rows, c]
        idx[:, j] = c
        val[:, j] = v
        sims[rows, c] = -np.inf
    return idx, val


def with_norm(df: DataFrame, vec: str = "embedding", out: str = "_norm") -> DataFrame:
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    return df.withColumn(out, F.sqrt(_dot(v, v)))


def cosine_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
    queries_df: DataFrame | None = None,
    n_blocks: int = 8,
    q_chunks: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k, fully distributed block matmul —
    NO driver-side collect anywhere (the candidate table never leaves the
    executors).

    Block scheme (the classic blocked all-pairs shape): candidates hash to
    `n_blocks` blocks, queries hash to `q_chunks` chunks; each (block,
    chunk) task does one (nq/Q × nc/B) float64 BLAS matmul + vectorized
    stable top-k, emitting <= k rows per query per block; a final window
    merges the per-block top-k lists (input bounded at B·k rows/query).
    Communication is O(n·(B+Q)/BQ · BQ) = each vector replicated B or Q
    times — tune n_blocks so a block (~n/B vectors) fits executor memory;
    at 10^8+ vectors raise n_blocks or switch to `lsh_topk` (approximate,
    bucket-sparse).

    Returns (query_id, neighbor_id, rank), rank ordered by (sim desc,
    neighbor_id) — deterministic tie-break.
    """
    spark = df.sparkSession
    qs = queries_df if queries_df is not None else df
    qid_type = qs.schema[id_col].dataType
    local_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", qid_type),
            StructField("_sim", DoubleType()),
        ]
    )

    cand = df.select(
        F.col(id_col).alias("_cid"), F.col(vec).alias("_cv")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col("_cid")), F.lit(n_blocks)).cast("int"))
    # replicate candidates across query chunks / queries across blocks:
    # both replication factors are small constants, never data-sized
    qc_df = spark.range(q_chunks).select(F.col("id").cast("int").alias("_qc"))
    blk_df = spark.range(n_blocks).select(F.col("id").cast("int").alias("_blk"))
    cand_rep = cand.crossJoin(qc_df)
    q_rep = (
        qs.select(F.col(id_col).alias("_qid"), F.col(vec).alias("_qv"))
        .withColumn("_qc", F.pmod(F.xxhash64(F.col("_qid")), F.lit(q_chunks)).cast("int"))
        .crossJoin(blk_df)
    )

    def local_topk(queries: pd.DataFrame, candidates: pd.DataFrame) -> pd.DataFrame:
        if len(queries) == 0 or len(candidates) == 0:
            return pd.DataFrame({f.name: [] for f in local_schema.fields})
        candidates = candidates.sort_values("_cid", kind="mergesort")
        cids = candidates["_cid"].to_numpy()
        m = np.stack([np.asarray(v, np.float64) for v in candidates["_cv"]])
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        q = np.stack([np.asarray(v, np.float64) for v in queries["_qv"]])
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        qids = queries["_qid"].to_numpy()
        sims = q @ m.T  # (nq, nc) BLAS
        sims[qids[:, None] == cids[None, :]] = -np.inf  # exclude self by id
        kk = min(k, sims.shape[1])
        # id-sorted columns + first-max argmax passes = the deterministic
        # (sim desc, neighbor_id asc) tie contract (see topk_passes)
        order, ssel = topk_passes(sims, kk)
        keep = np.isfinite(ssel)
        cnt = keep.sum(axis=1)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, cnt),
                "neighbor_id": cids[order[keep]],
                "_sim": ssel[keep],
            }
        )

    local = (
        q_rep.groupBy("_blk", "_qc")
        .cogroup(cand_rep.groupBy("_blk", "_qc"))
        .applyInPandas(local_topk, local_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_topk_sql(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
    queries_df: DataFrame | None = None,
) -> DataFrame:
    """Pure-SQL variant (higher-order array functions + window) — no Python
    at all; kept for plan comparisons and as the no-broadcast fallback."""
    pts = with_norm(df.select(F.col(id_col).alias("_pid"), F.col(vec).alias("_pv")), "_pv", "_pn")
    qs = queries_df if queries_df is not None else df
    qrs = with_norm(qs.select(F.col(id_col).alias("_qid"), F.col(vec).alias("_qv")), "_qv", "_qn")

    pairs = qrs.crossJoin(pts).filter(F.col("_qid") != F.col("_pid"))
    qv = F.transform(F.col("_qv"), lambda x: x.cast("double"))
    pv = F.transform(F.col("_pv"), lambda x: x.cast("double"))
    sim = (_dot(qv, pv) / (F.col("_qn") * F.col("_pn"))).alias("_sim")
    pairs = pairs.select(F.col("_qid"), F.col("_pid"), sim)
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_pid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_pid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- LSH hyperplane family: integer-mixed Rademacher (+/-1) planes over
# 1024-quantized vector components. Two properties motivate this over
# seeded gaussian planes:
#   * the projection  P(t,p) = sum_d round(v_d*1024) * s(t,p,d)  is an
#     INT64 sum — exact and addition-order-independent, so numpy (BLAS
#     matmul) and any SQL engine (sequential SUM) compute bit-identical
#     sign bits, which is what lets `ann_lsh_top3` run under the FULL
#     DuckDB value-hash oracle (lsh_bucket_sql emits the same
#     computation as SQL);
#   * sign-random-projection LSH only needs the plane distribution to be
#     symmetric — Rademacher entries are the standard cheap variant of
#     the Charikar hyperplane family (recall contract re-pinned by
#     tests/test_similarity_more.py).
# The quantization (floor(v*1024 + 0.5), exact in float64 for float32
# inputs since 1024 is a power of two) only perturbs vectors by <1e-3
# per component inside the HASH; the top-k re-rank is exact cosine on
# the raw floats.
_LSH_MIX_MULT = 2654435761
_LSH_MIX_ADD = 1013904223
_LSH_MOD = 1 << 32


def _lsh_plane_signs(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """(dim, n_planes) int64 matrix of +/-1 plane entries for one table.
    sign(p, d) = +1 iff bit 16 of mix(seed*1000003 + p*8191 + d) is set —
    re-derivable verbatim in SQL (lsh_bucket_sql)."""
    p = np.arange(n_planes, dtype=np.int64)[None, :]
    d = np.arange(dim, dtype=np.int64)[:, None]
    x = seed * 1000003 + p * 8191 + d
    h = (x * _LSH_MIX_MULT + _LSH_MIX_ADD) % _LSH_MOD
    return (((h >> 16) & 1) * 2 - 1).astype(np.int64)


def _lsh_quantize(m: np.ndarray) -> np.ndarray:
    """floor(v*1024 + 0.5) as int64 — exact for float32 inputs (power-of-2
    scale, float64 arithmetic), identical to SQL FLOOR(v*1024 + 0.5)."""
    return np.floor(m.astype(np.float64) * 1024.0 + 0.5).astype(np.int64)


def lsh_signature_udf(dim: int, n_planes: int = 16, seed: int = 7):
    """Random-hyperplane (SimHash) signature for cosine LSH: sign pattern of
    `n_planes` fixed mixed-Rademacher projections over quantized components,
    packed into an int64 bucket key.

    The matmul runs in float64 for BLAS speed but stays EXACT integer
    arithmetic: every product q*s and every partial sum is an integer with
    |value| <= dim * 2^25 << 2^53, so no float64 addition ever rounds —
    the signs are bit-identical to the int64 formulation (and to the SQL
    mirror's BIGINT sums)."""
    planes = _lsh_plane_signs(dim, n_planes, seed).astype(np.float64)

    @F.pandas_udf(LongType())
    def sig(vec: pd.Series) -> pd.Series:
        m = _lsh_quantize(np.stack(vec.to_numpy())).astype(np.float64)
        bits = (m @ planes) >= 0.0
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series(bits @ weights)

    return sig


def lsh_multi_signature_udf(dim: int, n_planes: int, n_tables: int, seed: int = 101):
    """All `n_tables` hyperplane signatures in ONE Arrow pass: returns
    array<long> of length n_tables (one packed bucket key per table), so
    the source is scanned once instead of once per table."""
    # per-table seeds identical to lsh_signature_udf(seed=seed+t) so the
    # buckets (hence results) match the per-table formulation exactly.
    # float64 matmul for BLAS speed — exact integer arithmetic throughout
    # (see lsh_signature_udf), signs bit-identical to the int64/SQL form.
    planes = np.hstack(
        [_lsh_plane_signs(dim, n_planes, seed + t) for t in range(n_tables)]
    ).astype(np.float64)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def sigs(vec: pd.Series) -> pd.Series:
        m = _lsh_quantize(np.stack(vec.to_numpy())).astype(np.float64)
        bits = (m @ planes) >= 0.0  # (batch, n_tables*n_planes)
        keys = bits.reshape(len(m), n_tables, n_planes) @ weights  # (batch, n_tables)
        return pd.Series(list(keys))

    return sigs


def lsh_bucket_sql(
    table: str,
    id_col: str,
    vec: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 101,
) -> str:
    """ANSI-SQL CTE chain reproducing `lsh_multi_signature_udf`'s bucket
    keys BIT-FOR-BIT (integer mixing + int64 projection sums — no float
    summation anywhere, so addition order cannot matter). Emits a relation
    `lsh_sig(vec_id, t, bucket)`; compose with a same-bucket self-join for
    the candidate set (see queries.SQL_ANN_LSH)."""
    return f"""
lsh_dims AS (SELECT CAST(unnest(range(0, {dim})) AS BIGINT) AS d),
lsh_planes AS (
  SELECT t.t, p.p, dims.d,
         CASE WHEN ((((({seed} + t.t) * 1000003 + p.p * 8191 + dims.d)
                      * {_LSH_MIX_MULT} + {_LSH_MIX_ADD}) % {_LSH_MOD})
                    // 65536) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM (SELECT CAST(unnest(range(0, {n_tables})) AS BIGINT) AS t) t,
       (SELECT CAST(unnest(range(0, {n_planes})) AS BIGINT) AS p) p,
       lsh_dims dims),
lsh_qv AS (
  SELECT e.{id_col} AS vec_id, dims.d,
         CAST(FLOOR(CAST(e.{vec}[CAST(dims.d AS INTEGER) + 1] AS DOUBLE) * 1024 + 0.5)
              AS BIGINT) AS q
  FROM {table} e, lsh_dims dims),
lsh_proj AS (
  SELECT qv.vec_id, pl.t, pl.p, SUM(qv.q * pl.s) AS pr
  FROM lsh_qv qv JOIN lsh_planes pl ON qv.d = pl.d
  GROUP BY 1, 2, 3),
lsh_sig AS (
  SELECT vec_id, t,
         SUM(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER))
                  ELSE 0 END) AS bucket
  FROM lsh_proj GROUP BY 1, 2)"""


def lsh_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: `n_tables` independent hyperplane LSH
    buckets, candidates = same-bucket pairs in any table, exact re-rank.
    Recall grows with n_tables.

    Scale shape (rebuilt in the optimization round from stage-level
    measurement): the re-rank runs as ONE float64 BLAS kernel per
    (table, bucket) group — the `_chunked_list_topk` shape `ann_ivf`
    uses per inverted list, applied per LSH bucket. The r4/r5 ids-only
    candidate-join formulation (an ids-only bucket self-join + two vector
    re-joins + a zip_with/aggregate dot per pair) shipped each embedding once per
    CANDIDATE PAIR side (2 x pairs vectors ~ 2 x occupancy x n_tables
    copies per vector) and evaluated the dot interpreted per element —
    measured 58.8 s at 20k x 64 / 6 tables (41.8 s of it the 2-task
    scan-side stage, the rest the 470 s-of-executor-time pair stage).
    Grouping by bucket instead ships each vector exactly `n_tables`
    times through ONE Exchange (46 MB vs 282 MB here), the per-bucket
    top-k is a vectorized matmul, and the downstream dedup + rank window
    carry (qid, pid, sim) scalars only.

    Exactness: within a bucket the global candidate set restricted to
    that bucket contains every global top-k member that co-occurs there
    (anything ranked above it is globally top-k too), so the union of
    per-bucket top-k lists ⊇ the top-k over all candidate pairs — the
    same subset argument `ann_ivf` documents for partitioned lists,
    valid for overlapping buckets because duplicate (q, p) pairs carry
    identical sims (same raw vectors, same kernel). Ties break by
    (sim desc, pid asc) inside the kernel via pid-sorted stable argsort,
    identical to `cosine_topk`/`ann_ivf`; pytest re-pins recall and
    exact-on-candidates equality, and the driver query stays under the
    full DuckDB value-hash oracle."""
    from gis_scripts_spark.operators.repart import spread

    spark = df.sparkSession
    from gis_scripts_spark.operators.repart import slots

    # SLOT-count width for the signature-UDF and bucket-kernel stages: at
    # 2x slots these small-row compute stages paid double the per-task
    # Arrow overhead (measured 4.2 -> 3.1 s at 20k x 6 tables)
    par = slots(spark)
    qid_type = df.schema[id_col].dataType
    kernel_schema = StructType(
        [
            StructField("_qid", qid_type),
            StructField("_pid", qid_type),
            StructField("_sim", DoubleType()),
        ]
    )

    base = spread(df.select(F.col(id_col).alias("_pid"), F.col(vec).alias("_pv")), "_pid")
    sigs = lsh_multi_signature_udf(dim, n_planes, n_tables)
    keyed = (
        base.select("_pid", "_pv", sigs(F.col("_pv")).alias("_sigs"))
        .select("_pid", "_pv", F.posexplode("_sigs").alias("_t", "_bucket"))
        # explicit numPartitions repartition: AQE-exempt, so the coalescer
        # cannot fold this small-bytes / compute-heavy kernel stage onto a
        # handful of tasks; groupBy below reuses this exact partitioning
        # (ClusteredDistribution satisfied), so vectors cross ONE Exchange.
        .repartition(par, "_t", "_bucket")
    )
    kk = int(k)

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({f.name: [] for f in kernel_schema.fields})
        pdf = pdf.sort_values("_pid", kind="mergesort")
        ids = pdf["_pid"].to_numpy()
        m = np.stack(pdf["_pv"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        m /= nrm
        sims = m @ m.T
        sims[ids[:, None] == ids[None, :]] = -np.inf  # exclude self by id
        mm = min(kk, n - 1)
        # pid-sorted rows + first-max argmax passes = (sim desc, pid asc)
        order, ssel = topk_passes(sims, mm)
        keep = np.isfinite(ssel)
        cnt = keep.sum(axis=1)
        return pd.DataFrame(
            {
                "_qid": np.repeat(ids, cnt),
                "_pid": ids[order[keep]],
                "_sim": ssel[keep],
            }
        )

    scored = keyed.groupBy("_t", "_bucket").applyInPandas(bucket_topk, kernel_schema)
    # duplicate (q, p) pairs across tables/buckets carry identical sims —
    # max() is a deterministic representative; map-side combinable.
    agg = scored.groupBy("_qid", "_pid").agg(F.max("_sim").alias("_sim"))
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_pid"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_pid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
