"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard (task-mandated first-class ops; the reference has
no text surface — its nearest analogue is the skip-if-done anti-join J7).

All hashing is derived from md5 of the token or shingle bytes —
deterministic across partitions, parallelism levels and runs (no Python
hash() randomization, no partition-index dependence) and reproducible in
SQL, so every text dedup query has a DuckDB oracle.

Scale shapes:
- exact: md5 groupBy — one shuffle, partial agg map-side.
- minhash (minhash_lsh_pairs_sql): per-doc signature in one vectorized
  pandas UDF; LSH bands -> (id, band, band_hash) explode — IDS ONLY, the
  text/signature payload never rides the band explode or the self-join
  shuffle; texts re-joined exactly once per surviving candidate pair for
  the exact-Jaccard verify.
- simhash / pHash: one hash per row (64-bit, or 256-bit as four words)
  into hamming_neardup_pairs, the one banded self-join (max_hamming + 1
  bands; pigeonhole: any pair within the distance shares one band
  exactly); the hash width decides where its refine runs.
- n-gram Jaccard: broadcast integer postings and a numpy pair kernel when
  the gram collect's byte bound fits ``repart.fits_broadcast``; an
  inverted-index self-join otherwise.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from gis_scripts_spark.cachescope import persist, scoped


def _shingles(text: str, n: int) -> list[str]:
    toks = text.split(" ")
    if n <= 1 or len(toks) < n:
        return toks
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


# ------------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_md5, canonical_id, n_copies) — hash-groupBy exact dedup."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ----------------------------------------------------------------- simhash
_MD5_CACHE: dict[str, int] = {}


def _md5_token_hashes(tokens: list[str]) -> np.ndarray:
    """64-bit token hashes as the first 8 bytes (big-endian) of md5 — the
    SQL-reproducible variant (DuckDB: ('0x' || substr(md5(w),1,16))::UBIGINT),
    enabling an exact ANSI-SQL oracle for the simhash pipeline."""
    out = np.empty(len(tokens), np.uint64)
    for i, t in enumerate(tokens):
        h = _MD5_CACHE.get(t)
        if h is None:
            h = _MD5_CACHE[t] = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            if len(_MD5_CACHE) > 1_000_000:
                _MD5_CACHE.clear()
        out[i] = h
    return out


def simhash_udf(shingle_n: int = 1):
    @F.pandas_udf(LongType())
    def sim(text: pd.Series) -> pd.Series:
        out = np.empty(len(text), np.int64)
        for i, t in enumerate(text):
            hs = _md5_token_hashes(_shingles(t, shingle_n))
            if len(hs) == 0:
                out[i] = 0
                continue
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int64)
            v = (2 * bits - 1).sum(axis=0)
            val = 0
            for j in range(64):
                if v[j] > 0:
                    val |= 1 << j
            out[i] = val - (1 << 64) if val >= (1 << 63) else val
        return pd.Series(out)

    return sim


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming: md5 token
    hashes (SQL-reproducible, so the DuckDB oracle rebuilds them), then the
    banded hamming self-join, complete for any max_hamming in [0, 16].

    Returns (id_a, id_b, hamming)."""
    from gis_scripts_spark.operators.repart import spread

    # spread the scan: a single-file documents table plans the simhash UDF
    # on ONE scan partition (optimization-round stage capture at 50k docs,
    # sf1.0: 24 s of 26.7 s was a 2-task stage)
    docs = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")), id_col)
    hashes = docs.select("_id", simhash_udf(shingle_n)(F.col("_t")).alias("_sh"))
    return hamming_neardup_pairs(hashes, "_sh", "_id", max_hamming)


def multiword_bands(n_bits: int, max_hamming: int) -> list[tuple[int, int, int]]:
    """(band, start_bit, width) layout for an n_bits hash split into
    (max_hamming + 1) contiguous bands — shared by the Spark operator and
    the DuckDB oracle SQL so both extract IDENTICAL band values. Global
    bit k lives in word k // 64 at in-word position k % 64 (LSB-first)."""
    n_bands = max_hamming + 1
    base_w, extra = divmod(n_bits, n_bands)
    width0 = base_w + (1 if extra else 0)
    if width0 > 64:
        raise ValueError(
            f"band width {width0} > 64: raise max_hamming (>= {n_bits // 64 - 1}) "
            "so each band value fits one int64 join key"
        )
    bands, s = [], 0
    for b in range(n_bands):
        w = base_w + (1 if b < extra else 0)
        bands.append((b, s, w))
        s += w
    return bands


def _mw_band_sql(s: int, wd: int) -> str:
    """SQL for bits [s, s+wd) of the multiword hash held in columns
    `_w0`, `_w1`, ... A band of width <= 64 spans at most two adjacent
    words."""
    i, r = divmod(s, 64)
    lowbits = 64 - r
    if wd <= lowbits:
        v = f"shiftrightunsigned(_w{i}, {r})" if r else f"_w{i}"
        return f"({v} & {(1 << wd) - 1})" if wd < lowbits else v
    lo = f"shiftrightunsigned(_w{i}, {r})"  # all 64-r bits, zero-filled
    hi = f"(_w{i + 1} & {(1 << (wd - lowbits)) - 1})"
    return f"({lo} | shiftleft({hi}, {lowbits}))"


@scoped
def hamming_neardup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 6,
    n_words: int = 1,
) -> DataFrame:
    """Banded hamming-distance self-join on a hash of 64 * n_words bits: a
    bigint column at n_words=1 (pHash, SimHash, fingerprints), an
    ``array<bigint>`` of n_words words otherwise (phash256).

    The bits are split into (max_hamming + 1) contiguous bands
    (`multiword_bands`; bands may span word boundaries); two hashes within
    `max_hamming` must agree exactly on at least one band (pigeonhole), so
    the band equi-join is a COMPLETE candidate generator. Each band value
    is packed with its band index into ONE int (bands <= 25 bits) or long
    (<= 57 bits) join key; wider bands (about one band per word, as at
    max_hamming=0 on one word) join on (band, value).

    The (id, words) projection is persisted: both join sides and the word
    re-attach read it, so the caller's upstream (an image decode, a SimHash
    UDF) runs once per row. It lives as long as the returned frame
    (cachescope). The band join is pinned to a SHUFFLED hash join: each side
    is bands x n rows by construction, and Spark's size estimate through
    Generate can undershoot far enough to broadcast one (measured: a
    1.1M-row driver-built HashedRelation).

    Where the bit_count refine runs follows from the hash width:

    - one word: the hash rides the band Exchange and the refine filters
      INSIDE the join stage, before the report-once groupBy. Narrow bands
      (~6 bits at max_hamming 10) make random collisions the dominant
      candidate volume, so filtering map-side cuts the groupBy exchange to
      the true near-dup pairs — measured 2.6x end to end at 20M hashes
      (BENCH/scaling_cluster.json `hamming`).
    - more words: only (id, key) cross the band Exchange; the candidates
      are de-duplicated, then the words are re-attached from the persisted
      input and the refine runs once per pair. Wide (23-bit at 256 bits)
      bands make the candidates a sliver of the banded table, and carrying
      4 words per exploded row put a 464 MB exchange in front of a
      few-hundred-thousand-row candidate set; ids and key only are ~3x
      fewer Exchange bytes.

    hamming is a function of the pair, so refining before or after the
    de-duplication gives the same rows. A NULL hash, or a NULL word, yields
    no pair.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    limit = min(16 * n_words, 32)
    if not 0 <= max_hamming <= limit:
        raise ValueError(f"max_hamming must be in [0, {limit}]")
    bands = multiword_bands(64 * n_words, max_hamming)
    h = F.col(hash_col)
    words = [h] if n_words == 1 else [h.getItem(i) for i in range(n_words)]
    wnames = [f"_w{i}" for i in range(n_words)]
    base = persist(
        df.select(F.col(id_col).alias("_id"), *[w.alias(n) for w, n in zip(words, wnames)])
    )
    carried = wnames if n_words == 1 else []
    # the band keys are ONE SQL expression: one call into the JVM. The
    # band index takes the low 6 bits (at most 33 bands)
    max_wd = max(wd for _, _, wd in bands)
    if max_wd <= 57:
        keys = ", ".join(f"(shiftleft({_mw_band_sql(s, wd)}, 6) | {b})" for b, s, wd in bands)
        keys = f"CAST(array({keys}) AS array<int>)" if max_wd <= 25 else f"array({keys})"
        blocked = base.select("_id", *carried, F.explode(F.expr(keys)).alias("_bk"))
        join_cols = ["_bk"]
    else:
        keys = ", ".join(f"struct({b} AS b, {_mw_band_sql(s, wd)} AS bv)" for b, s, wd in bands)
        blocked = base.select("_id", *carried, F.explode(F.expr(f"array({keys})")).alias("_b"))
        blocked = blocked.select("_id", *carried, "_b.b", "_b.bv")
        join_cols = ["b", "bv"]

    def side(frame: DataFrame, t: str) -> DataFrame:
        return frame.withColumnsRenamed(
            {"_id": f"id_{t}", **{w: f"_{t}{i}" for i, w in enumerate(wnames)}}
        )

    pairs = side(blocked, "a").join(side(blocked, "b").hint("shuffle_hash"), join_cols).filter(
        F.col("id_a") < F.col("id_b")
    )
    hamming = F.expr(" + ".join(f"bit_count(_a{i} ^ _b{i})" for i in range(n_words)))
    if n_words == 1:
        return (
            pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .groupBy("id_a", "id_b")
            .agg(F.min("hamming").alias("hamming"))
        )
    return (
        pairs.select("id_a", "id_b")
        .distinct()
        .join(side(base, "a"), "id_a")
        .join(side(base, "b"), "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def multiword_band_sql(table: str, id_col: str, word_cols: list[str],
                       max_hamming: int) -> str:
    """DuckDB SQL emitting the SAME banded candidate join + refine as
    hamming_neardup_pairs over `table` (one row per hash,
    words nonnegative) — the oracle half of the shared band layout.
    Returns a SELECT producing (id_a, id_b, hamming)."""
    n_words = len(word_cols)
    bands = multiword_bands(64 * n_words, max_hamming)

    def band_expr(s: int, wd: int) -> str:
        i, r = divmod(s, 64)
        lowbits = 64 - r
        w = word_cols[i]
        if wd <= lowbits:
            e = f"({w} >> {r})" if r else w
            return f"({e} & {(1 << wd) - 1})" if wd < lowbits else e
        hi = f"({word_cols[i + 1]} & {(1 << (wd - lowbits)) - 1})"
        return f"(({w} >> {r}) | ({hi} * {1 << lowbits}))"

    banded = " UNION ALL ".join(
        f"SELECT {id_col} AS _id, {b} AS b, {band_expr(s, wd)} AS bv FROM {table}"
        for b, s, wd in bands
    )
    ham = " + ".join(
        f"bit_count(xor(ha.{w}, hb.{w}))" for w in word_cols
    )
    return f"""
SELECT c.id_a, c.id_b, MIN({ham}) AS hamming
FROM (SELECT DISTINCT a._id AS id_a, b._id AS id_b
      FROM ({banded}) a JOIN ({banded}) b
        ON a.b = b.b AND a.bv = b.bv AND a._id < b._id) c
JOIN {table} ha ON ha.{id_col} = c.id_a
JOIN {table} hb ON hb.{id_col} = c.id_b
GROUP BY c.id_a, c.id_b
HAVING MIN({ham}) <= {max_hamming}
"""


# ----------------------------------------------------- exact n-gram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (word shingle) Jaccard similarity join.

    Semantics (both paths, bit-identical): gram set = DISTINCT word
    n-grams (docs with < n tokens contribute nothing); keep pairs with
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold, id_a < id_b, jaccard as the
    float64 division of the exact integer counts.

    Two measured facts drove the optimization-round redesign:
    - shingles are built with array ops (split -> slice -> array_join)
      instead of a posexplode + lead() window — same strings, one fewer
      Exchange + sort;
    - on small-vocabulary corpora EVERY gram is hot: at 50k docs the
      fixture has 27,865 distinct trigrams each shared by ~94 docs, so
      the inverted-index self-join emits 257M rows into a 120M-key
      hash aggregate (measured 26.8 s, ~700 ns/row of pure join+agg).
      The FAST PATH numbers the distinct grams in the JVM, collects the
      integer postings (doc id, gram number) — ints only — to the
      driver, broadcasts them, and counts pair intersections per
      doc-block with a vectorized numpy kernel (range-concat +
      sort-unique), filtering to the threshold INSIDE the task so the
      10^8-row pair stream never touches a shuffle. Exactness is unchanged: same gram sets,
      same integer intersection counts, same float64 jaccard — pytest
      pins fastpath == join-path on planted corpora, and the driver
      query keeps its full DuckDB oracle.

    Regime: the fast path needs integer ids, and one aggregate job bounds
    its postings in bytes before the gram explode runs — each gram row is
    an 8-byte id plus a gram, and a document's grams hold each of its
    bytes at most n times. The driver receives two int64 per gram row,
    never the gram text. Within ``repart.fits_broadcast`` the fast path
    runs; otherwise the join formulation, the scale path (unbounded
    corpora, non-integer ids)."""
    from gis_scripts_spark.operators.repart import fits_broadcast, spread

    toks = F.split(F.col("_t"), " ")
    grams_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    )  # no otherwise: < n tokens -> NULL -> explode drops the doc
    docs = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")), id_col)
    grams = docs.select("_id", F.explode(F.array_distinct(grams_arr)).alias("g"))

    id_type = df.schema[id_col].dataType
    if isinstance(id_type, (IntegerType, LongType)):
        text = F.col(text_col)
        nbytes = df.agg(
            F.sum(8 * F.size(F.split(text, " ")) + n * F.octet_length(text))
        ).first()[0] or 0
        if fits_broadcast(df.sparkSession, "ngram_jaccard_pairs.postings", nbytes):
            return _ngram_jaccard_fastpath(grams, id_type, threshold)

    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("_id").alias("id_a"), "g")
    b = grams.select(F.col("_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _ngram_jaccard_fastpath(grams: DataFrame, id_type, threshold: float) -> DataFrame:
    """Bounded-size exact all-pairs Jaccard: number the distinct grams in
    the JVM (any injective assignment works — the code only names the
    gram), collect the (gate-bounded) integer postings once, broadcast
    them in both orderings, and count pair intersections with a per-doc
    cache-resident kernel. See ngram_jaccard_pairs."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from gis_scripts_spark.operators.repart import slots

    spark = grams.sparkSession
    sc = spark.sparkContext
    # one row per distinct gram, numbered BEFORE its doc list explodes:
    # only the (gram number, doc id) pairs reach the driver, never the
    # gram text
    pdf = (
        grams.groupBy("g").agg(F.collect_list("_id").alias("_ids"))
        .select(F.monotonically_increasing_id().alias("_gi"), "_ids")
        .select("_gi", F.explode("_ids").alias("_id"))
        .toPandas()
    )
    doc_ids, doc_idx = np.unique(pdf["_id"].to_numpy(np.int64), return_inverse=True)
    gram_idx = np.unique(pdf["_gi"].to_numpy(np.int64), return_inverse=True)[1]
    n_docs = len(doc_ids)
    n_grams_d = int(gram_idx.max()) + 1 if len(gram_idx) else 0
    sizes = np.bincount(doc_idx, minlength=n_docs).astype(np.int64)
    # BOTH orderings of the postings, int32 (indices are gate-bounded):
    # per-doc gram lists drive the kernel loop, per-gram doc lists get
    # gathered per doc.
    order_d = np.argsort(doc_idx, kind="stable")
    grams_by_doc = gram_idx[order_d].astype(np.int32)
    iptr_d = np.searchsorted(doc_idx[order_d], np.arange(n_docs + 1)).astype(np.int64)
    order_g = np.argsort(gram_idx, kind="stable")
    docs_by_gram = doc_idx[order_g].astype(np.int32)
    iptr_g = np.searchsorted(gram_idx[order_g], np.arange(n_grams_d + 1)).astype(np.int64)
    bc = sc.broadcast((doc_ids, sizes, grams_by_doc, iptr_d, docs_by_gram, iptr_g))

    # one block per task slot: the kernel is one pass over the postings,
    # extra waves only add per-task fixed cost (broadcast load, worker
    # dispatch)
    n_blocks = slots(spark)
    thr = float(threshold)

    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("jaccard", DoubleType()),
        ]
    )

    def block_pairs(batches):
        # Per-DOC counting in cache-resident chunks: for each of my docs,
        # concatenate its grams' posting lists (|A| x avg-posting ints),
        # keep ids above mine (np.unique doc order == original id order,
        # so this IS the id_a < id_b filter), sort the few-thousand-element
        # chunk IN CACHE, and run-length it into per-neighbor intersection
        # counts. Two block-wide alternatives were built and measured under
        # 32-way parallelism on this host and REVERTED: a composite-key
        # bincount (zeroing ~300 MB count arrays saturated the memory bus)
        # and a single block-wide 4M-element key sort (8M-element gathers/
        # cumsums + the big sort are pure membus traffic: 9.1 s wall vs
        # 0.25 s for this per-doc form on identical inputs).
        doc_ids_b, sizes_b, gbd, iptr_d_b, dbg, iptr_g_b = bc.value
        nd = len(doc_ids_b)
        for pdf_b in batches:
            for blk in pdf_b["id"].to_numpy():
                out_a, out_b, out_j = [], [], []
                for d in range(int(blk), nd, n_blocks):
                    gs = gbd[iptr_d_b[d]:iptr_d_b[d + 1]]
                    if len(gs) == 0:
                        continue
                    starts = iptr_g_b[gs]
                    ends = iptr_g_b[gs + 1]
                    others = np.concatenate(
                        [dbg[s:e] for s, e in zip(starts.tolist(), ends.tolist())]
                    )
                    others = others[others > d]
                    if len(others) == 0:
                        continue
                    others.sort()
                    umask = np.empty(len(others), bool)
                    umask[0] = True
                    np.not_equal(others[1:], others[:-1], out=umask[1:])
                    idxs = np.flatnonzero(umask)
                    counts = np.diff(np.append(idxs, len(others)))
                    dj = others[idxs].astype(np.int64)
                    na = sizes_b[d]
                    nb_ = sizes_b[dj]
                    # integer prefilter (exact superset of the float
                    # threshold at thr=0.5: j >= 0.5 <=> 3*ni >= na+nb; +1
                    # slack guards the boundary), then the float64 division
                    # — the same IEEE op the SQL formulation performs.
                    if thr == 0.5:
                        pre = counts * 3 + 1 >= na + nb_
                        dj, counts, nb_ = dj[pre], counts[pre], nb_[pre]
                    if len(counts) == 0:
                        continue
                    jac = counts.astype(np.float64) / (na + nb_ - counts)
                    keep = jac >= thr
                    if keep.any():
                        out_a.append(np.full(int(keep.sum()), doc_ids_b[d]))
                        out_b.append(doc_ids_b[dj[keep]])
                        out_j.append(jac[keep])
                if out_a:
                    yield pd.DataFrame(
                        {
                            "id_a": np.concatenate(out_a),
                            "id_b": np.concatenate(out_b),
                            "jaccard": np.concatenate(out_j),
                        }
                    )

    # range(0, n, 1, n): one consecutive id per partition — no hash
    # collisions piling 2-3 blocks onto one task while others sit idle
    blocks = spark.range(0, n_blocks, 1, n_blocks)
    return blocks.mapInPandas(block_pairs, out_schema)

# -------------------------------------------------------------- clustering
def cluster_pairs(pairs_pdf: pd.DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> pd.DataFrame:
    """Union-find over a (small, collected) pair list -> (doc_id,
    cluster_id=min member). The driver-side finisher of a dedup run; at
    10^12 scale replace with iterative Spark label propagation (join-based
    min-propagation until fixpoint)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, r in pairs_pdf.iterrows():
        ra, rb = find(r[id_a]), find(r[id_b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(x, find(x)) for x in list(parent)]
    return pd.DataFrame(rows, columns=["doc_id", "cluster_id"])


MINHASH_SQL_PRIME = 67108859  # largest prime < 2^26: a*h < 2^52, exact in
# both Spark LongType and DuckDB BIGINT (no overflow divergence)


def minhash_sql_constants(n_perm: int = 64, seed: int = 101):
    """The (a_p, b_p) affine-permutation constants, deterministic — the
    SAME literals are embedded in the Spark plan and the DuckDB oracle."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_SQL_PRIME, n_perm)
    b = rng.integers(0, MINHASH_SQL_PRIME, n_perm)
    return [int(x) for x in a], [int(x) for x in b]


@scoped
def minhash_lsh_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded MinHash LSH with an SQL-portable hash family, bit-reproducible
    in ANSI SQL — which makes the driver row a full oracle.

    Definition (mirrored verbatim by the DuckDB oracle, SQL_MINHASH):
      shingle set = DISTINCT word `shingle_n`-grams (tokens themselves when
                    the doc is shorter)
      h(s)        = int(first 7 hex chars of md5(s)) mod P,  P = 67108859
      sig_p       = MIN over shingles of (a_p*h + b_p) mod P   (affine
                    permutations; constants from minhash_sql_constants —
                    ONE md5 per shingle, the permutations are integer math)
      band hash   = md5 of the band's sig values joined in perm order
      candidates  = pairs sharing any (band, bhash), id_a < id_b
      jaccard     = exact |A∩B|/|A∪B| on shingle sets; keep >= threshold

    Scale shape: each doc crosses the Python boundary ONCE and its whole
    per-doc pipeline (shingle/hash/signature mins) runs in one vectorized
    Arrow kernel — no shingle explode, no collect_list shuffle; the banded
    self-join carries (id, band, bhash) only; texts re-join once per
    surviving candidate for the exact string-set Jaccard verify."""
    if n_perm % bands != 0:
        raise ValueError("bands must divide n_perm")
    r = n_perm // bands
    prime = MINHASH_SQL_PRIME
    a_const, b_const = minhash_sql_constants(n_perm)
    from gis_scripts_spark.operators.repart import spread

    # spread BEFORE the shingle build (optimization-round stage capture at
    # 50k docs: a single-file scan plans the whole per-doc pipeline on 1-2
    # tasks). The keyed repartition is AQE-exempt; at real scale (many
    # input splits) spread is a no-op. A NULL text has no shingles (the
    # oracle's STRING_SPLIT(NULL)), so it gets no signature and no pair.
    docs = spread(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .filter(F.col("_t").isNotNull()),
        id_col,
    )
    # ONE Python stage for shingle + hash + signature (optimization round):
    # every JVM formulation measured worse at 50k docs — the exploded
    # string-shingle table re-shuffled through collect_list cost three
    # passes of the doc pipeline (6.1 s), persisting it serialized the
    # consumers on cache-block locks (12.8 s), and a per-element
    # `transform(md5)` array formulation pays the interpreted
    # higher-order-function path per shingle (stage capture: 2x the codegen
    # explode). Here the text crosses the Python boundary once per doc and
    # everything per-doc happens in one vectorized kernel. Values are
    # BIT-IDENTICAL to the SQL oracle: hashlib.md5 == SQL md5, the first 7
    # hex chars == digest[:4] >> 4, and a, b, h < P = 2^26 keep a*h + b <
    # 2^52 exact in int64 (numpy % == SQL % on non-negatives), so the sig
    # mins and the md5 band hashes built from them are unchanged.
    a_np = np.asarray(a_const, np.int64)[:, None]
    b_np = np.asarray(b_const, np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(t_col: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        out = []
        for t in t_col:
            toks = t.split(" ")
            if len(toks) >= shingle_n:
                sset = {" ".join(toks[i:i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)}
            else:
                sset = set(toks)
            hv = np.fromiter(
                (int.from_bytes(md5(s.encode()).digest()[:4], "big") >> 4
                 for s in sset),
                dtype=np.int64, count=len(sset),
            ) % prime
            out.append(((a_np * hv[None, :] + b_np) % prime).min(axis=1))
        return pd.Series(out)

    # persist the (id, sig) table: the band self-join's two sides are
    # separate subtrees (the planner broadcasts one), so without
    # materialization the signature UDF runs twice — and unlike the old
    # multi-million-row shingle cache this is one 64-long array per doc.
    with_sig = persist(docs.select("_id", sig_udf(F.col("_t")).alias("_sig")))
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.element_at("_sig", b * r + j + 1).cast("string") for j in range(r)],
                )
            ).alias("bhash"),
        )
        for b in range(bands)
    ])
    banded = with_sig.select(
        "_id", F.explode(band_structs).alias("_b")
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bhash").alias("bhash"))
    # self-join via alias so BOTH sides are the same canonical subtree: the
    # join's shuffle is written once and ReusedExchange serves the other
    # side — with distinct left/right projections the signature UDF ran
    # twice (stage capture: two identical ~27 s stages per run).
    ba, bb = banded.alias("_ba"), banded.alias("_bb")
    cand = (
        ba.join(
            bb,
            (F.col("_ba.band") == F.col("_bb.band"))
            & (F.col("_ba.bhash") == F.col("_bb.bhash"))
            & (F.col("_ba._id") < F.col("_bb._id")),
        )
        .select(F.col("_ba._id").alias("id_a"), F.col("_bb._id").alias("id_b"))
        .distinct()
    )
    # exact Jaccard per surviving pair: texts re-joined once per candidate
    # (candidates are the band collisions — a vanishing fraction of docs),
    # shingle STRING sets intersected in one vectorized kernel. Set math on
    # the strings themselves, not hashes, so the value matches the oracle's
    # string-distinct intersection exactly; IEEE double division is
    # bit-identical to SQL's.
    ta = docs.select(F.col("_id").alias("id_a"), F.col("_t").alias("_ta"))
    tb = docs.select(F.col("_id").alias("id_b"), F.col("_t").alias("_tb"))

    @F.pandas_udf("double")
    def jac_udf(a_col: pd.Series, b_col: pd.Series) -> pd.Series:
        def sset(t: str) -> set:
            toks = t.split(" ")
            if len(toks) >= shingle_n:
                return {" ".join(toks[i:i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)}
            return set(toks)

        out = np.empty(len(a_col))
        for i, (x, y) in enumerate(zip(a_col, b_col)):
            sa, sb = sset(x), sset(y)
            inter = len(sa & sb)
            out[i] = inter / (len(sa) + len(sb) - inter)
        return pd.Series(out)

    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", jac_udf(F.col("_ta"), F.col("_tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def cluster_pairs_distributed(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    check_every: int = 1,
    telemetry: dict | None = None,
) -> DataFrame:
    """Distributed connected components over near-dup pairs by iterative
    min-label propagation — the 10^12-scale replacement for the
    driver-side union-find finisher (cluster_pairs): each round every
    node takes min(own label, neighbors' labels); fixpoint after
    O(component diameter) rounds (near-dup clusters are shallow). One
    equi-join + one groupBy per round, labels only in the shuffles.

    Returns (doc_id, cluster_id = min member id of the component).

    Lineage discipline: every round's labels are `localCheckpoint`ed
    (eager), NOT merely persisted. A persist keeps the full logical plan
    nested under each successive round — after ~6 rounds the physical
    plan was 8,385 lines / 474 Exchange nodes, and driver-side
    analysis/planning cost grows superlinearly with component depth; a
    checkpoint replaces the plan with a LogicalRDD leaf, so the per-round
    plan is constant-size (edges-leaf JOIN labels-leaf) regardless of
    iteration count. `edges` is checkpointed once up front for the same
    reason (its plan otherwise carries the whole upstream LSH pipeline
    into every round's join). Checkpointed blocks are freed by the
    ContextCleaner when the RDD is GC'd — no manual cache bookkeeping.

    `check_every`: run the (driver-blocking) convergence agg only every
    N rounds — at deep component diameters the per-round driver round-trip
    serializes; checking every 2 halves those trips at the cost of at most
    one extra propagation round past the fixpoint (labels are monotone, so
    extra rounds are no-ops, never wrong). `telemetry` (optional dict)
    records per-round wall seconds — the r4 directive-#7 flatness hook."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).localCheckpoint(eager=True)
    # convergence check: labels are elementwise NON-INCREASING, so for
    # integer ids the EXACT decimal sum is unchanged iff no label changed —
    # one agg on the checkpointed frame per round instead of a join + count.
    numeric = isinstance(labels.schema["label"].dataType,
                         (ByteType, ShortType, IntegerType, LongType))

    def _label_sum(df):
        v = df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        return v

    import time as _time

    prev_sum = _label_sum(labels) if numeric else None
    if telemetry is not None:
        telemetry["rounds"] = []
    for round_i in range(max_iters):
        _t0 = _time.perf_counter()
        neigh = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nl"))
            .select(F.col("src").alias("id"), "nl")
        )
        prop = labels.join(neigh, "id", "left").select(
            "id", F.least("label", F.coalesce("nl", "label")).alias("label")
        )
        # POINTER JUMPING (optimization round): after the neighbor-min
        # propagation, each node additionally takes its label's label —
        # L(v) <- min(L(v), L(L(v))) — which doubles the hop distance
        # covered per round, turning O(component diameter) rounds into
        # O(log diameter). One extra labels-by-label equi-join per round
        # (labels only, tiny rows); the fixpoint — min member id per
        # component — is unchanged, labels stay monotone non-increasing,
        # so the decimal-sum convergence check is untouched.
        lmap = prop.select(F.col("id").alias("_lk"), F.col("label").alias("_ll"))
        jumped = prop.join(lmap, prop["label"] == lmap["_lk"], "left").select(
            prop["id"], F.least(prop["label"], F.coalesce("_ll", prop["label"])).alias("label")
        )
        # localCheckpoint (not persist): truncates lineage to a LogicalRDD
        # leaf so the next round's plan does NOT nest this round's — the
        # eager materialization doubles as the convergence-agg input scan.
        new_labels = jumped.localCheckpoint(eager=True)
        # convergence check on every check_every-th round (or the last):
        # labels are monotone non-increasing, so an unchanged sum across a
        # SPAN of rounds proves no label moved anywhere in the span
        check = ((round_i + 1) % max(check_every, 1) == 0) or round_i == max_iters - 1
        changed = 1
        if check:
            if numeric:
                cur_sum = _label_sum(new_labels)
                changed = int(cur_sum != prev_sum)
                prev_sum = cur_sum
            else:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "id")
                    .filter(F.col("n.label") != F.col("o.label"))
                    .count()
                )
        labels = new_labels
        if telemetry is not None:
            telemetry["rounds"].append(
                {"seconds": round(_time.perf_counter() - _t0, 3), "checked": bool(check)}
            )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"cluster_pairs_distributed did not converge in {max_iters} "
            "rounds (component diameter exceeds max_iters) — raise "
            "max_iters; returning partial labels would be silently wrong")
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
