"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Built-in Column expressions wherever possible (JVM-side, codegen); Python
appears only in the rolling-hash fingerprint and lang-ID scoring (Arrow
batches).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from gis_scripts_spark.operators.repart import spread

# tiny public stopword lists (heuristic lang-ID, n-gram style)
_LANG_MARKERS = {
    "en": {"the", "and", "of", "to", "a", "in", "is", "that", "it", "for"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"},
    "fr": {"le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"},
    "es": {"el", "la", "los", "y", "de", "un", "una", "es", "para", "que"},
    "it": {"il", "la", "gli", "e", "di", "un", "una", "per", "che", "non"},
}

_EN_STOPWORDS = _LANG_MARKERS["en"]


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_bpe_ish (regex word/punct pieces — a cheap
    BPE-proxy count), n_chars, avg_token_len — all Column math."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks).cast("int")
    bpe_ish = F.size(
        F.split(F.regexp_replace(F.col(text_col), r"([^\w\s]|\d)", r" $1 "), r"\s+")
    ).cast("int")
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_ish", bpe_ish)
        .withColumn("n_chars", F.length(text_col).cast("long"))
        .withColumn(
            "avg_token_len",
            (F.col("n_chars") - (n_tokens - F.lit(1))).cast("double") / n_tokens,
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score (length, punctuation
    ratio, stopword ratio, mean word length) — the classic cheap pre-filters
    of web-scale corpus cleaning, as pure Column math."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks).cast("double")
    punct = F.length(F.regexp_replace(F.col(text_col), r"[\w\s]", "")).cast("double")
    n_chars = F.length(text_col).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in sorted(_EN_STOPWORDS)])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("double")
    df = (
        df.withColumn("punct_ratio", punct / F.greatest(n_chars, F.lit(1.0)))
        .withColumn("stopword_hits", n_stop)
        .withColumn("mean_word_len", (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1.0)))
    )
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("punct_ratio") < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.col("mean_word_len").between(2.0, 12.0), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_hits") >= 1, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return df.withColumn("quality_score", score)


def lang_id_udf():
    """Marker-stopword scoring -> best language (ties: 'und' unknown)."""
    markers = {k: frozenset(v) for k, v in _LANG_MARKERS.items()}

    @F.pandas_udf(StringType())
    def lang_id(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            words = set(t.lower().split(" "))
            best, best_n = "und", 0
            for lang in sorted(markers):
                n = len(words & markers[lang])
                if n > best_n:
                    best, best_n = lang, n
            out.append(best)
        return pd.Series(out)

    return lang_id


def fingerprint_udf(window: int = 8):
    """Rolling polynomial (Rabin-Karp) fingerprint of the normalized text:
    min of window hashes -> stable 63-bit doc fingerprint (winnowing-lite).
    Deterministic, partition-independent."""
    B = np.int64(1000003)
    # prime below 2^53: byte_value(<=255) * power(<MOD) < 2^61 and the
    # window-sum of 8 terms < 2^56 — every intermediate genuinely fits int64
    MOD = np.int64(9007199254740881)

    @F.pandas_udf(LongType())
    def fp(text: pd.Series) -> pd.Series:
        out = np.empty(len(text), np.int64)
        for i, t in enumerate(text):
            norm = " ".join(t.lower().split())
            data = np.frombuffer(norm.encode()[:4096], dtype=np.uint8).astype(np.int64)
            if len(data) < window:
                out[i] = int.from_bytes(
                    hashlib.blake2b(norm.encode(), digest_size=8).digest(), "big"
                ) >> 1
                continue
            # rolling hash over all windows, vectorized via cumulative trick
            powers = np.array([pow(int(B), e, int(MOD)) for e in range(window)], np.int64)
            n_win = len(data) - window + 1
            idx = np.arange(n_win)[:, None] + np.arange(window)[None, :]
            hashes = (data[idx] * powers[None, ::-1]) % MOD
            out[i] = int(hashes.sum(axis=1).min() % MOD)
        return pd.Series(out)

    return fp


def md5_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    max_chars: int = 4096,
) -> DataFrame:
    """Winnowing-style document fingerprint with an SQL-portable hash:
    normalize (lower + collapse whitespace, first `max_chars` chars),
    md5 every `window`-char shingle, fingerprint = MIN over the NUMERIC
    value of the first 15 hex chars (60 bits — exact in both a Spark long
    and a DuckDB BIGINT; same min ordering as the fixed-width hex prefix).
    Numeric min matters for the plan: `min(string)` forces SortAggregate
    (every exploded shingle row sorted per partition before the partial
    agg), while `min(long)` gets hash aggregation with map-side partials.
    Pure Column math end-to-end (JVM codegen: explode + substr + md5 +
    conv + min); shorter-than-window docs hash whole.

    Returns (id_col, fingerprint: long). The shingle explode is linear in
    text length (the standard shingle expansion), and the min-agg combines
    map-side, so shuffle volume is one row per document."""
    w = window
    # per-row-EXPENSIVE op (up to ~4k shingle md5s per doc): a small scan
    # (one parquet file = one task) would serialize all of it on one core.
    # One cheap row-shuffle of the raw docs unlocks parallelism at the 2x
    # default width — per-doc cost is SKEWED (doc length spans 400x), and
    # at a 1x-slot width the longest-doc stragglers pinned the stage
    # (measured 0.8 -> 2.5 s at 5k docs). No-op at real table sizes.
    df = spread(df, parallelism=df.sparkSession.sparkContext.defaultParallelism)
    # explicit whitespace class: Java \s and RE2 \s disagree on \x0B, and
    # the DuckDB oracle must normalize identically
    norm = F.substring(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[ \\t\\n\\f\\r\\x0B]+", " ")),
        1, max_chars,
    )
    base = df.select(F.col(id_col), norm.alias("_norm"), F.length(norm).alias("_n"))
    grams = base.select(
        id_col,
        F.explode(
            F.when(F.col("_n") >= w, F.sequence(F.lit(1), F.col("_n") - w + 1))
            .otherwise(F.array(F.lit(1)))
        ).alias("_i"),
        "_norm", "_n",
    ).select(
        id_col,
        F.when(F.col("_n") >= w, F.col("_norm").substr(F.col("_i"), F.lit(w)))
        .otherwise(F.col("_norm")).alias("_g"),
    )
    return grams.groupBy(id_col).agg(
        F.min(F.conv(F.substring(F.md5("_g"), 1, 15), 16, 10).cast("long")).alias(
            "fingerprint"
        )
    )
