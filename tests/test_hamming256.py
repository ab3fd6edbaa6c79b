"""256-bit multiword banded hamming join + phash256 — independent oracles:
numpy all-pairs popcount, hand-placed word-boundary bits, pigeonhole worst
case, and the Spark-vs-DuckDB band-extraction cross-check (two independent
renderings of the shared band layout)."""

import contextlib
import io
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

from gis_scripts_spark.operators import dedup
from gis_scripts_spark.operators import multimodal as mm
from gis_scripts_spark.raster import codec
from gis_scripts_spark.sources import synth


def _np_words(rng, n):
    """n deterministic 4-word hashes as int64 (full 64-bit entropy,
    negatives included — the operator must handle signed words)."""
    return rng.integers(-(1 << 63), 1 << 63, size=(n, 4), dtype=np.int64)


def _np_hamming(a, b):
    x = (a ^ b).view(np.uint64)
    return sum(int(bin(int(w)).count("1")) for w in x)


def _pairs_df(spark, rows):
    pdf = pd.DataFrame(
        [(i, list(map(int, w))) for i, w in rows], columns=["hid", "h"]
    )
    return spark.createDataFrame(pdf)


def test_multiword_bands_layout():
    for n_bits, max_h in ((256, 10), (256, 3), (128, 5), (256, 31)):
        bands = dedup.multiword_bands(n_bits, max_h)
        assert len(bands) == max_h + 1
        covered = 0
        for b, s, w in bands:
            assert s == covered and 1 <= w <= 64
            covered += w
        assert covered == n_bits
    with pytest.raises(ValueError):
        dedup.multiword_bands(256, 2)  # 3 bands -> width 86 > 64


def test_multiword_vs_numpy_allpairs(spark):
    """Exact pair-set + hamming equality vs a numpy brute-force oracle on
    signed random words with planted near-dups (flips crossing word
    boundaries included)."""
    rng = np.random.default_rng(42)
    n, max_h = 120, 10
    words = _np_words(rng, n)
    for i in range(0, n, 6):  # plant near-dups: i+1 = i with <= max_h flips
        if i + 1 < n:
            words[i + 1] = words[i]
            for p in rng.choice(256, size=rng.integers(1, max_h + 1), replace=False):
                words[i + 1][p // 64] ^= np.int64(1) << np.int64(p % 64)
    df = _pairs_df(spark, [(i, words[i]) for i in range(n)])
    got = dedup.hamming_neardup_pairs(
        df, "h", "hid", max_hamming=max_h, n_words=4
    ).toPandas()
    want = set()
    for a in range(n):
        for b in range(a + 1, n):
            d = _np_hamming(words[a], words[b])
            if d <= max_h:
                want.add((a, b, d))
    got_set = set(map(tuple, got[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert got_set == want and len(want) >= n // 6 - 1


def test_multiword_word_boundary_bits(spark):
    """A pair differing ONLY at each word-boundary-adjacent bit is found
    with hamming 1 — pins the two-shift spanning-band extraction."""
    base = np.array([7, -3, 1 << 40, -(1 << 62)], dtype=np.int64)
    rows = [(0, base)]
    hot = [62, 63, 64, 65, 127, 128, 191, 192, 255]
    for t, p in enumerate(hot):
        w = base.copy()
        w[p // 64] ^= np.int64(1) << np.int64(p % 64)
        rows.append((t + 1, w))
    df = _pairs_df(spark, rows)
    # max_hamming=4 -> 5 bands of 52/51 bits: every word boundary falls
    # INSIDE a band, so the two-shift spanning extraction is on the path
    out = dedup.hamming_neardup_pairs(
        df, "h", "hid", max_hamming=4, n_words=4
    ).toPandas()
    found = {(a, b): h for a, b, h in out[["id_a", "id_b", "hamming"]].itertuples(index=False)}
    for t in range(len(hot)):
        assert found[(0, t + 1)] == 1


def test_multiword_pigeonhole_worst_case(spark):
    """Exactly max_hamming flips, one per band (leaving exactly one band
    clean) -> found; max_hamming+1 flips, one per band -> absent."""
    max_h = 10
    bands = dedup.multiword_bands(256, max_h)
    base = np.array([0x5A5A_1234_ABCD_0F0F, -42, 99, -(1 << 50)], dtype=np.int64)
    w1 = base.copy()
    for _, s, _wd in bands[:max_h]:
        w1[s // 64] ^= np.int64(1) << np.int64(s % 64)
    df = _pairs_df(spark, [(0, base), (1, w1)])
    out = dedup.hamming_neardup_pairs(df, "h", "hid", max_hamming=max_h, n_words=4)
    got = out.toPandas()
    assert len(got) == 1 and int(got["hamming"][0]) == max_h
    w2 = w1.copy()
    s_last = bands[max_h][1]
    w2[s_last // 64] ^= np.int64(1) << np.int64(s_last % 64)
    df2 = _pairs_df(spark, [(0, base), (1, w2)])
    got2 = dedup.hamming_neardup_pairs(
        df2, "h", "hid", max_hamming=max_h, n_words=4
    ).toPandas()
    assert len(got2) == 0


def test_multiword_band_sql_matches_spark(spark):
    """The DuckDB rendering of the band join (multiword_band_sql) agrees
    with the Spark operator on NONNEGATIVE random words — two independent
    implementations of the shared layout."""
    rng = np.random.default_rng(7)
    n, max_h = 80, 10
    words = rng.integers(0, 1 << 63, size=(n, 4), dtype=np.int64)
    for i in range(0, n, 5):
        if i + 1 < n:
            words[i + 1] = words[i]
            for p in rng.choice(255, size=3, replace=False):
                if p % 64 != 63:  # keep words nonnegative for DuckDB >>
                    words[i + 1][p // 64] ^= np.int64(1) << np.int64(p % 64)
    df = _pairs_df(spark, [(i, words[i]) for i in range(n)])
    got = (
        dedup.hamming_neardup_pairs(df, "h", "hid", max_hamming=max_h, n_words=4)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register(
        "hashes_raw",
        pd.DataFrame(
            [(i, *map(int, words[i])) for i in range(n)],
            columns=["hid", "w0", "w1", "w2", "w3"],
        ),
    )
    con.sql("CREATE VIEW hashes AS SELECT * FROM hashes_raw")
    sql = dedup.multiword_band_sql("hashes", "hid", ["w0", "w1", "w2", "w3"], max_h)
    odf = con.sql(sql).df().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert len(got) == len(odf) > 0
    assert got["id_a"].tolist() == odf["id_a"].tolist()
    assert got["id_b"].tolist() == odf["id_b"].tolist()
    assert got["hamming"].tolist() == [int(x) for x in odf["hamming"]]


def test_phash256_properties():
    """4 int64 words; deterministic; near-identical images land close,
    unrelated scenes far; tolerant of 3-band + small images."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(96, 128)).astype(np.float64)
    h1 = codec.phash256(img)
    assert len(h1) == 4 and all(isinstance(w, int) for w in h1)
    assert h1 == codec.phash256(img.copy())
    # gain/offset shift (the re-post case) stays near
    h2 = codec.phash256(np.clip(img * 1.06 + 9.0, 0, 255))
    d_near = _np_hamming(np.array(h1, np.int64), np.array(h2, np.int64))
    assert d_near <= 16
    # unrelated scene is far
    other = rng.integers(0, 256, size=(96, 128)).astype(np.float64)
    d_far = _np_hamming(np.array(h1, np.int64), np.array(codec.phash256(other), np.int64))
    assert d_far >= 64
    # 3-band + tiny images work (index-duplication resize path)
    assert len(codec.phash256(rng.integers(0, 255, size=(16, 16, 3)).astype(float))) == 4


def test_phash256_neardup_pairs_bruteforce(spark):
    """End-to-end: decode + phash256 + multiword join == numpy all-pairs
    on the recomputed hashes, and planted re-encoded dups are caught."""
    # threshold 24: measured planted distances on this fixture are <= 20
    # (jpeg re-encode + gain shift), unrelated scenes >= ~104 — 256 bits
    # needs a proportionally higher threshold than the 64-bit hash's 10
    df = synth.images_df(spark, 60, parts=4, dup_every=5, fmts=("png", "qnt", "jpeg"))
    got = mm.phash256_neardup_pairs(df, max_hamming=24).toPandas()
    feats = mm.image_phash256(df).toPandas()
    ids = feats["image_id"].tolist()
    hs = [np.array(h, dtype=np.int64) for h in feats["phash256"]]
    want = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d = _np_hamming(hs[a], hs[b])
            if d <= 24:
                pa, pb = sorted((ids[a], ids[b]))
                want.add((pa, pb, d))
    got_set = set(map(tuple, got[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert got_set == want
    planted = {(f"img_{i-1:08d}", f"img_{i:08d}") for i in range(1, 60) if i % 5 == 1}
    assert planted <= {(a, b) for a, b, _ in got_set}


def test_phash256_pairs_bytes_never_in_exchange(spark):
    """Plan gate: only ids + 4 hash words shuffle, never the image bytes."""
    df = synth.images_df(spark, 20, parts=2, dup_every=5)
    out = mm.phash256_neardup_pairs(df, max_hamming=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    blocks = re.findall(r"\(\d+\) (?:Broadcast)?Exchange[^\n]*\nInput[^\n]*", plan)
    assert blocks, "expected at least one Exchange in the candidate join plan"
    for block in blocks:
        assert "bytes" not in block, block


def _hash_rows(spark, rows, n_words):
    return spark.createDataFrame(
        rows, "hid long, h long" if n_words == 1 else "hid long, h array<long>"
    )


@pytest.mark.parametrize("n_words,max_h", [(1, 0), (1, 1), (1, 6), (4, 3), (4, 10)])
def test_hamming_null_hash_yields_no_pair(spark, n_words, max_h):
    """A NULL hash, a NULL array and an array with one NULL word join no
    band and yield no pair, on the packed int, packed long and (band,
    value) key paths alike; the other rows still pair."""
    w = [-5, 1 << 40, 7, -(1 << 62)][:n_words]
    same = w[0] if n_words == 1 else w
    rows = [(0, same), (1, same), (2, None), (3, None)]
    if n_words > 1:
        holed = [w[0], None, *w[2:]]
        rows += [(4, holed), (5, holed)]
    got = dedup.hamming_neardup_pairs(
        _hash_rows(spark, rows, n_words), "h", "hid", max_hamming=max_h, n_words=n_words
    ).collect()
    assert sorted(map(tuple, got)) == [(0, 1, 0)]


@pytest.mark.parametrize("n_words", [1, 4])
def test_hamming_duplicate_heavy_equals_all_pairs(spark, n_words):
    """Every row the same hash puts all rows under one key per band: the
    pinned shuffled-hash build still returns the numpy all-pairs set,
    n(n-1)/2 pairs at hamming 0."""
    n = 200
    words = np.tile(_np_words(np.random.default_rng(11), 1), (n, 1))[:, :n_words]
    rows = [(i, int(words[i][0]) if n_words == 1 else list(map(int, words[i])))
            for i in range(n)]
    out = dedup.hamming_neardup_pairs(
        _hash_rows(spark, rows, n_words), "h", "hid", max_hamming=10, n_words=n_words
    )
    got = set(map(tuple, out.collect()))
    want = {(a, b, _np_hamming(words[a], words[b]))
            for a in range(n) for b in range(a + 1, n)
            if _np_hamming(words[a], words[b]) <= 10}
    assert got == want and len(want) == n * (n - 1) // 2
    assert "ShuffledHashJoin" in out._jdf.queryExecution().executedPlan().toString()
