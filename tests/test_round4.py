"""Round-4 additions: TIFF LZW / PackBits / float predictor-3 codec paths
(VERDICT r3 'What's missing #1' + directive #3) and the exact
Mann-Whitney U distribution for small untied samples (directive #7).

Reference parity: the reference's entire raster I/O surface is
GDAL-written GeoTIFF (``global_match.py:212-224``,
``merge_tif_files_rastario.py:48``), which is very commonly
LZW-compressed with PREDICTOR=2 (ints) or PREDICTOR=3 (floats).
"""

import glob
import os

import numpy as np
import pytest

from gis_scripts_spark.raster import geotiff


# ------------------------------------------------------------------ LZW
def _pack_codes(codes, start_bits=9):
    """Independent MSB-first bit packer used to build decoder test vectors
    WITHOUT going through lzw_encode (early-change width bumps applied by
    the caller via explicit (code, nbits) pairs)."""
    acc = 0
    nbits_total = 0
    for code, nbits in codes:
        acc = (acc << nbits) | code
        nbits_total += nbits
    pad = (-nbits_total) % 8
    acc <<= pad
    return acc.to_bytes((nbits_total + pad) // 8, "big")


def test_lzw_decode_hand_built_vector():
    """Decode a code stream packed by hand (TIFF 6.0 §13 algorithm traced
    manually for b'ababa'): CLEAR, 'a', 'b', <258='ab'>, 'a', EOI."""
    stream = _pack_codes([(256, 9), (97, 9), (98, 9), (258, 9), (97, 9), (257, 9)])
    assert geotiff.lzw_decode(stream) == b"ababa"


def test_lzw_decode_kwkwk_case():
    """b'aaaa' exercises the KwKwK rule: the decoder receives code 258
    before the entry exists and must synthesize prev + prev[0]."""
    stream = _pack_codes([(256, 9), (97, 9), (258, 9), (97, 9), (257, 9)])
    assert geotiff.lzw_decode(stream) == b"aaaa"


def test_lzw_roundtrip_random_and_repetitive():
    rng = np.random.default_rng(42)
    cases = [
        rng.integers(0, 256, 9000).astype(np.uint8).tobytes(),  # > 511 and > 1023
        # codes AND the 4094-entry table-full reset path
        bytes(rng.integers(0, 4, 20000).astype(np.uint8)),  # compressible
        b"",
        b"\x00",
        bytes(range(256)) * 40,
    ]
    for data in cases:
        assert geotiff.lzw_decode(geotiff.lzw_encode(data)) == data


# ------------------------------------------------------------- PackBits
def test_packbits_spec_example():
    """The worked example from TIFF 6.0 §9 (Apple PackBits)."""
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    want = bytes.fromhex("AAAAAA80002AAAAAAAAA80002A22") + b"\xaa" * 10
    assert geotiff.packbits_decode(packed) == want
    # own encoder roundtrips the same payload
    assert geotiff.packbits_decode(geotiff.packbits_encode(want)) == want


def test_packbits_roundtrip():
    rng = np.random.default_rng(3)
    for data in [rng.integers(0, 256, 5000).astype(np.uint8).tobytes(),
                 b"\x07" * 1000, b"", b"ab" * 300]:
        assert geotiff.packbits_decode(geotiff.packbits_encode(data)) == data


# ------------------------------------------- TIFF container integration
def test_lzw_encode_eoi_width_after_last_code():
    """The decoder adds a table entry after the final code and may widen
    before it reads EOI; the encoder counts that entry too (libtiff's
    LZWPostEncode). These two inputs end right at a width bump."""
    for data in (bytes(range(253)),
                 bytes((i * 7919 + (i * i) % 251) % 256 for i in range(1796))):
        assert geotiff.lzw_decode(geotiff.lzw_encode(data)) == data


@pytest.mark.parametrize("compress", ["lzw", "packbits", "deflate", "none"])
@pytest.mark.parametrize("dtype", [np.uint8, np.int16, np.float32])
def test_tiff_roundtrip_all_compressions(compress, dtype):
    rng = np.random.default_rng(7)
    if np.issubdtype(dtype, np.integer):
        img = rng.integers(np.iinfo(dtype).min, np.iinfo(dtype).max, (70, 33, 3)).astype(dtype)
    else:
        img = rng.normal(0, 100, (70, 33, 3)).astype(dtype)
    buf = geotiff.tiff_encode(img, compress=compress, pixel_scale=(0.1, 0.1, 0),
                              tiepoint=(0, 0, 0, 10.0, 20.0, 0), nodata=-9999.0)
    out, meta = geotiff.tiff_decode(buf)
    assert out.dtype == img.dtype
    assert (out == img).all()
    assert meta["nodata"] == -9999.0


@pytest.mark.parametrize("compress", ["lzw", "deflate"])
def test_tiff_predictor2_lzw_roundtrip(compress):
    """Horizontal differencing + LZW — the stock GDAL integer layout."""
    rng = np.random.default_rng(11)
    img = rng.integers(-30000, 30000, (130, 41, 2)).astype(np.int16)
    buf = geotiff.tiff_encode(img, compress=compress, predictor=2)
    out, _ = geotiff.tiff_decode(buf)
    assert out.dtype == img.dtype and (out == img).all()


@pytest.mark.parametrize("compress", ["lzw", "deflate"])
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_tiff_predictor3_float_roundtrip(compress, dtype):
    """Floating-point byte-shuffle differencing (TIFF TechNote 3) — the
    layout GDAL emits for float rasters with PREDICTOR=3. Bit-exact
    roundtrip including NaN/inf and a nodata sentinel plane."""
    rng = np.random.default_rng(13)
    img = rng.normal(0, 1e6, (100, 37, 2)).astype(dtype)
    img[0, 0, 0] = np.nan
    img[1, 1, 1] = np.inf
    img[2, :, 0] = -9999.0
    buf = geotiff.tiff_encode(img, compress=compress, predictor=3)
    out, _ = geotiff.tiff_decode(buf)
    assert out.dtype == img.dtype
    assert np.array_equal(out, img, equal_nan=True)


def test_tiff_predictor3_rejects_ints():
    img = np.zeros((4, 4), np.int16)
    with pytest.raises(ValueError, match="floating-point"):
        geotiff.tiff_encode(img, predictor=3)


def test_ingest_geotiffs_lzw_end_to_end(spark, tmp_path):
    """VERDICT r3 done-criterion: pointing ingest_geotiffs at
    LZW-compressed files (what stock GDAL writes) works end-to-end."""
    from gis_scripts_spark.raster import codec
    from gis_scripts_spark.sources import ingest

    rng = np.random.default_rng(17)
    d = tmp_path / "tifs"
    d.mkdir()
    imgs = {}
    for i, (pred, dt) in enumerate([(2, np.int16), (1, np.uint8), (3, np.float32)]):
        img = (rng.integers(0, 200, (40, 30, 1)).astype(dt)
               if dt != np.float32 else rng.normal(0, 50, (40, 30, 1)).astype(dt))
        buf = geotiff.tiff_encode(
            img, compress="lzw", predictor=pred,
            pixel_scale=(0.01, 0.01, 0), tiepoint=(0, 0, 0, -50.0 + i, 10.0, 0),
            nodata=-9999.0,
        )
        (d / f"scene_{i}.tif").write_bytes(buf)
        imgs[f"scene_{i}"] = img
    rows = ingest.ingest_geotiffs(spark, str(d) + "/*.tif").collect()
    assert len(rows) == 3
    for r in rows:
        stem = os.path.splitext(os.path.basename(r["image_id"]))[0]
        dec = codec.decode(bytes(r["bytes"]), r["fmt"])
        assert np.array_equal(dec, imgs[stem]), stem


# --------------------------------------------- exact Mann-Whitney (R parity)
def _enum_exact_p(x, y, alternative):
    """Independent oracle: EXHAUSTIVE enumeration of all C(m+n, m) rank
    arrangements (the definition of the exact null distribution)."""
    from itertools import combinations

    m, n = len(x), len(y)
    both = sorted(list(x) + list(y))
    us = []
    for pos in combinations(range(m + n), m):
        xs = [both[i] for i in pos]
        ys = [both[i] for i in range(m + n) if i not in pos]
        u = sum(1.0 for a in xs for b in ys if a > b)
        us.append(u)
    import numpy as _np

    us = _np.array(us)
    u1 = sum(1.0 for a in x for b in y if a > b)
    if alternative == "less":
        return (us <= u1).mean()
    if alternative == "greater":
        return (us >= u1).mean()
    p = 2 * ((us >= u1).mean() if u1 > m * n / 2 else (us <= u1).mean())
    return min(p, 1.0)


def test_mann_whitney_exact_matches_enumeration():
    from gis_scripts_spark import stats as agg_stats

    rng = np.random.default_rng(23)
    for m, n in [(3, 3), (4, 5), (6, 4), (7, 7)]:
        # untied: distinct uniform draws
        vals = rng.permutation(100)[: m + n].astype(float)
        x, y = vals[:m], vals[m:]
        for alt in ["less", "greater", "two-sided"]:
            got = agg_stats.mann_whitney_u(x, y, alt)["p_value"]
            want = _enum_exact_p(list(x), list(y), alt)
            assert abs(got - want) < 1e-12, (m, n, alt, got, want)


def test_mann_whitney_exact_known_r_values():
    """Hand-checked wilcox.test values: fully-separated samples of 3+3,
    alternative='less' -> p = 1/C(6,3) = 0.05 (R prints 0.05)."""
    from gis_scripts_spark import stats as agg_stats

    res = agg_stats.mann_whitney_u(
        np.array([1.0, 2.0, 3.0]), np.array([4.0, 5.0, 6.0]), "less"
    )
    assert abs(res["p_value"] - 0.05) < 1e-12
    # two-sided fully separated: p = 2/20 = 0.1
    res2 = agg_stats.mann_whitney_u(
        np.array([1.0, 2.0, 3.0]), np.array([4.0, 5.0, 6.0]), "two-sided"
    )
    assert abs(res2["p_value"] - 0.1) < 1e-12
    # ties present -> falls back to the tie-corrected normal approximation
    res3 = agg_stats.mann_whitney_u(
        np.array([1.0, 1.0, 2.0]), np.array([2.0, 3.0, 4.0]), "less"
    )
    assert 0.0 < res3["p_value"] < 1.0


# ----------------------------------------------------------------- BigTIFF
@pytest.mark.parametrize("compress", ["lzw", "deflate", "none"])
def test_bigtiff_roundtrip(compress):
    """BigTIFF (version 43: 8-byte offsets, 20-byte IFD entries, LONG8
    strip offsets — what GDAL writes for >4 GB rasters) roundtrips
    bit-exactly, with geo tags, through the same decoder as classic."""
    rng = np.random.default_rng(29)
    img = rng.integers(-2000, 2000, (90, 41, 2)).astype(np.int16)
    buf = geotiff.tiff_encode(img, compress=compress, bigtiff=True,
                              pixel_scale=(0.5, 0.5, 0),
                              tiepoint=(0, 0, 0, -120.0, 45.0, 0),
                              nodata=-9999.0)
    # header invariants per the BigTIFF spec
    import struct

    assert buf[:2] == b"II"
    assert struct.unpack_from("<H", buf, 2)[0] == 43
    assert struct.unpack_from("<HH", buf, 4) == (8, 0)
    out, meta = geotiff.tiff_decode(buf)
    assert out.dtype == img.dtype and (out == img).all()
    assert meta["nodata"] == -9999.0
    assert meta["tiepoint"][3:5] == (-120.0, 45.0)
    # classic encoding of the same pixels decodes identically
    classic, _ = geotiff.tiff_decode(geotiff.tiff_encode(img, compress=compress))
    assert (classic == out).all()


def test_bigtiff_probe_and_float_predictor3():
    from gis_scripts_spark.raster import codec

    rng = np.random.default_rng(31)
    img = rng.normal(0, 10, (65, 29, 1)).astype(np.float32)
    buf = geotiff.tiff_encode(img, compress="lzw", predictor=3, bigtiff=True)
    assert codec.probe_dtype(buf, "tif") == np.float32
    assert codec.probe_shape(buf, "tif") == (65, 29, 1)
    out, _ = geotiff.tiff_decode(buf)
    assert np.array_equal(out, img)


# ------------------------------------------------------- packed tile ids
def test_tile_id_bijection_and_spark_parity(spark):
    """tile_id = (z<<58)|(x<<29)|y is bijective with (z,x,y) and with the
    quadkey string; the Column flavor matches the numpy flavor row-wise."""
    from pyspark.sql import functions as F

    from gis_scripts_spark.index import tiles
    from gis_scripts_spark.operators import tile_assign
    from gis_scripts_spark.sources import synth

    df = tile_assign.assign_tiles(synth.images_df(spark, 300, parts=4), tile_z=12)
    pdf = df.select("tile_z", "tile_x", "tile_y", "tile_id", "quadkey").toPandas()
    want = tiles.tile_id(pdf["tile_x"].to_numpy(), pdf["tile_y"].to_numpy(), 12)
    assert (pdf["tile_id"].to_numpy() == want).all()
    for _, r in pdf.head(50).iterrows():
        z, x, y = tiles.tile_id_to_xyz(r["tile_id"])
        assert (z, x, y) == (r["tile_z"], r["tile_x"], r["tile_y"])
        assert tiles.quadkey_to_xyz(r["quadkey"]) == (z, x, y)


# -------------------------------------------------- COG windowed decode
def _build_tiled_tiff(img, tw, th, compress="deflate"):
    """Independent minimal TILED TIFF writer (test-side, little-endian,
    uint8/int16, chunky) — exercises the codec's tile path from a writer
    that shares no code with tiff_encode."""
    import struct
    import zlib as _zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, spp = img.shape
    dt = img.dtype
    fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    tiles = []
    for ty in range((h + th - 1) // th):
        for tx in range((w + tw - 1) // tw):
            block = np.zeros((th, tw, spp), dt)
            sub = img[ty * th : ty * th + th, tx * tw : tx * tw + tw]
            block[: sub.shape[0], : sub.shape[1]] = sub
            raw = np.ascontiguousarray(block.astype(dt.newbyteorder("<"))).tobytes()
            tiles.append(_zlib.compress(raw) if compress == "deflate" else raw)
    comp_code = 8 if compress == "deflate" else 1
    entries = [
        (256, 4, 1, [w]), (257, 4, 1, [h]), (258, 3, spp, [dt.itemsize * 8] * spp),
        (259, 3, 1, [comp_code]), (262, 3, 1, [1]), (277, 3, 1, [spp]),
        (284, 3, 1, [1]), (322, 4, 1, [tw]), (323, 4, 1, [th]),
        (324, 4, len(tiles), "OFFS"), (325, 4, len(tiles), [len(b) for b in tiles]),
        (339, 3, spp, [fmt] * spp),
    ]
    entries.sort()
    ifd_sz = 2 + 12 * len(entries) + 4
    overflow = bytearray()
    fmtc = {3: "H", 4: "I"}
    packed = []
    # first pass with placeholder offsets
    data_off_guess = 8 + ifd_sz
    # compute overflow size
    for tag, typ, cnt, val in entries:
        size = {3: 2, 4: 4}[typ] * cnt
        if size > 4:
            data_off_guess += size
    offs = []
    pos = data_off_guess
    for b in tiles:
        offs.append(pos)
        pos += len(b)
    ov_pos = 8 + ifd_sz
    for tag, typ, cnt, val in entries:
        vals = offs if val == "OFFS" else val
        vb = struct.pack("<" + str(cnt) + fmtc[typ], *vals)
        if len(vb) <= 4:
            packed.append((tag, typ, cnt, vb.ljust(4, b"\0")))
        else:
            packed.append((tag, typ, cnt, struct.pack("<I", ov_pos)))
            overflow += vb
            ov_pos += len(vb)
    out = b"II" + struct.pack("<HI", 42, 8) + struct.pack("<H", len(packed))
    for tag, typ, cnt, four in packed:
        out += struct.pack("<HHI", tag, typ, cnt) + four
    out += struct.pack("<I", 0) + bytes(overflow) + b"".join(tiles)
    return out


def test_tiled_tiff_full_decode_matches():
    rng = np.random.default_rng(37)
    img = rng.integers(-999, 999, (70, 90, 2)).astype(np.int16)
    buf = _build_tiled_tiff(img, 32, 32)
    out, _ = geotiff.tiff_decode(buf)
    assert (out == img).all()


@pytest.mark.parametrize("compress", ["lzw", "deflate", "packbits", "none"])
@pytest.mark.parametrize("predictor,dtype", [(1, np.uint8), (2, np.int16), (3, np.float32)])
def test_windowed_decode_strips(compress, predictor, dtype):
    """Windowed decode == full-decode crop, touching only the strips that
    intersect the window (the COG bounded-work property)."""
    if predictor == 3 and compress == "packbits":
        pytest.skip("combination not emitted by writers")
    rng = np.random.default_rng(41)
    if np.issubdtype(dtype, np.integer):
        img = rng.integers(np.iinfo(dtype).min // 2, np.iinfo(dtype).max // 2,
                           (300, 45, 2)).astype(dtype)
    else:
        img = rng.normal(0, 100, (300, 45, 2)).astype(dtype)
    buf = geotiff.tiff_encode(img, compress=compress, predictor=predictor)
    stats = {}
    win, _ = geotiff.tiff_decode_window(buf, 10, 130, 20, 40, _stats=stats)
    assert np.array_equal(win, img[130:170, 10:30], equal_nan=True)
    # 300 rows / 64-row strips = 5 strips; rows 130-169 live in strips 2
    assert stats["blocks_total"] == 5
    assert stats["blocks_decoded"] == 1


def test_windowed_decode_tiles():
    rng = np.random.default_rng(43)
    img = rng.integers(0, 255, (96, 128, 3)).astype(np.uint8)
    buf = _build_tiled_tiff(img, 32, 32, compress="deflate")
    stats = {}
    win, _ = geotiff.tiff_decode_window(buf, 40, 40, 30, 20, _stats=stats)
    assert (win == img[40:60, 40:70]).all()
    # 3x4 tile grid = 12 tiles; window [40,70)x[40,60) spans tile cols 1-2, row 1
    assert stats["blocks_total"] == 12
    assert stats["blocks_decoded"] == 2


def test_windowed_decode_rejects_out_of_bounds():
    img = np.zeros((50, 50), np.uint8)
    buf = geotiff.tiff_encode(img)
    with pytest.raises(ValueError, match="outside"):
        geotiff.tiff_decode_window(buf, 40, 40, 20, 20)


def test_codec_decode_window_dispatch():
    from gis_scripts_spark.raster import codec

    rng = np.random.default_rng(47)
    img = rng.integers(0, 255, (80, 60, 3)).astype(np.uint8)
    tif = codec.encode(img, "tif")
    png = codec.png_encode(img)
    assert (codec.decode_window(tif, "tif", 5, 10, 20, 30) == img[10:40, 5:25]).all()
    assert (codec.decode_window(png, "png", 5, 10, 20, 30) == img[10:40, 5:25]).all()


def test_pip_join_auto_falls_back_to_shuffle(spark, no_broadcast):
    """Round-4 safety valve: pip_join's broadcast path drives the polygon
    rows through a BOUNDED collect; past the session's broadcast bound it
    falls back to the shuffle-hash path — and both paths return identical
    pairs."""
    import pandas as pd

    from gis_scripts_spark.geom import wkb as wkb_mod
    from gis_scripts_spark.operators import pip_join, tile_assign
    from gis_scripts_spark.sources import synth

    polys = pd.DataFrame(
        {
            "poly_id": [f"p{i}" for i in range(6)],
            "wkb": [
                bytearray(wkb_mod.bbox_to_wkb(-60.0 + 18 * i, -20.0, -50.0 + 18 * i, 15.0))
                for i in range(6)
            ],
        }
    )
    polys_df = spark.createDataFrame(polys)
    pts = tile_assign.assign_tiles(synth.images_df(spark, 400, parts=4)).select(
        "image_id", "lon", "lat"
    )

    def pairs():
        out = pip_join.pip_join(pts, polys_df, z=6).toPandas()
        return set(zip(out["image_id"], out["poly_id"]))

    a = pairs()  # 6 polys under the bound -> broadcast
    with no_broadcast():
        b = pairs()  # no layer fits a -1 bound -> shuffle
    assert a == b
    assert len(a) > 0


# ------------------------------------------------- COG overview levels
def _build_two_level_tiff(full, ovr):
    """Independent minimal builder of a TWO-IFD TIFF (the COG pyramid
    shape: full-res IFD chained to an overview IFD), single uncompressed
    strip per level, uint8, 1 band — shares no code with tiff_encode."""
    import struct

    def entries_for(img, data_off):
        h, w = img.shape
        return [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
            (262, 3, 1, 1), (273, 4, 1, data_off), (277, 3, 1, 1),
            (278, 4, 1, h), (279, 4, 1, h * w), (339, 3, 1, 1),
        ]

    ifd_size = 2 + 12 * 10 + 4
    ifd0, ifd1 = 8, 8 + ifd_size
    data0 = ifd1 + ifd_size
    data1 = data0 + full.size

    def ifd_bytes(img, data_off, next_off):
        out = struct.pack("<H", 10)
        for tag, typ, cnt, val in entries_for(img, data_off):
            fmtc = {3: "H", 4: "I"}[typ]
            four = struct.pack("<" + fmtc, val).ljust(4, b"\0")
            out += struct.pack("<HHI", tag, typ, cnt) + four
        return out + struct.pack("<I", next_off)

    return (
        b"II" + struct.pack("<HI", 42, ifd0)
        + ifd_bytes(full, data0, ifd1)
        + ifd_bytes(ovr, data1, 0)
        + full.tobytes() + ovr.tobytes()
    )


def test_cog_overview_levels():
    """Multi-IFD chain (COG pyramid): tiff_levels enumerates, decode/
    decode_window select a level; level 0 stays the default."""
    rng = np.random.default_rng(53)
    full = rng.integers(0, 255, (64, 48)).astype(np.uint8)
    ovr = full.reshape(32, 2, 24, 2).mean(axis=(1, 3)).astype(np.uint8)
    buf = _build_two_level_tiff(full, ovr)
    assert geotiff.tiff_levels(buf) == [(48, 64), (24, 32)]
    out0, _ = geotiff.tiff_decode(buf)  # default = full res
    assert (out0[:, :, 0] == full).all()
    out1, _ = geotiff.tiff_decode(buf, level=1)
    assert (out1[:, :, 0] == ovr).all()
    win, _ = geotiff.tiff_decode_window(buf, 4, 6, 10, 12, level=1)
    assert (win[:, :, 0] == ovr[6:18, 4:14]).all()
    with pytest.raises(ValueError, match="no IFD level"):
        geotiff.tiff_decode(buf, level=2)
    # single-IFD files report one level and still decode
    single = geotiff.tiff_encode(full, compress="lzw")
    assert len(geotiff.tiff_levels(single)) == 1
