"""Progressive (SOF2) JPEG gates.

The load-bearing oracle is CROSS-PATH EQUALITY: a fully-transmitted
progressive stream reconstructs the identical quantized coefficients as a
baseline encode with the same tables, so decoded pixels must match the
(already hand-vector-verified) baseline path BIT-FOR-BIT. On top of that:
block-level successive-approximation vectors, generated-Huffman-table
validity, and the codec-dispatch integration for fmt='jpegp'.
"""

from __future__ import annotations

import numpy as np
import pytest

from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster import jpeg as J
from gis_scripts_spark.raster.bitio import BitReader


def _test_image(shape, seed=0):
    rng = np.random.default_rng(seed)
    if len(shape) == 2:
        y, x = np.mgrid[0 : shape[0], 0 : shape[1]]
        img = 128 + 80 * np.sin(x / 5.0) * np.cos(y / 7.0)
        img = img + rng.integers(-20, 20, shape)
    else:
        img = rng.integers(0, 256, shape).astype(int)
        x = np.arange(shape[1])
        img = (img + 120 + 100 * np.sin(x / 6.0)[None, :, None]) // 2
    return np.clip(img, 0, 255).astype(np.uint8)


@pytest.mark.parametrize(
    "shape,sub",
    [
        ((8, 8), None), ((24, 16), None), ((23, 17), None), ((1, 1), None),
        ((32, 32, 3), "4:4:4"), ((23, 17, 3), "4:2:0"),
        ((64, 48, 3), "4:2:0"), ((17, 9, 3), "4:2:0"),
    ],
)
def test_progressive_equals_baseline(shape, sub):
    """Full transmission => identical coefficients => identical pixels."""
    img = _test_image(shape)
    kw = {} if sub is None else {"subsampling": sub}
    base = J.jpeg_decode(J.jpeg_encode(img, quality=80, **kw))
    prog = J.jpeg_decode(J.jpeg_encode_progressive(img, quality=80, **kw))
    assert np.array_equal(base, prog)


def test_progressive_sparse_high_frequency():
    """Sparse high-band coefficients force EOB runs and long zero runs
    (ZRL) through both first and refinement AC scans."""
    img = np.full((96, 96), 128, np.uint8)
    rng = np.random.default_rng(3)
    img[40:44, :] = rng.integers(0, 256, (4, 96))
    img[:, 70] = 255
    img[7::8, 7::8] = 0  # single-pixel spikes: energy at the band tail
    base = J.jpeg_decode(J.jpeg_encode(img, quality=90))
    prog = J.jpeg_decode(J.jpeg_encode_progressive(img, quality=90))
    assert np.array_equal(base, prog)


def test_progressive_psnr_invariant():
    """The input_hint lossy invariant (PSNR >= 40 dB) holds for the
    progressive path at the codec's fixture quality (natural-image
    profile — pure noise is below any JPEG's 40 dB at q92)."""
    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:61, 0:77]
    base = (120 + 60 * np.sin(xx / 25.0 + rng.uniform(0, 2))
            + 30 * np.cos(yy / 19.0)).clip(0, 255)
    img = np.stack([base, base * 0.9 + 10, base * 0.8 + 25], axis=-1).astype(np.uint8)
    out = J.jpeg_decode(J.jpeg_encode_progressive(img, quality=92, subsampling="4:4:4"))
    mse = np.mean((out.astype(np.float64) - img.astype(np.float64)) ** 2)
    psnr = 10 * np.log10(255.0**2 / mse)
    assert psnr >= 40.0, psnr


def test_successive_approximation_block_vectors():
    """Block-level: AC band coded at Al=2 then refined 2->1->0 must pass
    through exactly the spec's partial values sign(v)*((|v|>>Al)<<Al) and
    land on the exact coefficients."""
    tab = J._get_prog_ac()
    zz_src = np.zeros(64, np.int64)
    # magnitudes crossing each Al threshold, both signs, a long zero gap
    # (ZRL in the first scan), and a trailing +/-1 pair (newly-nonzero
    # only in the last refinement, after a >16-coefficient zero-history
    # run -> the refinement ZRL path)
    zz_src[1] = 5
    zz_src[2] = -3
    zz_src[3] = 1
    zz_src[40] = -7
    zz_src[60] = 1
    zz_src[63] = -1

    zz_dec = np.zeros(64, np.int64)
    for ah, al in [(0, 2), (2, 1), (1, 0)]:
        wtr = J._BitWriter()
        st = J._ProgState(wtr, tab)
        if ah == 0:
            J._encode_ac_first_block(st, zz_src, 1, 63, al)
        else:
            J._encode_ac_refine_block(st, zz_src, 1, 63, al)
        st.flush()
        wtr.pad_to_byte()
        rdr = BitReader(bytes(wtr.out).replace(b"\xff\x00", b"\xff"))
        if ah == 0:
            left = J._decode_ac_first_block(rdr, zz_dec, 1, 63, al, tab, 0)
        else:
            left = J._decode_ac_refine_block(rdr, zz_dec, 1, 63, al, tab, 0)
        assert left == 0
        expect = np.sign(zz_src) * ((np.abs(zz_src) >> al) << al)
        expect[0] = 0
        assert np.array_equal(zz_dec, expect), (al, zz_dec, expect)
    assert np.array_equal(zz_dec[1:], zz_src[1:])


def test_dc_successive_approximation_or_reconstruction():
    """DC path: first scan at Al=1 then refinement bit must reconstruct
    negative values exactly (two's-complement OR semantics)."""
    for v in [-7, -1, 0, 1, 6, -128, 127]:
        first = (v >> 1) << 1  # decoder state after the Al=1 scan
        bit = (v >> 0) & 1  # what the Al=0 refinement scan transmits
        assert (first | (bit << 0)) == v


def test_generated_huffman_table_valid():
    """Annex K.2 generation: Kraft-complete prefix code, <=16-bit depths,
    full progressive alphabet, and exact encode->decode roundtrip."""
    tab = J._get_prog_ac()
    assert sum(tab.bits) == len(tab.vals)
    assert sum(n * 2.0 ** -(i + 1) for i, n in enumerate(tab.bits)) <= 1.0
    need = {0x00, 0xF0}
    need |= {r << 4 for r in range(1, 15)}
    need |= {(r << 4) | s for r in range(16) for s in range(1, 11)}
    assert need <= set(tab.vals)
    rng = np.random.default_rng(0)
    syms = rng.choice(sorted(need), 500)
    wtr = J._BitWriter()
    for s in syms:
        ln, code = tab.enc[int(s)]
        wtr.put(code, ln)
    wtr.pad_to_byte()
    rdr = BitReader(bytes(wtr.out).replace(b"\xff\x00", b"\xff"))
    for s in syms:
        assert J._read_symbol(rdr, tab) == int(s)


def test_codec_dispatch_jpegp():
    img = _test_image((24, 24, 3), seed=1)
    buf = codec.encode(img, "jpegp")
    assert buf[:2] == b"\xff\xd8"
    assert b"\xff\xc2" in buf  # SOF2
    out = codec.decode(buf, "jpegp")
    assert out.shape == (24, 24, 3)
    assert codec.probe_shape(buf, "jpegp") == (24, 24, 3)
    assert codec.probe_dtype(buf, "jpegp") == np.uint8
    # sniffed decode (no fmt) works too
    assert np.array_equal(codec.decode(buf), out)
    # and equals the baseline pixels at the same quality/subsampling
    assert np.array_equal(codec.decode(codec.encode(img, "jpeg")), out)


def test_progressive_scan_constraints():
    img = _test_image((16, 16, 3), seed=2)
    with pytest.raises(ValueError):
        J.jpeg_encode_progressive(img, scans=[([1, 2], 1, 63, 0, 0)])
    with pytest.raises(ValueError):
        J.jpeg_encode_progressive(img, scans=[([1, 2, 3], 0, 5, 0, 0)])


def test_progressive_custom_band_script():
    """Non-default spectral bands (many narrow AC bands, chroma-first
    ordering) still reconstruct exactly."""
    img = _test_image((40, 24, 3), seed=4)
    ids = [1, 2, 3]
    scans = [
        (ids, 0, 0, 0, 2),
        ([2], 1, 63, 0, 1), ([3], 1, 63, 0, 1),
        ([1], 1, 2, 0, 1), ([1], 3, 9, 0, 1), ([1], 10, 63, 0, 1),
        (ids, 0, 0, 2, 1), (ids, 0, 0, 1, 0),
        ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0), ([3], 1, 63, 1, 0),
    ]
    base = J.jpeg_decode(J.jpeg_encode(img, quality=75, subsampling="4:2:0"))
    prog = J.jpeg_decode(
        J.jpeg_encode_progressive(img, quality=75, subsampling="4:2:0", scans=scans))
    assert np.array_equal(base, prog)
