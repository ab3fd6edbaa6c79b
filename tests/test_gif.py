"""GIF codec exactness (raster/gif.py) — spec-vector + roundtrip gates.

The encoder is exact-palette (lossless), so every roundtrip assertion is
bit equality, and the known-vector test pins the LZW bitstream layout
(LSB-first, variable width) against a hand-derived public example.
"""

import numpy as np
import pytest

from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster.gif import (
    _lzw_compress,
    _lzw_decompress,
    _subblocks,
    gif_decode,
    gif_decode_frames,
    gif_encode,
    gif_encode_frames,
    gif_probe_shape,
)

# The ubiquitous 1x1 transparent GIF (public byte sequence). Hand trace of
# the LZW payload 44 01: 0x44 LSB-first = 0,0,1,0,0,0,1,0 and 0x01 =
# 1,0,... -> 3-bit codes (mcs=2, width 3): (0,0,1)=4=CLEAR, (0,0,0)=0
# (pixel index 0), (1,0,1)=5=EOI. Palette: white, black; bg/transparent
# index 0 = white.
_ONE_PX = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00"
    b"\xff\xff\xff\x00\x00\x00"
    b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    b"\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00"
    b"\x02\x02\x44\x01\x00\x3b"
)


def _img(h, w, bands, ncolors, seed=7):
    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(ncolors, bands)).astype(np.uint8)
    return pal[rng.randint(0, ncolors, size=(h, w))]


class TestKnownVector:
    def test_one_pixel_transparent_gif(self):
        img = gif_decode(_ONE_PX)
        # both palette entries are gray -> 1 band; pixel is index 0 = white
        assert img.shape == (1, 1, 1)
        assert img[0, 0, 0] == 255

    def test_probe_matches(self):
        assert gif_probe_shape(_ONE_PX) == (1, 1, 1)


class TestLZW:
    def test_kwkwk(self):
        # [1,1,1,1,1]: the encoder emits code 6 right after defining it,
        # so the decoder hits code == next_code (KwKwK)
        idx = np.array([1, 1, 1, 1, 1], dtype=np.uint8)
        out = _lzw_decompress(_lzw_compress(idx, 2), 2, 5)
        assert np.array_equal(out, idx)

    def test_width_growth_to_12_bits_and_clear_reset(self):
        # 256-symbol noise grows the dict to 4096 -> encoder CLEAR+reset
        rng = np.random.RandomState(3)
        idx = rng.randint(0, 256, size=40_000).astype(np.uint8)
        out = _lzw_decompress(_lzw_compress(idx, 8), 8, idx.size)
        assert np.array_equal(out, idx)

    def test_deferred_clear_frozen_dict(self):
        # encoders MAY keep coding with the full table instead of clearing
        # (spec's "deferred clear"); the decoder must freeze, not reset
        rng = np.random.RandomState(4)
        idx = rng.randint(0, 256, size=40_000).astype(np.uint8)
        out = _lzw_decompress(_lzw_compress(idx, 8, defer_clear=True), 8, idx.size)
        assert np.array_equal(out, idx)

    def test_corrupt_code_raises(self):
        with pytest.raises(ValueError):
            _lzw_decompress(b"\xff\xff\xff", 2, 100)


class TestRoundtrip:
    def test_rgb_exact(self):
        img = _img(40, 56, 3, 6)
        buf = gif_encode(img)
        assert np.array_equal(gif_decode(buf), img)

    def test_gray_stays_one_band(self):
        img = _img(32, 21, 1, 17)
        out = gif_decode(gif_encode(img))
        assert out.shape == img.shape
        assert np.array_equal(out, img)

    def test_interlaced(self):
        img = _img(37, 23, 3, 9, seed=11)  # odd height crosses pass bounds
        plain, laced = gif_encode(img), gif_encode(img, interlace=True)
        assert plain != laced
        assert np.array_equal(gif_decode(laced), img)

    def test_256_colors_exact_and_257_raises(self):
        img = np.arange(256, dtype=np.uint8).reshape(16, 16)[:, :, None]
        assert np.array_equal(gif_decode(gif_encode(img)), img)
        rgb = np.zeros((16, 17, 3), dtype=np.uint8)
        rgb[:, :, 0] = np.arange(16 * 17, dtype=np.uint32).reshape(16, 17) % 256
        rgb[:, :, 1] = np.arange(16 * 17, dtype=np.uint32).reshape(16, 17) // 256
        with pytest.raises(ValueError, match="256"):
            gif_encode(rgb)

    def test_subblock_boundaries(self):
        # payload > 255 bytes must split into sub-blocks and reassemble
        img = _img(64, 64, 3, 250, seed=5)
        assert np.array_equal(gif_decode(gif_encode(img)), img)


class TestAnimation:
    def test_frames_roundtrip(self):
        frames = [_img(20, 30, 3, 5, seed=s) for s in range(4)]
        buf = gif_encode_frames(frames, delay_cs=4)
        out = gif_decode_frames(buf)
        assert len(out) == 4
        for got, want in zip(out, frames):
            assert np.array_equal(got, want)

    def test_first_frame_decodes_once(self, monkeypatch):
        # gif_decode returns frame 0 only: one block walk, one LZW decode
        from gis_scripts_spark.raster import gif

        frames = [_img(20, 30, 3, 5, seed=s) for s in range(3)]
        buf = gif_encode_frames(frames)
        calls = []
        decompress = gif._lzw_decompress

        def counting(*args):
            calls.append(args[2])
            return decompress(*args)

        monkeypatch.setattr(gif, "_lzw_decompress", counting)
        assert np.array_equal(gif_decode(buf), frames[0])
        assert calls == [20 * 30]
        calls.clear()
        assert len(gif_decode_frames(buf)) == 3
        assert len(calls) == 3

    def test_transparency_shows_previous_frame(self):
        a = np.full((8, 8, 3), 200, dtype=np.uint8)
        b = np.zeros((8, 8, 3), dtype=np.uint8)  # index 0 -> transparent
        b[2:4, 2:4] = 90
        buf = gif_encode_frames([a, b], transparent_of=[None, 0])
        f0, f1 = gif_decode_frames(buf)
        assert np.all(f0 == 200)
        assert np.all(f1[2:4, 2:4] == 90)
        assert np.all(f1[0, :] == 200)  # transparent region kept frame 0

    def test_subrect_frame_and_disposal_background(self):
        # hand-assemble: full first frame, then a 2x2 sub-rect frame at
        # (left=3, top=1) with disposal=2 (restore to background after)
        import struct

        base = np.full((4, 6, 3), 10, dtype=np.uint8)
        patch_idx = np.array([[1, 1], [1, 1]], dtype=np.uint8)
        pal = b"\x0a\x0a\x0a\x50\x50\x50"  # 10-gray, 80-gray
        head = b"GIF89a" + struct.pack("<HH", 6, 4) + bytes([0x80, 0, 0]) + pal
        full = (struct.pack("<BHHHHB", 0x2C, 0, 0, 6, 4, 0x00)
                + b"\x02" + _subblocks(_lzw_compress(np.zeros(24, np.uint8), 2)))
        gce = b"\x21\xf9\x04" + bytes([2 << 2]) + b"\x00\x00\x00\x00"
        sub = (struct.pack("<BHHHHB", 0x2C, 3, 1, 2, 2, 0x00)
               + b"\x02" + _subblocks(_lzw_compress(patch_idx, 2)))
        third = full  # after disposal-2 the canvas rect is back to bg
        buf = head + full + gce + sub + third + b"\x3b"
        f0, f1, f2 = gif_decode_frames(buf)
        assert np.array_equal(f0, base)
        want1 = base.copy()
        want1[1:3, 3:5] = 80
        assert np.array_equal(f1, want1)
        assert np.array_equal(f2, base)


class TestCodecDispatch:
    def test_encode_decode_and_sniff(self):
        img = _img(24, 24, 3, 8, seed=9)
        buf = codec.encode(img, "gif")
        assert np.array_equal(codec.decode(buf), img)  # magic sniff
        assert np.array_equal(codec.decode(buf, "gif"), img)
        assert codec.probe_shape(buf) == (24, 24, 3)
        assert codec.probe_dtype(buf) == np.uint8

    def test_decode_window(self):
        img = _img(30, 30, 3, 8, seed=13)
        buf = codec.encode(img, "gif")
        got = codec.decode_window(buf, "gif", 5, 7, 10, 11)
        assert np.array_equal(got, img[7:18, 5:15])
        with pytest.raises(ValueError):
            codec.decode_window(buf, "gif", 25, 25, 10, 10)
