"""GIF 87a/89a codec, pure numpy + stdlib (no PIL in the sandbox).

Web-crawl image tables carry GIF alongside jpeg/png (the input_hint
schema's `fmt` column); the reference's imagery stack reads it through
GDAL. Implemented from the public CompuServe/W3C GIF89a specification:

- decode: logical screen descriptor, global AND local color tables,
  interlaced row order (4-pass), Graphic Control Extension transparency,
  multi-frame animations with disposal-method compositing
  (`gif_decode_frames`), sub-block reassembly, and the GIF variant of
  LZW — LSB-first bit packing, variable 3..12-bit codes, CLEAR/EOI,
  KwKwK, and "deferred clear" streams (dict frozen at 4096, no reset).
- encode: exact-palette writer (<=256 distinct colors, else ValueError —
  quantization is the caller's decision, not a silent lossy step),
  optional interlace, multi-frame writer (per-frame local color tables,
  NETSCAPE2.0 loop block) for real animation fixtures.

Variable-width rule (spec Appendix F: "whenever the LZW code value would
exceed the current code length, the code length is increased by one"):
the largest code that can appear on the wire at any point is the
decoder's next unassigned table value (the KwKwK case emits exactly it),
so BOTH sides bump the width when next_code reaches 1 << width, and the
width is capped at 12 with table adds stopping at 4096. The encoder
mirrors that rule; the decoder is `bitio.lzw_decode` (the table of byte
strings TIFF's LZW also decodes with) at LSB-first packing and a bump
offset of 0. The 1x1-transparent-GIF vector in tests/test_gif.py pins
the bitstream layout against a hand-derived public example.

`_parse` walks the blocks without decoding; each frame's LZW payload is
decoded when it is composited, so `gif_decode` decodes only the first
frame. The LZW loop is per code, not per pixel; palette mapping,
interlace reorder and compositing are numpy. At Spark scale the codec
runs inside mapInPandas batches, one image per call.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitio import lzw_decode

_MAX_CODES = 4096


# ------------------------------------------------------------------ LZW
def _lzw_decompress(data: bytes, mcs: int, npix: int) -> np.ndarray:
    """GIF-LZW decode of the reassembled sub-block payload into exactly
    npix palette indices. mcs = "LZW minimum code size" byte. Decoding
    stops at npix, so a missing EOI is tolerated."""
    if not (2 <= mcs <= 11):
        raise ValueError(f"bad LZW minimum code size {mcs}")
    out, eoi = lzw_decode(data, mcs, msb=False, early=0, limit=npix)
    if len(out) > npix:
        raise ValueError("LZW output exceeds frame size")
    if len(out) < npix:
        if eoi:
            raise ValueError(f"LZW stream ended at {len(out)}/{npix} pixels")
        raise ValueError("truncated LZW stream")
    return np.frombuffer(out, dtype=np.uint8)


def _lzw_compress(indices: np.ndarray, mcs: int, defer_clear: bool = False) -> bytes:
    """GIF-LZW encode of palette indices. Emits CLEAR up front; on table
    overflow emits CLEAR + reset (standard), or — with defer_clear, used
    by tests to exercise the decoder's frozen-dict path — keeps coding
    with the full table at 12 bits."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0
    next_code = eoi + 1
    width = mcs + 1

    def put(code: int) -> None:
        nonlocal bitbuf, nbits, width
        # mirror of the decoder: widen so the decoder's next_code
        # (== our next_code - 1, it lags one add) fits
        while (next_code - 1) >= (1 << width) and width < 12:
            width += 1
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table: dict[int, int] = {}
    put(clear)
    it = iter(np.asarray(indices, dtype=np.uint8).ravel().tolist())
    try:
        prev = next(it)
    except StopIteration:
        put(eoi)
        if nbits:
            out.append(bitbuf & 0xFF)
        return bytes(out)
    for c in it:
        key = (prev << 8) | c
        hit = table.get(key)
        if hit is not None:
            prev = hit
            continue
        put(prev)
        if next_code < _MAX_CODES:
            table[key] = next_code
            next_code += 1
        elif not defer_clear:
            put(clear)
            table.clear()
            next_code = eoi + 1
            width = mcs + 1
        prev = c
    put(prev)
    put(eoi)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _subblocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return np.asarray(rows, dtype=np.int64)


# ------------------------------------------------------------------ parse
def _parse(buf: bytes):
    """Block walk, no LZW decode -> (w, h, gct | None, bg_index, frames)
    where each frame is a dict {left, top, w, h, palette, mcs, data,
    interlaced, transparent, disposal}; `data` is the reassembled LZW
    payload (`_frame_indices` decodes it)."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack_from("<HH", buf, 6)
    packed = buf[10]
    bg = buf[11]
    off = 13
    gct = None
    if packed & 0x80:
        ncols = 2 << (packed & 0x07)
        gct = np.frombuffer(buf, np.uint8, ncols * 3, off).reshape(ncols, 3)
        off += ncols * 3

    frames = []
    transparent = -1
    disposal = 0
    while off < len(buf):
        b = buf[off]
        off += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = buf[off]
            off += 1
            blocks = []
            while buf[off]:
                ln = buf[off]
                blocks.append(buf[off + 1 : off + 1 + ln])
                off += 1 + ln
            off += 1
            if label == 0xF9 and blocks:  # Graphic Control Extension
                gpk = blocks[0][0]
                disposal = (gpk >> 2) & 0x07
                transparent = blocks[0][3] if gpk & 0x01 else -1
            continue
        if b != 0x2C:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
        fl, ft, fw, fh = struct.unpack_from("<HHHH", buf, off)
        fpk = buf[off + 8]
        off += 9
        pal = gct
        if fpk & 0x80:
            ncols = 2 << (fpk & 0x07)
            pal = np.frombuffer(buf, np.uint8, ncols * 3, off).reshape(ncols, 3)
            off += ncols * 3
        if pal is None:
            raise ValueError("GIF frame has no color table")
        mcs = buf[off]
        off += 1
        payload = bytearray()
        while buf[off]:
            ln = buf[off]
            payload += buf[off + 1 : off + 1 + ln]
            off += 1 + ln
        off += 1
        frames.append(
            dict(left=fl, top=ft, w=fw, h=fh, palette=pal, mcs=mcs,
                 data=bytes(payload), interlaced=bool(fpk & 0x40),
                 transparent=transparent, disposal=disposal)
        )
        transparent = -1
        disposal = 0
    return w, h, gct, bg, frames


def gif_frame_count(buf: bytes) -> int:
    """Number of frames by structural block walk — skips color tables and
    sub-blocks without any LZW decode (cheap metadata probe)."""
    buf = bytes(buf)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = buf[10]
    off = 13 + ((2 << (packed & 0x07)) * 3 if packed & 0x80 else 0)
    n = 0
    while off < len(buf):
        b = buf[off]
        off += 1
        if b == 0x3B:
            break
        if b == 0x21:
            off += 1  # label
        elif b == 0x2C:
            fpk = buf[off + 8]
            off += 9 + ((2 << (fpk & 0x07)) * 3 if fpk & 0x80 else 0)
            off += 1  # LZW minimum code size
            n += 1
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
        while buf[off]:  # sub-blocks (extension payload or image data)
            off += 1 + buf[off]
        off += 1
    return n


def _frame_indices(fr: dict) -> np.ndarray:
    """(h, w) palette indices of one parsed frame, in display row order."""
    idx = _lzw_decompress(fr["data"], fr["mcs"], fr["w"] * fr["h"])
    idx = idx.reshape(fr["h"], fr["w"])
    if fr["interlaced"]:  # stored rows are passes 1-4
        dest = np.empty_like(idx)
        dest[_interlace_order(fr["h"])] = idx
        idx = dest
    return idx


def _composite(w: int, h: int, gct, bg: int, frames: list):
    """Yield each frame as a full-canvas (h, w, 3) uint8 RGB copy,
    decoding one frame's LZW payload per step."""
    if not frames:
        raise ValueError("GIF has no image data")
    if gct is not None:
        canvas = np.broadcast_to(gct[bg if bg < len(gct) else 0], (h, w, 3)).copy()
    else:
        canvas = np.zeros((h, w, 3), dtype=np.uint8)
    bg_fill = canvas[0, 0].copy()
    for fr in frames:
        rect = (slice(fr["top"], fr["top"] + fr["h"]),
                slice(fr["left"], fr["left"] + fr["w"]))
        saved = canvas[rect].copy() if fr["disposal"] == 3 else None
        idx = _frame_indices(fr)
        rgb = fr["palette"][idx]
        if fr["transparent"] >= 0:
            opaque = idx != fr["transparent"]
            region = canvas[rect]
            region[opaque] = rgb[opaque]
        else:
            canvas[rect] = rgb
        yield canvas.copy()
        if fr["disposal"] == 2:
            canvas[rect] = bg_fill
        elif fr["disposal"] == 3:
            canvas[rect] = saved


# ------------------------------------------------------------------ API
def gif_decode_frames(buf: bytes) -> list[np.ndarray]:
    """All frames as full-canvas (h, w, 3) uint8 RGB, composited per the
    GIF89a disposal model (none/keep=0,1; restore-background=2;
    restore-previous=3); transparent pixels show what was underneath."""
    return list(_composite(*_parse(buf)))


def _is_gray(pal: np.ndarray) -> bool:
    return bool(np.all(pal[:, 0] == pal[:, 1]) and np.all(pal[:, 1] == pal[:, 2]))


def gif_decode(buf: bytes) -> np.ndarray:
    """First frame on the full canvas. (h, w, 1) when every palette color
    is gray (the encoder's representation of single-band images — keeps
    encode->decode roundtrips band-exact), else (h, w, 3) RGB. Only the
    first frame's LZW payload is decoded."""
    w, h, gct, bg, frames = _parse(bytes(buf))
    frame = next(_composite(w, h, gct, bg, frames))
    if _is_gray(frames[0]["palette"]) and (gct is None or _is_gray(gct)):
        return frame[:, :, :1].copy()
    return frame


def gif_probe_shape(buf: bytes) -> tuple[int, int, int]:
    """(h, w, bands) from the logical screen descriptor + color-table
    grayness — no LZW decode."""
    buf = bytes(buf)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack_from("<HH", buf, 6)
    packed = buf[10]
    bands = 3
    if packed & 0x80:
        ncols = 2 << (packed & 0x07)
        if _is_gray(np.frombuffer(buf, np.uint8, ncols * 3, 13).reshape(ncols, 3)):
            bands = 1
    return int(h), int(w), bands


def _build_palette(img: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact palette: (palette (n,3) uint8, indices (h,w) uint8).
    Raises when the image has more than 256 distinct colors."""
    h, w = img.shape[:2]
    flat = img.reshape(h * w, 3).astype(np.uint32)
    key = (flat[:, 0] << 16) | (flat[:, 1] << 8) | flat[:, 2]
    uniq, inv = np.unique(key, return_inverse=True)
    if len(uniq) > 256:
        raise ValueError(
            f"GIF needs <=256 distinct colors, image has {len(uniq)}; "
            "quantize first (the encoder never quantizes silently)"
        )
    pal = np.stack([(uniq >> 16) & 0xFF, (uniq >> 8) & 0xFF, uniq & 0xFF],
                   axis=1).astype(np.uint8)
    return pal, inv.reshape(h, w).astype(np.uint8)


def _color_table_block(pal: np.ndarray) -> tuple[bytes, int]:
    """Pad palette to the next power of two >= 2; -> (bytes, size_field)."""
    n = max(2, 1 << int(np.ceil(np.log2(max(len(pal), 2)))))
    padded = np.zeros((n, 3), dtype=np.uint8)
    padded[: len(pal)] = pal
    return padded.tobytes(), int(np.log2(n)) - 1


def _encode_frame(
    img: np.ndarray, interlace: bool, defer_clear: bool
) -> tuple[bytes, bytes, int, int]:
    """-> (color table bytes, image block bytes (descriptor..sub-blocks),
    palette size field, n_colors)."""
    if img.ndim == 2:
        img = img[:, :, None]
    if img.dtype != np.uint8:
        raise ValueError("GIF encodes uint8 only")
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    elif img.shape[2] != 3:
        raise ValueError(f"GIF encodes 1- or 3-band images, got {img.shape[2]}")
    h, w = img.shape[:2]
    pal, idx = _build_palette(img)
    ct, size_field = _color_table_block(pal)
    if interlace:
        idx = idx[_interlace_order(h)]
    mcs = max(2, size_field + 1)
    data = _lzw_compress(idx, mcs, defer_clear=defer_clear)
    desc = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                       0x80 | (0x40 if interlace else 0) | size_field)
    return ct, desc + ct + bytes([mcs]) + _subblocks(data), size_field, len(pal)


def gif_encode(
    img: np.ndarray, interlace: bool = False, _defer_clear: bool = False
) -> bytes:
    """Single-frame GIF89a. Exact palette (<=256 distinct colors) — the
    lossless regime; more colors is a ValueError so quantization stays an
    explicit caller step. 1-band input becomes a gray palette (decode
    returns 1 band again)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w = img.shape[:2]
    _, block, size_field, _ = _encode_frame(img, interlace, _defer_clear)
    # color table is global here: strip it from the frame and move it up
    ct_len = (2 << size_field) * 3
    desc = bytearray(block[:10])
    desc[9] &= ~0x80  # frame uses the global table
    head = (b"GIF89a" + struct.pack("<HH", w, h)
            + bytes([0x80 | size_field, 0, 0]) + block[10 : 10 + ct_len])
    return head + bytes(desc) + block[10 + ct_len :] + b"\x3B"


def gif_encode_frames(
    frames: list[np.ndarray], delay_cs: int = 10, loop: int = 0,
    transparent_of: int | list[int | None] | None = None,
) -> bytes:
    """Animated GIF89a: per-frame LOCAL color tables (each frame exact),
    full-frame replace (disposal=1), NETSCAPE2.0 loop extension.
    transparent_of marks a palette index transparent in the Graphic
    Control Extension — an int applies to every frame, a list gives a
    per-frame index (None = opaque frame)."""
    if not frames:
        raise ValueError("no frames")
    f0 = frames[0] if frames[0].ndim == 3 else frames[0][:, :, None]
    h, w = f0.shape[:2]
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h) + bytes([0, 0, 0]))
    out += (b"\x21\xFF\x0BNETSCAPE2.0\x03\x01"
            + struct.pack("<H", loop) + b"\x00")
    for k, fr in enumerate(frames):
        if fr.shape[:2] != (h, w):
            raise ValueError("all frames must share the canvas size")
        gpk = 0x04  # disposal = 1 (keep)
        tr = 0
        tr_k = (transparent_of[k] if isinstance(transparent_of, list)
                else transparent_of)
        if tr_k is not None:
            gpk |= 0x01
            tr = tr_k
        out += (b"\x21\xF9\x04" + bytes([gpk])
                + struct.pack("<H", delay_cs) + bytes([tr]) + b"\x00")
        _, block, _, _ = _encode_frame(fr, False, False)
        out += block
    out += b"\x3B"
    return bytes(out)
