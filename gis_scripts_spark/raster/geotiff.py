"""Minimal GeoTIFF codec, pure numpy + stdlib zlib (no GDAL/rasterio/PIL in
the sandbox) — closes the reference's dominant container format
(every reference script reads/writes .tif via gdal/rasterio, e.g.
``global_match.py:146-147,212``, ``seagrass_lib.py:244``).

Supported (the subset the reference's data actually uses):
- read: little/big endian classic TIFF (42) AND BigTIFF (43 — 8-byte
  offsets/counts, 20-byte IFD entries, LONG8/SLONG8/IFD8 types; what GDAL
  writes for >4 GB rasters); strip or tile organization;
  compression none (1), LZW (5), DEFLATE (8/32946) or PackBits (32773);
  predictor none (1), horizontal differencing (2) or floating-point
  byte-shuffle differencing (3, TIFF Technical Note 3 — the layout GDAL
  writes for float rasters with PREDICTOR=3); 8/16/32-bit unsigned,
  signed and 32/64-bit float samples (SampleFormat 1/2/3); chunky planar
  config; band-interleaved pixels -> (h, w, bands)
- write: little-endian, chunky, strips, compression none / DEFLATE /
  LZW / PackBits, predictor 1/2/3, classic or BigTIFF layout
- GeoTIFF geo-referencing: ModelPixelScale (33550) + ModelTiepoint (33922)
  and the GDAL nodata ASCII tag (42113) survive a roundtrip
- LZW decode is `bitio.lzw_decode` (shared with GIF) at MSB-first packing
  and TIFF's early change; the encoder is this module's own

Format reference: TIFF 6.0 specification (Adobe, public) + OGC GeoTIFF 1.1.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import bitio

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
               11: 4, 12: 8, 16: 8, 17: 8, 18: 8}  # 16/17/18: BigTIFF LONG8/SLONG8/IFD8
_TYPE_FMT = {3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d",
             16: "Q", 17: "q", 18: "Q"}

TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SAMPLES_PER_PIXEL = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_PLANAR = 284
TAG_PREDICTOR = 317
TAG_SAMPLE_FORMAT = 339
TAG_JPEG_TABLES = 347
TAG_TILE_WIDTH = 322
TAG_TILE_LENGTH = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325
TAG_MODEL_PIXEL_SCALE = 33550
TAG_MODEL_TIEPOINT = 33922
TAG_GDAL_NODATA = 42113


def _read_ifd_at(buf: bytes, bo: str, off: int) -> tuple[dict, int]:
    """One IFD at byte offset `off` -> ({tag: [values]}, next_ifd_offset).
    Handles classic (42) and BigTIFF (43) entry layouts; next offset 0
    means end of the IFD chain."""
    version = struct.unpack_from(bo + "H", buf, 2)[0]
    if version == 43:
        (n,) = struct.unpack_from(bo + "Q", buf, off)
        ent0, ent_sz, inline = off + 8, 20, 8
        off_fmt = "Q"
    else:
        (n,) = struct.unpack_from(bo + "H", buf, off)
        ent0, ent_sz, inline = off + 2, 12, 4
        off_fmt = "I"
    tags: dict[int, list] = {}
    for i in range(n):
        if version == 43:
            tag, typ, cnt = struct.unpack_from(bo + "HHQ", buf, ent0 + ent_sz * i)
        else:
            tag, typ, cnt = struct.unpack_from(bo + "HHI", buf, ent0 + ent_sz * i)
        size = _TYPE_SIZES.get(typ, 1) * cnt
        if size <= inline:
            data_off = ent0 + ent_sz * i + (ent_sz - inline)
        else:
            (data_off,) = struct.unpack_from(
                bo + off_fmt, buf, ent0 + ent_sz * i + (ent_sz - inline)
            )
        if typ in _TYPE_FMT:
            vals = list(struct.unpack_from(bo + str(cnt) + _TYPE_FMT[typ], buf, data_off))
        elif typ == 2:  # ascii
            vals = [buf[data_off : data_off + cnt].split(b"\0")[0].decode("ascii", "replace")]
        else:
            vals = [buf[data_off : data_off + size]]
        tags[tag] = vals
    (next_off,) = struct.unpack_from(bo + off_fmt, buf, ent0 + ent_sz * n)
    return tags, int(next_off)


def _first_ifd_offset(buf: bytes, bo: str) -> int:
    version = struct.unpack_from(bo + "H", buf, 2)[0]
    if version == 43:
        osize, zero = struct.unpack_from(bo + "HH", buf, 4)
        if osize != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        return struct.unpack_from(bo + "Q", buf, 8)[0]
    return struct.unpack_from(bo + "I", buf, 4)[0]


def _read_ifd(buf: bytes, bo: str, level: int = 0):
    """IFD `level` of the chain -> {tag: [values]}. Level 0 is the full-
    resolution image; levels 1+ are the reduced-resolution overviews a
    Cloud-Optimized GeoTIFF chains after it (GDAL `-co COPY_SRC_OVERVIEWS`
    / gdaladdo). BigTIFF (the public Adobe/AWare 2004 spec): 8-byte
    offsets, 8-byte entry counts, 20-byte entries, LONG8/SLONG8/IFD8."""
    off = _first_ifd_offset(buf, bo)
    for _ in range(level):
        _, off = _read_ifd_at(buf, bo, off)
        if off == 0:
            raise ValueError(f"TIFF has no IFD level {level}")
    tags, _ = _read_ifd_at(buf, bo, off)
    return tags


def tiff_levels(buf: bytes) -> list[tuple[int, int]]:
    """[(width, height)] per IFD in the chain — level 0 = full resolution,
    the rest are overviews (the COG pyramid). Header-only: no pixel data
    is touched."""
    buf = bytes(buf)
    bo = "<" if buf[:2] == b"II" else ">" if buf[:2] == b"MM" else None
    if bo is None:
        raise ValueError("not a TIFF")
    out = []
    off = _first_ifd_offset(buf, bo)
    while off:
        t, off = _read_ifd_at(buf, bo, off)
        out.append((int(t[TAG_WIDTH][0]), int(t[TAG_HEIGHT][0])))
    return out


# --------------------------------------------------------------- LZW (§13)
# TIFF-variant LZW: MSB-first bit packing, ClearCode=256, EOI=257, first
# dynamic entry 258, 12-bit max codes, and the TIFF "early change" rule —
# the encoder bumps the code width when its next code to be added would
# be (1 << width) - 1 (one code earlier than the GIF convention; what
# libtiff/GDAL emit). The decoder's table lags the encoder's by one entry
# (it learns each entry only from the following code), so it bumps when
# its table reaches (1 << width) - 2 entries: two sooner than GIF's
# 1 << width, the `early=2` of the shared decoder.
_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    """TIFF LZW decompressor (TIFF 6.0 §13, early-change variant). A
    stream that ends without EOI yields what it decoded."""
    return bytes(bitio.lzw_decode(data, 8, msb=True, early=2)[0])


def lzw_encode(data: bytes) -> bytes:
    """TIFF LZW compressor (mirror of lzw_decode; resets the table at the
    12-bit ceiling like libtiff)."""
    out = bytearray()
    acc = 0
    acc_bits = 0

    def put(code: int, nbits: int):
        nonlocal acc, acc_bits
        acc = (acc << nbits) | code
        acc_bits += nbits
        while acc_bits >= 8:
            out.append((acc >> (acc_bits - 8)) & 0xFF)
            acc_bits -= 8
        acc &= (1 << acc_bits) - 1

    def roots() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(256)}

    d = roots()
    next_code = 258
    nbits = 9

    def put_data(code: int):
        """Emit a data code and count the table entry it defines (the
        final code's entry too, as libtiff's LZWPostEncode does: the
        decoder adds it before it reads EOI, so EOI goes at the width
        that entry implies)."""
        nonlocal d, next_code, nbits
        put(code, nbits)
        next_code += 1
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        elif next_code == 4095:  # table full: clear and restart
            put(_LZW_CLEAR, nbits)
            d = roots()
            next_code = 258
            nbits = 9

    put(_LZW_CLEAR, nbits)
    omega = b""
    for b in data:
        k = omega + bytes([b])
        if k in d:
            omega = k
            continue
        code = d[omega]
        d[k] = next_code
        put_data(code)
        omega = bytes([b])
    if omega:
        put_data(d[omega])
    put(_LZW_EOI, nbits)
    if acc_bits:
        out.append((acc << (8 - acc_bits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------- PackBits (§9)
def packbits_decode(data: bytes) -> bytes:
    """Apple PackBits decompressor (TIFF 6.0 §9)."""
    out = bytearray()
    i = 0
    n_len = len(data)
    while i < n_len:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            out += data[i : i + 1] * (257 - n)
            i += 1
        # n == 128: no-op per spec
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """PackBits compressor: greedy runs >= 3 become replicate packets,
    everything else literal packets (the spec's recommended strategy)."""
    out = bytearray()
    i = 0
    n_len = len(data)
    while i < n_len:
        # find run length at i
        run = 1
        while i + run < n_len and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        # literal: extend until a run of >= 3 starts (or 128 bytes)
        j = i
        while j < n_len and j - i < 128:
            r = 1
            while j + r < n_len and r < 3 and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


# ------------------------------------- float predictor 3 (TechNote 3)
def _fp3_encode_rows(rows_bytes: np.ndarray, bps: int, stride: int) -> np.ndarray:
    """Forward floating-point horizontal differencing: per row, shuffle
    value bytes into big-endian byte planes (all MSBs first), then
    byte-wise horizontal differencing with `stride` = samples per pixel.
    rows_bytes: (n_rows, n_values*bps) uint8 of BIG-ENDIAN value bytes in
    value order; returns the on-disk byte layout."""
    n_rows, row_bytes = rows_bytes.shape
    n_vals = row_bytes // bps
    # value-order BE bytes -> planes: plane b holds byte b of every value
    planes = rows_bytes.reshape(n_rows, n_vals, bps).transpose(0, 2, 1).reshape(
        n_rows, row_bytes
    )
    diff = planes.astype(np.int16)
    diff[:, stride:] -= planes[:, :-stride].astype(np.int16)
    return (diff & 0xFF).astype(np.uint8)


def _fp3_decode_rows(raw: np.ndarray, bps: int, stride: int) -> np.ndarray:
    """Inverse of _fp3_encode_rows: byte cumsum (mod 256) with `stride`,
    then un-shuffle the byte planes back to value order (big-endian)."""
    n_rows, row_bytes = raw.shape
    acc = raw.copy()
    # cp[i] += cp[i-stride] sequentially == per-residue-class cumsum
    for s in range(stride):
        lane = acc[:, s::stride].astype(np.int64)
        acc[:, s::stride] = np.cumsum(lane, axis=1).astype(np.uint8)
    n_vals = row_bytes // bps
    return acc.reshape(n_rows, bps, n_vals).transpose(0, 2, 1).reshape(
        n_rows, row_bytes
    )


def _dtype_of(bits: int, fmt: int, bo: str) -> np.dtype:
    kind = {1: "u", 2: "i", 3: "f"}.get(fmt, "u")
    dt = np.dtype(f"{kind}{bits // 8}")
    return dt.newbyteorder("<" if bo == "<" else ">")


def _tiff_unpack(raw: bytes, comp: int) -> bytes:
    if comp in (8, 32946):
        return zlib.decompress(raw)
    if comp == 5:
        return lzw_decode(raw)
    if comp == 32773:
        return packbits_decode(raw)
    if comp == 1:
        return raw
    raise NotImplementedError(f"TIFF compression {comp} not supported")


def _jpeg_tiff_tables(t: dict):
    """Parsed JPEGTables state (tag 347) or None."""
    from gis_scripts_spark.raster import jpeg as jpeg_mod

    if TAG_JPEG_TABLES not in t:
        return None
    blob = t[TAG_JPEG_TABLES][0]
    if not isinstance(blob, (bytes, bytearray)):
        raise ValueError("malformed JPEGTables tag")
    return jpeg_mod.parse_tables(bytes(blob))


def _tiff_decode_jpeg(buf: bytes, t: dict) -> np.ndarray:
    """Compression-7 image assembly: every strip/tile is an independent
    baseline JPEG stream (decoded by the from-scratch raster/jpeg.py codec);
    3-component streams are YCbCr -> RGB per the TIFF photometric-YCbCr
    convention, 1-component streams are grayscale."""
    from gis_scripts_spark.raster import jpeg as jpeg_mod

    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    tables = _jpeg_tiff_tables(t)
    out = np.zeros((h, w, spp), np.uint8)
    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        tiles_x = (w + tw - 1) // tw
        for idx, (o, c) in enumerate(zip(t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS])):
            arr = jpeg_mod.jpeg_decode(buf[int(o) : int(o) + int(c)], tables=tables)
            ty, tx = divmod(idx, tiles_x)
            y0, x0 = ty * th, tx * tw
            hh, ww = min(th, h - y0), min(tw, w - x0)
            out[y0 : y0 + hh, x0 : x0 + ww] = arr[:hh, :ww, :spp]
        return out
    rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
    for s, (o, c) in enumerate(zip(t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS])):
        arr = jpeg_mod.jpeg_decode(buf[int(o) : int(o) + int(c)], tables=tables)
        y0 = s * rps
        hh = min(rps, h - y0)
        out[y0 : y0 + hh] = arr[:hh, :w, :spp]
    return out


def _tiff_decode_planar2(
    buf: bytes, t: dict, bo: str, dt: np.dtype, predictor: int, comp: int
) -> np.ndarray:
    """PlanarConfiguration=2 (band-separate) assembly: the strip/tile
    sequence holds all blocks of band 0, then band 1, ... (TIFF 6.0 §
    PlanarConfiguration). Each block carries ONE sample per pixel, so the
    predictor stride is 1. This is GDAL's INTERLEAVE=BAND layout."""
    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    ndt = dt.newbyteorder("=")
    out = np.zeros((h, w, spp), ndt)

    def undo(arr: np.ndarray) -> np.ndarray:
        # (n_rows, row_vals) single-sample rows; predictor stride 1
        if predictor == 2:
            return np.cumsum(arr.astype(np.int64), axis=1).astype(arr.dtype)
        return arr

    def rows_of(data: bytes, n_rows: int, row_vals: int) -> np.ndarray:
        if predictor == 3:
            bps = dt.itemsize
            raw = np.frombuffer(data, np.uint8, count=n_rows * row_vals * bps)
            be = _fp3_decode_rows(raw.reshape(n_rows, row_vals * bps), bps, 1)
            return np.frombuffer(be.tobytes(), np.dtype(f">f{bps}")).reshape(
                n_rows, row_vals
            ).astype(ndt)
        arr = np.frombuffer(data, dt, count=n_rows * row_vals).reshape(n_rows, row_vals)
        return undo(arr.astype(ndt))

    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        tpb = tiles_x * tiles_y
        offs, cnts = t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS]
        if len(offs) != tpb * spp:
            raise ValueError("planar-2 tile count mismatch")
        for band in range(spp):
            for ti in range(tpb):
                idx = band * tpb + ti
                data = _tiff_unpack(buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])], comp)
                arr = rows_of(data, th, tw)
                ty, tx = divmod(ti, tiles_x)
                y0, x0 = ty * th, tx * tw
                hh, ww = min(th, h - y0), min(tw, w - x0)
                out[y0 : y0 + hh, x0 : x0 + ww, band] = arr[:hh, :ww]
        return out
    rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
    spb = (h + rps - 1) // rps
    offs, cnts = t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]
    if len(offs) != spb * spp:
        raise ValueError("planar-2 strip count mismatch")
    for band in range(spp):
        for s in range(spb):
            idx = band * spb + s
            data = _tiff_unpack(buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])], comp)
            y0 = s * rps
            hh = min(rps, h - y0)
            out[y0 : y0 + hh, :, band] = rows_of(data, hh, w)
    return out


def tiff_decode(buf: bytes, level: int = 0) -> tuple[np.ndarray, dict]:
    """TIFF bytes -> ((h, w, bands) array in native byte order, meta dict
    with pixel_scale / tiepoint / nodata when present). `level` selects an
    IFD from the chain: 0 = full resolution, 1+ = COG overview pyramids
    (see tiff_levels)."""
    buf = bytes(buf)
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    if struct.unpack_from(bo + "H", buf, 2)[0] not in (42, 43):
        raise ValueError("not a TIFF (classic 42 / BigTIFF 43)")
    t = _read_ifd(buf, bo, level)
    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    bits = int(t.get(TAG_BITS, [8])[0])
    comp = int(t.get(TAG_COMPRESSION, [1])[0])
    fmt = int(t.get(TAG_SAMPLE_FORMAT, [1])[0])
    planar = int(t.get(TAG_PLANAR, [1])[0])
    if comp == 7:
        # new-style JPEG-in-TIFF (TIFF Technical Note 2): each strip/tile
        # is a complete (possibly abbreviated) baseline JPEG stream; shared
        # tables live in the JPEGTables tag (347)
        if planar != 1:
            raise NotImplementedError("JPEG-in-TIFF with planar config 2 not supported")
        return _tiff_decode_jpeg(buf, t), _geo_meta(t)
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {comp} not supported (none/lzw/deflate/packbits/jpeg)"
        )
    if planar not in (1, 2):
        raise ValueError(f"bad planar configuration {planar}")
    predictor = int(t.get(TAG_PREDICTOR, [1])[0])
    if predictor not in (1, 2, 3):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    dt = _dtype_of(bits, fmt, bo)
    if predictor == 3 and dt.kind != "f":
        raise ValueError("TIFF predictor 3 applies to floating-point samples only")
    if planar == 2:
        return _tiff_decode_planar2(buf, t, bo, dt, predictor, comp), _geo_meta(t)

    def undo_predictor(arr: np.ndarray) -> np.ndarray:
        """Undo horizontal differencing (predictor 2, TIFF 6.0 §14): each
        row stores per-sample deltas vs the previous column; the inverse is
        a modular cumsum along the width axis. Rows restart at each
        strip/tile's left edge, which both callers respect."""
        if predictor != 2:
            return arr
        acc = np.cumsum(arr.astype(np.int64), axis=1)
        return acc.astype(arr.dtype)  # wraps mod 2^bits, matching the delta encode

    def blocks(offsets, counts):
        for o, c in zip(offsets, counts):
            raw = buf[int(o) : int(o) + int(c)]
            if comp in (8, 32946):
                yield zlib.decompress(raw)
            elif comp == 5:
                yield lzw_decode(raw)
            elif comp == 32773:
                yield packbits_decode(raw)
            else:
                yield raw

    def undo_fp3(data: bytes, n_rows: int, row_vals: int) -> np.ndarray:
        """Predictor-3 block bytes -> (n_rows, row_vals) native-float rows."""
        bps = dt.itemsize
        raw = np.frombuffer(data, np.uint8, count=n_rows * row_vals * bps)
        be = _fp3_decode_rows(raw.reshape(n_rows, row_vals * bps), bps, spp)
        return np.frombuffer(be.tobytes(), np.dtype(f">f{bps}")).reshape(
            n_rows, row_vals
        ).astype(dt.newbyteorder("="))

    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        out = np.zeros((h, w, spp), dt.newbyteorder("="))
        tiles_x = (w + tw - 1) // tw
        for idx, data in enumerate(blocks(t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS])):
            ty, tx = divmod(idx, tiles_x)
            if predictor == 3:
                arr = undo_fp3(data, th, tw * spp).reshape(th, tw, spp)
            else:
                arr = np.frombuffer(data, dt, count=tw * th * spp).reshape(th, tw, spp)
                arr = undo_predictor(arr.astype(dt.newbyteorder("=")))
            y0, x0 = ty * th, tx * tw
            hh, ww = min(th, h - y0), min(tw, w - x0)
            out[y0 : y0 + hh, x0 : x0 + ww] = arr[:hh, :ww]
        return out, _geo_meta(t)
    rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
    _ = rps
    if predictor == 3:
        # strips are full-width rows, so the per-row byte shuffle +
        # differencing can run over the whole concatenated image at once
        data = b"".join(blocks(t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]))
        img = undo_fp3(data, h, w * spp).reshape(h, w, spp)
        return img, _geo_meta(t)
    parts = []
    for data in blocks(t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]):
        parts.append(np.frombuffer(data, dt))
    flat = np.concatenate(parts)[: h * w * spp]
    img = flat.reshape(h, w, spp).astype(dt.newbyteorder("="))
    # strips are full-width rows, so per-row differencing never crosses a
    # strip boundary — the whole-image cumsum is exact
    return undo_predictor(img), _geo_meta(t)


def _tiff_window_jpeg(
    buf: bytes, t: dict, x0: int, y0: int, win_w: int, win_h: int,
    _stats: dict | None,
) -> np.ndarray:
    """Windowed compression-7 decode: only the JPEG strips/tiles that
    intersect the window are entropy-decoded (a strip/tile is the access
    unit — JPEG streams have no row-level random access)."""
    from gis_scripts_spark.raster import jpeg as jpeg_mod

    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    tables = _jpeg_tiff_tables(t)
    out = np.zeros((win_h, win_w, spp), np.uint8)
    decoded = 0
    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        tiles_x = (w + tw - 1) // tw
        offs, cnts = t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS]
        for ty in range(y0 // th, (y0 + win_h - 1) // th + 1):
            for tx in range(x0 // tw, (x0 + win_w - 1) // tw + 1):
                idx = ty * tiles_x + tx
                arr = jpeg_mod.jpeg_decode(
                    buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])], tables=tables
                )
                decoded += 1
                gy0, gx0 = ty * th, tx * tw
                sy0, sy1 = max(y0, gy0) - gy0, min(y0 + win_h, gy0 + th) - gy0
                sx0, sx1 = max(x0, gx0) - gx0, min(x0 + win_w, gx0 + tw) - gx0
                out[
                    gy0 + sy0 - y0 : gy0 + sy1 - y0, gx0 + sx0 - x0 : gx0 + sx1 - x0
                ] = arr[sy0:sy1, sx0:sx1, :spp]
        total = len(offs)
    else:
        rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
        offs, cnts = t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]
        for s in range(y0 // rps, (y0 + win_h - 1) // rps + 1):
            arr = jpeg_mod.jpeg_decode(
                buf[int(offs[s]) : int(offs[s]) + int(cnts[s])], tables=tables
            )
            decoded += 1
            gy0 = s * rps
            n_rows = min(rps, h - gy0)
            sy0, sy1 = max(y0, gy0) - gy0, min(y0 + win_h, gy0 + n_rows) - gy0
            out[gy0 + sy0 - y0 : gy0 + sy1 - y0, :] = arr[sy0:sy1, x0 : x0 + win_w, :spp]
        total = len(offs)
    if _stats is not None:
        _stats["blocks_decoded"] = decoded
        _stats["blocks_total"] = int(total)
    return out


def _tiff_window_planar2(
    buf: bytes, t: dict, bo: str, dt: np.dtype, predictor: int, comp: int,
    x0: int, y0: int, win_w: int, win_h: int, _stats: dict | None,
) -> np.ndarray:
    """Windowed planar-2 decode: per band, only the intersecting blocks
    (at offset band*blocks_per_band) are decompressed."""
    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    ndt = dt.newbyteorder("=")
    out = np.zeros((win_h, win_w, spp), ndt)
    decoded = 0

    def rows_of(data: bytes, n_rows: int, row_vals: int) -> np.ndarray:
        if predictor == 3:
            bps = dt.itemsize
            raw = np.frombuffer(data, np.uint8, count=n_rows * row_vals * bps)
            be = _fp3_decode_rows(raw.reshape(n_rows, row_vals * bps), bps, 1)
            return np.frombuffer(be.tobytes(), np.dtype(f">f{bps}")).reshape(
                n_rows, row_vals
            ).astype(ndt)
        arr = np.frombuffer(data, dt, count=n_rows * row_vals).reshape(n_rows, row_vals)
        arr = arr.astype(ndt)
        if predictor == 2:
            arr = np.cumsum(arr.astype(np.int64), axis=1).astype(arr.dtype)
        return arr

    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        tpb = tiles_x * tiles_y
        offs, cnts = t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS]
        for band in range(spp):
            for ty in range(y0 // th, (y0 + win_h - 1) // th + 1):
                for tx in range(x0 // tw, (x0 + win_w - 1) // tw + 1):
                    idx = band * tpb + ty * tiles_x + tx
                    data = _tiff_unpack(
                        buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])], comp
                    )
                    decoded += 1
                    arr = rows_of(data, th, tw)
                    gy0, gx0 = ty * th, tx * tw
                    sy0, sy1 = max(y0, gy0) - gy0, min(y0 + win_h, gy0 + th) - gy0
                    sx0, sx1 = max(x0, gx0) - gx0, min(x0 + win_w, gx0 + tw) - gx0
                    out[
                        gy0 + sy0 - y0 : gy0 + sy1 - y0,
                        gx0 + sx0 - x0 : gx0 + sx1 - x0,
                        band,
                    ] = arr[sy0:sy1, sx0:sx1]
        total = len(offs)
    else:
        rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
        spb = (h + rps - 1) // rps
        offs, cnts = t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]
        for band in range(spp):
            for s in range(y0 // rps, (y0 + win_h - 1) // rps + 1):
                idx = band * spb + s
                data = _tiff_unpack(
                    buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])], comp
                )
                decoded += 1
                gy0 = s * rps
                n_rows = min(rps, h - gy0)
                arr = rows_of(data, n_rows, w)
                sy0, sy1 = max(y0, gy0) - gy0, min(y0 + win_h, gy0 + n_rows) - gy0
                out[gy0 + sy0 - y0 : gy0 + sy1 - y0, :, band] = arr[
                    sy0:sy1, x0 : x0 + win_w
                ]
        total = len(offs)
    if _stats is not None:
        _stats["blocks_decoded"] = decoded
        _stats["blocks_total"] = int(total)
    return out


def tiff_decode_window(
    buf: bytes,
    x0: int,
    y0: int,
    win_w: int,
    win_h: int,
    level: int = 0,
    _stats: dict | None = None,
) -> tuple[np.ndarray, dict]:
    """COG-style WINDOWED decode: return only pixels [y0:y0+win_h,
    x0:x0+win_w], decompressing ONLY the strips/tiles that intersect the
    window. This is the access pattern that makes Cloud-Optimized GeoTIFF
    work at scale — cropping 256 px out of a multi-GB raster must not
    decode (or even touch) the other 99.99% of blocks. Handles every
    layout the full decoder does (classic + BigTIFF, strips + tiles,
    none/LZW/DEFLATE/PackBits, predictor 1/2/3) — predictors are
    row-local within a block, so partial decode stays exact.

    `_stats`, if given, records {"blocks_decoded", "blocks_total"} so
    callers/tests can assert the bounded-work property.
    """
    buf = bytes(buf)
    bo = "<" if buf[:2] == b"II" else ">" if buf[:2] == b"MM" else None
    if bo is None:
        raise ValueError("not a TIFF")
    t = _read_ifd(buf, bo, level)
    w = int(t[TAG_WIDTH][0])
    h = int(t[TAG_HEIGHT][0])
    spp = int(t.get(TAG_SAMPLES_PER_PIXEL, [1])[0])
    bits = int(t.get(TAG_BITS, [8])[0])
    comp = int(t.get(TAG_COMPRESSION, [1])[0])
    fmt = int(t.get(TAG_SAMPLE_FORMAT, [1])[0])
    planar = int(t.get(TAG_PLANAR, [1])[0])
    predictor = int(t.get(TAG_PREDICTOR, [1])[0])
    dt = _dtype_of(bits, fmt, bo)
    if not (0 <= x0 and 0 <= y0 and x0 + win_w <= w and y0 + win_h <= h):
        raise ValueError(f"window [{x0}:{x0+win_w}) x [{y0}:{y0+win_h}) outside {w}x{h}")
    if comp == 7:
        if planar != 1:
            raise NotImplementedError("JPEG-in-TIFF with planar config 2 not supported")
        return _tiff_window_jpeg(buf, t, x0, y0, win_w, win_h, _stats), _geo_meta(t)
    if planar == 2:
        return (
            _tiff_window_planar2(buf, t, bo, dt, predictor, comp, x0, y0, win_w, win_h, _stats),
            _geo_meta(t),
        )
    if planar != 1:
        raise ValueError(f"bad planar configuration {planar}")

    def unpack(raw: bytes) -> bytes:
        if comp in (8, 32946):
            return zlib.decompress(raw)
        if comp == 5:
            return lzw_decode(raw)
        if comp == 32773:
            return packbits_decode(raw)
        if comp == 1:
            return raw
        raise NotImplementedError(f"TIFF compression {comp} not supported")

    def block_rows(data: bytes, n_rows: int, row_vals: int) -> np.ndarray:
        """One decompressed block -> (n_rows, row_vals) native values with
        the predictor undone (predictors reset at each block's left edge)."""
        if predictor == 3:
            bps = dt.itemsize
            raw = np.frombuffer(data, np.uint8, count=n_rows * row_vals * bps)
            be = _fp3_decode_rows(raw.reshape(n_rows, row_vals * bps), bps, spp)
            return np.frombuffer(be.tobytes(), np.dtype(f">f{bps}")).reshape(
                n_rows, row_vals
            ).astype(dt.newbyteorder("="))
        arr = np.frombuffer(data, dt, count=n_rows * row_vals).reshape(n_rows, row_vals)
        arr = arr.astype(dt.newbyteorder("="))
        if predictor == 2:
            samples = arr.reshape(n_rows, row_vals // spp, spp)
            samples = np.cumsum(samples.astype(np.int64), axis=1).astype(arr.dtype)
            arr = samples.reshape(n_rows, row_vals)
        return arr

    out = np.zeros((win_h, win_w, spp), dt.newbyteorder("="))
    decoded = 0
    if TAG_TILE_OFFSETS in t:
        tw = int(t[TAG_TILE_WIDTH][0])
        th = int(t[TAG_TILE_LENGTH][0])
        tiles_x = (w + tw - 1) // tw
        offs, cnts = t[TAG_TILE_OFFSETS], t[TAG_TILE_COUNTS]
        tx0, tx1 = x0 // tw, (x0 + win_w - 1) // tw
        ty0, ty1 = y0 // th, (y0 + win_h - 1) // th
        for ty in range(ty0, ty1 + 1):
            for tx in range(tx0, tx1 + 1):
                idx = ty * tiles_x + tx
                data = unpack(buf[int(offs[idx]) : int(offs[idx]) + int(cnts[idx])])
                decoded += 1
                arr = block_rows(data, th, tw * spp).reshape(th, tw, spp)
                gy0, gx0 = ty * th, tx * tw  # tile origin in image coords
                sy0 = max(y0, gy0) - gy0
                sy1 = min(y0 + win_h, gy0 + th) - gy0
                sx0 = max(x0, gx0) - gx0
                sx1 = min(x0 + win_w, gx0 + tw) - gx0
                out[
                    gy0 + sy0 - y0 : gy0 + sy1 - y0, gx0 + sx0 - x0 : gx0 + sx1 - x0
                ] = arr[sy0:sy1, sx0:sx1]
        total = len(offs)
    else:
        rps = int(t.get(TAG_ROWS_PER_STRIP, [h])[0])
        offs, cnts = t[TAG_STRIP_OFFSETS], t[TAG_STRIP_COUNTS]
        s0, s1 = y0 // rps, (y0 + win_h - 1) // rps
        for s in range(s0, s1 + 1):
            data = unpack(buf[int(offs[s]) : int(offs[s]) + int(cnts[s])])
            decoded += 1
            n_rows = min(rps, h - s * rps)
            arr = block_rows(data, n_rows, w * spp).reshape(n_rows, w, spp)
            gy0 = s * rps
            sy0 = max(y0, gy0) - gy0
            sy1 = min(y0 + win_h, gy0 + n_rows) - gy0
            out[gy0 + sy0 - y0 : gy0 + sy1 - y0, :] = arr[sy0:sy1, x0 : x0 + win_w]
        total = len(offs)
    if _stats is not None:
        _stats["blocks_decoded"] = decoded
        _stats["blocks_total"] = int(total)
    return out, _geo_meta(t)


def _geo_meta(t: dict) -> dict:
    meta: dict = {}
    if TAG_MODEL_PIXEL_SCALE in t:
        meta["pixel_scale"] = tuple(float(v) for v in t[TAG_MODEL_PIXEL_SCALE][:3])
    if TAG_MODEL_TIEPOINT in t:
        meta["tiepoint"] = tuple(float(v) for v in t[TAG_MODEL_TIEPOINT][:6])
    if TAG_GDAL_NODATA in t:
        try:
            meta["nodata"] = float(str(t[TAG_GDAL_NODATA][0]).strip())
        except ValueError:
            pass
    return meta


_COMP_CODES = {True: 8, "deflate": 8, "lzw": 5, "packbits": 32773, False: 1, "none": 1,
               "jpeg": 7}


def tiff_encode(
    img: np.ndarray,
    compress: bool | str = True,
    pixel_scale: tuple | None = None,
    tiepoint: tuple | None = None,
    nodata: float | None = None,
    predictor: int = 1,
    bigtiff: bool = False,
    planar: int = 1,
    jpeg_quality: int = 92,
) -> bytes:
    """(h, w[, bands]) uint8/16/32, int8/16/32, float32/64 -> little-endian
    classic TIFF (chunky, one strip per 64 rows). `compress`: True/'deflate',
    'lzw', 'packbits', or False/'none'. predictor=2 writes horizontal
    differencing (integer dtypes only); predictor=3 writes floating-point
    byte-shuffle differencing (float dtypes only) — the layouts GDAL
    commonly emits with DEFLATE/LZW. `bigtiff=True` writes the BigTIFF
    (version 43) layout — 8-byte offsets/counts, 20-byte IFD entries,
    LONG8 strip offsets — what GDAL produces for >4 GB rasters.
    `planar=2` writes band-separate strips (GDAL INTERLEAVE=BAND): all
    strips of band 0, then band 1, ... `compress='jpeg'` writes new-style
    JPEG-in-TIFF (compression 7): each strip an abbreviated baseline JPEG
    stream with shared tables in the JPEGTables tag (uint8, 1/3 bands,
    chunky, no predictor)."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, spp = img.shape
    dt = img.dtype
    if dt.kind not in "uif":
        raise ValueError(f"unsupported dtype {dt}")
    if compress not in _COMP_CODES:
        raise ValueError(f"compress must be one of {sorted(map(str, _COMP_CODES))}")
    comp_code = _COMP_CODES[compress]
    if predictor not in (1, 2, 3):
        raise ValueError("predictor must be 1 (none), 2 (horizontal) or 3 (float)")
    if predictor == 2 and dt.kind == "f":
        raise ValueError("predictor 2 applies to integer samples only")
    if predictor == 3 and dt.kind != "f":
        raise ValueError("predictor 3 applies to floating-point samples only")
    if planar not in (1, 2):
        raise ValueError("planar must be 1 (chunky) or 2 (band-separate)")
    if comp_code == 7:
        if dt != np.dtype(np.uint8):
            raise ValueError("JPEG-in-TIFF requires uint8 samples")
        if spp not in (1, 3):
            raise ValueError("JPEG-in-TIFF requires 1 or 3 bands")
        if predictor != 1 or planar != 1:
            raise ValueError("JPEG-in-TIFF supports no predictor, chunky only")
    fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    bits = dt.itemsize * 8
    if predictor == 2:
        d = img.astype(np.int64)
        d[:, 1:] -= img[:, :-1].astype(np.int64)
        img = d.astype(dt)  # wraps mod 2^bits; decode cumsum inverts exactly
    le = img.astype(dt.newbyteorder("<"))

    def pack(raw: bytes) -> bytes:
        if comp_code == 8:
            return zlib.compress(raw, 6)
        if comp_code == 5:
            return lzw_encode(raw)
        if comp_code == 32773:
            return packbits_encode(raw)
        return raw

    rps = min(64, h)
    strips = []
    jpeg_tables_blob = None
    if comp_code == 7:
        from gis_scripts_spark.raster import jpeg as jpeg_mod

        jpeg_tables_blob = jpeg_mod.jpeg_tables_stream(
            quality=jpeg_quality, gray=(spp == 1)
        )
        src = img[:, :, 0] if spp == 1 else img
        for y0 in range(0, h, rps):
            strips.append(
                jpeg_mod.jpeg_encode(
                    np.ascontiguousarray(src[y0 : y0 + rps]),
                    quality=jpeg_quality, subsampling="4:4:4", abbreviated=True,
                )
            )
    elif planar == 2:
        # band-separate: all strips of band 0, then band 1, ... Each plane
        # block has ONE sample per pixel -> predictor stride 1 (predictor-2
        # deltas are identical to the chunky per-band deltas already in le)
        for band in range(spp):
            for y0 in range(0, h, rps):
                block = np.ascontiguousarray(le[y0 : y0 + rps, :, band])
                if predictor == 3:
                    be = block.astype(dt.newbyteorder(">"))
                    rows = np.frombuffer(be.tobytes(), np.uint8).reshape(
                        block.shape[0], w * dt.itemsize
                    )
                    raw = _fp3_encode_rows(rows, dt.itemsize, 1).tobytes()
                else:
                    raw = block.tobytes()
                strips.append(pack(raw))
    else:
        for y0 in range(0, h, rps):
            block = np.ascontiguousarray(le[y0 : y0 + rps])
            if predictor == 3:
                be = block.astype(dt.newbyteorder(">"))
                rows = np.frombuffer(be.tobytes(), np.uint8).reshape(
                    block.shape[0], w * spp * dt.itemsize
                )
                raw = _fp3_encode_rows(rows, dt.itemsize, spp).tobytes()
            else:
                raw = block.tobytes()
            strips.append(pack(raw))

    entries: list[tuple[int, int, int, object]] = [
        (TAG_WIDTH, 4, 1, w),
        (TAG_HEIGHT, 4, 1, h),
        (TAG_BITS, 3, spp, [bits] * spp),
        (TAG_COMPRESSION, 3, 1, comp_code),
        (TAG_PHOTOMETRIC, 3, 1, 1),
        (TAG_SAMPLES_PER_PIXEL, 3, 1, spp),
        (TAG_ROWS_PER_STRIP, 4, 1, rps),
        (TAG_PLANAR, 3, 1, planar),
        (TAG_SAMPLE_FORMAT, 3, spp, [fmt] * spp),
    ]
    if predictor in (2, 3):
        entries.append((TAG_PREDICTOR, 3, 1, predictor))
    if jpeg_tables_blob is not None:
        entries.append((TAG_JPEG_TABLES, 7, len(jpeg_tables_blob), jpeg_tables_blob))
    if pixel_scale is not None:
        entries.append((TAG_MODEL_PIXEL_SCALE, 12, 3, list(pixel_scale)[:3]))
    if tiepoint is not None:
        entries.append((TAG_MODEL_TIEPOINT, 12, 6, list(tiepoint)[:6]))
    if nodata is not None:
        nd = (repr(float(nodata)) + "\0").encode()
        entries.append((TAG_GDAL_NODATA, 2, len(nd), nd))
    n_strips = len(strips)
    # strip offsets: LONG8 in BigTIFF (the whole point: >4 GB offsets),
    # LONG in classic
    off_typ = 16 if bigtiff else 4
    entries.append((TAG_STRIP_OFFSETS, off_typ, n_strips, "STRIP_OFFSETS"))
    entries.append((TAG_STRIP_COUNTS, off_typ, n_strips, [len(s) for s in strips]))
    entries.sort(key=lambda e: e[0])

    # layout geometry: classic = 8-byte header, 12-byte entries, 4-byte
    # inline values / counts / next-pointer; BigTIFF = 16-byte header,
    # 20-byte entries, all of those 8 bytes
    if bigtiff:
        ifd_off, ent_sz, inline, cnt_sz = 16, 20, 8, 8
        off_pack = "Q"
    else:
        ifd_off, ent_sz, inline, cnt_sz = 8, 12, 4, 2
        off_pack = "I"
    ifd_size = cnt_sz + ent_sz * len(entries) + inline
    overflow_off = ifd_off + ifd_size
    overflow = bytearray()

    def value_bytes(typ, cnt, val):
        if typ in (2, 7):  # ascii / undefined: raw bytes
            return bytes(val)
        if typ == 12:
            return struct.pack("<" + str(cnt) + "d", *val)
        fmtc = _TYPE_FMT[typ]
        vals = val if isinstance(val, (list, tuple)) else [val]
        return struct.pack("<" + str(cnt) + fmtc, *vals)

    # strip offsets resolved after overflow size is known: two passes
    packed_entries = []
    for tag, typ, cnt, val in entries:
        if val == "STRIP_OFFSETS":
            vb = b"\0" * (_TYPE_SIZES[typ] * n_strips)
        else:
            vb = value_bytes(typ, cnt, val)
        if len(vb) <= inline:
            packed_entries.append((tag, typ, cnt, vb.ljust(inline, b"\0"), None))
        else:
            packed_entries.append((tag, typ, cnt, None, len(overflow)))
            overflow += vb
    data_off = overflow_off + len(overflow)
    # actual strip offsets
    offs = []
    pos = data_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    strip_off_bytes = struct.pack(
        "<" + str(n_strips) + ("Q" if off_typ == 16 else "I"), *offs
    )
    # patch: rebuild overflow with real strip offsets
    out_entries = []
    overflow2 = bytearray()
    for (tag, typ, cnt, inl, ov_pos), (otag, otyp, ocnt, oval) in zip(packed_entries, entries):
        if oval == "STRIP_OFFSETS":
            vb = strip_off_bytes
        elif inl is not None:
            out_entries.append((tag, typ, cnt, inl))
            continue
        else:
            vb = value_bytes(otyp, ocnt, oval)
        if len(vb) <= inline:
            out_entries.append((tag, typ, cnt, vb.ljust(inline, b"\0")))
        else:
            out_entries.append(
                (tag, typ, cnt, struct.pack("<" + off_pack, overflow_off + len(overflow2)))
            )
            overflow2 += vb
    assert len(overflow2) == len(overflow)

    if bigtiff:
        head = b"II" + struct.pack("<HHHQ", 43, 8, 0, ifd_off)
        ifd = struct.pack("<Q", len(out_entries))
        for tag, typ, cnt, inl in out_entries:
            ifd += struct.pack("<HHQ", tag, typ, cnt) + inl
        ifd += struct.pack("<Q", 0)
    else:
        head = b"II" + struct.pack("<HI", 42, ifd_off)
        ifd = struct.pack("<H", len(out_entries))
        for tag, typ, cnt, inl in out_entries:
            ifd += struct.pack("<HHI", tag, typ, cnt) + inl
        ifd += struct.pack("<I", 0)
    return head + ifd + bytes(overflow2) + b"".join(strips)


TAG_NEW_SUBFILE_TYPE = 254  # bit 0 = reduced-resolution (overview) image


def _halve_average(img: np.ndarray) -> np.ndarray:
    """One 2x overview step, GDAL-'average' style: each output pixel is
    the mean of its up-to-2x2 source block (edge blocks average only the
    pixels that exist). Integer dtypes round-half-away like GDAL; floats
    stay exact."""
    h, w, s = img.shape
    H, W = (h + 1) // 2, (w + 1) // 2
    acc = np.zeros((H, W, s), np.float64)
    cnt = np.zeros((H, W, 1), np.float64)
    for dy in (0, 1):
        for dx in (0, 1):
            sub = img[dy::2, dx::2]
            acc[: sub.shape[0], : sub.shape[1]] += sub
            cnt[: sub.shape[0], : sub.shape[1]] += 1.0
    out = acc / cnt
    if img.dtype.kind in "ui":
        return np.floor(out + 0.5).astype(img.dtype)
    return out.astype(img.dtype)


def cog_encode(
    img: np.ndarray,
    tile: int = 256,
    compress: bool | str = True,
    predictor: int = 1,
    pixel_scale: tuple | None = None,
    tiepoint: tuple | None = None,
    nodata: float | None = None,
) -> bytes:
    """Cloud-Optimized GeoTIFF writer: TILED layout (tags 322-325, edge
    tiles zero-padded to the full tile per TIFF 6.0 §15), an overview
    pyramid of 2x 'average'-resampled reduced-resolution IFDs
    (NewSubfileType=1) chained until the level fits one tile, and the COG
    byte layout — the whole IFD chain at the head of the file, tile data
    after it with the SMALLEST overview first — so a range-reader gets
    every header in one initial fetch and previews from the shallowest
    bytes. Per-level ModelPixelScale doubles; the tiepoint (origin) is
    shared. Readable by this module's own tiff_decode(level=...) /
    tiff_decode_window / tiff_levels (and by the standard tag set, any
    TIFF reader). Compression: deflate/lzw/packbits/none; predictor 2
    (integer) / 3 (float byte-shuffle) as in tiff_encode.

    Scale note: at 10^12-image scale the engine stores imagery as rows in
    parquet/snaptable tables; cog_encode is the EXPORT path (mosaic/warp
    results leaving the engine for GDAL-ecosystem consumers), run
    per-output-raster inside mapInPandas — one image per call, no driver
    bytes."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, spp = img.shape
    dt = img.dtype
    if dt.kind not in "uif":
        raise ValueError(f"unsupported dtype {dt}")
    if compress not in _COMP_CODES or _COMP_CODES[compress] == 7:
        raise ValueError("cog_encode supports deflate/lzw/packbits/none")
    comp_code = _COMP_CODES[compress]
    if predictor not in (1, 2, 3):
        raise ValueError("predictor must be 1, 2 or 3")
    if predictor == 2 and dt.kind == "f":
        raise ValueError("predictor 2 applies to integer samples only")
    if predictor == 3 and dt.kind != "f":
        raise ValueError("predictor 3 applies to floating-point samples only")
    if tile % 16 != 0:
        raise ValueError("TIFF tile dimensions must be multiples of 16")
    fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    bits = dt.itemsize * 8

    # ----- pyramid: level 0 full res, halve until it fits in one tile
    levels = [img]
    while max(levels[-1].shape[0], levels[-1].shape[1]) > tile:
        levels.append(_halve_average(levels[-1]))

    def pack(raw: bytes) -> bytes:
        if comp_code == 8:
            return zlib.compress(raw, 6)
        if comp_code == 5:
            return lzw_encode(raw)
        if comp_code == 32773:
            return packbits_encode(raw)
        return raw

    def tiles_of(lv: np.ndarray) -> list[bytes]:
        lh, lw, _ = lv.shape
        le = lv.astype(dt.newbyteorder("<"))
        out = []
        for y0 in range(0, lh, tile):
            for x0 in range(0, lw, tile):
                blk = np.zeros((tile, tile, spp), le.dtype)
                sub = le[y0 : y0 + tile, x0 : x0 + tile]
                blk[: sub.shape[0], : sub.shape[1]] = sub
                if predictor == 2:
                    d = blk.astype(np.int64)
                    d[:, 1:] -= blk[:, :-1].astype(np.int64)
                    raw = d.astype(le.dtype).tobytes()
                elif predictor == 3:
                    be = blk.astype(dt.newbyteorder(">"))
                    rows = np.frombuffer(be.tobytes(), np.uint8).reshape(
                        tile, tile * spp * dt.itemsize
                    )
                    raw = _fp3_encode_rows(rows, dt.itemsize, spp).tobytes()
                else:
                    raw = blk.tobytes()
                out.append(pack(raw))
        return out

    level_tiles = [tiles_of(lv) for lv in levels]

    def entries_for(li: int) -> list[tuple[int, int, int, object]]:
        lv = levels[li]
        lh, lw, _ = lv.shape
        n = len(level_tiles[li])
        ents: list[tuple[int, int, int, object]] = [
            (TAG_WIDTH, 4, 1, lw),
            (TAG_HEIGHT, 4, 1, lh),
            (TAG_BITS, 3, spp, [bits] * spp),
            (TAG_COMPRESSION, 3, 1, comp_code),
            (TAG_PHOTOMETRIC, 3, 1, 1),
            (TAG_SAMPLES_PER_PIXEL, 3, 1, spp),
            (TAG_PLANAR, 3, 1, 1),
            (TAG_SAMPLE_FORMAT, 3, spp, [fmt] * spp),
            (TAG_TILE_WIDTH, 3, 1, tile),
            (TAG_TILE_LENGTH, 3, 1, tile),
            (TAG_TILE_OFFSETS, 4, n, f"TILE_OFFSETS:{li}"),
            (TAG_TILE_COUNTS, 4, n, [len(b) for b in level_tiles[li]]),
        ]
        if li > 0:
            ents.append((TAG_NEW_SUBFILE_TYPE, 4, 1, 1))
        if predictor in (2, 3):
            ents.append((TAG_PREDICTOR, 3, 1, predictor))
        if pixel_scale is not None:
            sx, sy, *rest = list(pixel_scale)[:3] + [0.0] * (3 - len(pixel_scale[:3]))
            ents.append(
                (TAG_MODEL_PIXEL_SCALE, 12, 3,
                 [sx * (1 << li), sy * (1 << li), rest[0] if rest else 0.0])
            )
        if tiepoint is not None:
            ents.append((TAG_MODEL_TIEPOINT, 12, 6, list(tiepoint)[:6]))
        if nodata is not None:
            nd = (repr(float(nodata)) + "\0").encode()
            ents.append((TAG_GDAL_NODATA, 2, len(nd), nd))
        ents.sort(key=lambda e: e[0])
        return ents

    def value_bytes(typ, cnt, val):
        if typ in (2, 7):
            return bytes(val)
        fmtc = {3: "H", 4: "I", 12: "d"}[typ]
        vals = val if isinstance(val, (list, tuple)) else [val]
        return struct.pack("<" + str(cnt) + fmtc, *vals)

    # ----- layout: header | IFD chain | overflow | tiles (smallest level
    # first — the COG preview-friendly ordering)
    all_entries = [entries_for(li) for li in range(len(levels))]
    ifd_sizes = [2 + 12 * len(e) + 4 for e in all_entries]
    ifd_offs = [8]
    for sz in ifd_sizes[:-1]:
        ifd_offs.append(ifd_offs[-1] + sz)
    overflow_off = ifd_offs[-1] + ifd_sizes[-1]

    # overflow pass 1: size every >4-byte value (tile offsets are
    # placeholders of known size, so one pass suffices for offsets)
    overflow = bytearray()
    ov_pos: dict[tuple[int, int], int] = {}
    for li, ents in enumerate(all_entries):
        for tag, typ, cnt, val in ents:
            size = {2: 1, 7: 1, 3: 2, 4: 4, 12: 8}[typ] * cnt
            if size <= 4:
                continue
            ov_pos[(li, tag)] = overflow_off + len(overflow)
            overflow += b"\0" * size

    # tile data region: smallest overview first, level 0 last
    data_start = overflow_off + len(overflow)
    tile_offs: list[list[int]] = [[] for _ in levels]
    pos = data_start
    for li in range(len(levels) - 1, -1, -1):
        for b in level_tiles[li]:
            tile_offs[li].append(pos)
            pos += len(b)

    # overflow pass 2: write real values (tile offsets now known)
    for li, ents in enumerate(all_entries):
        for tag, typ, cnt, val in ents:
            key = (li, tag)
            if key not in ov_pos:
                continue
            if isinstance(val, str) and val.startswith("TILE_OFFSETS"):
                vb = value_bytes(typ, cnt, tile_offs[li])
            else:
                vb = value_bytes(typ, cnt, val)
            o = ov_pos[key] - overflow_off
            overflow[o : o + len(vb)] = vb

    out = bytearray(b"II" + struct.pack("<HI", 42, 8))
    for li, ents in enumerate(all_entries):
        ifd = struct.pack("<H", len(ents))
        for tag, typ, cnt, val in ents:
            key = (li, tag)
            if key in ov_pos:
                four = struct.pack("<I", ov_pos[key])
            else:
                if isinstance(val, str) and val.startswith("TILE_OFFSETS"):
                    val = tile_offs[li]
                    if cnt == 1:
                        val = val[0]
                vb = value_bytes(typ, cnt, val)
                four = vb.ljust(4, b"\0")
            ifd += struct.pack("<HHI", tag, typ, cnt) + four
        nxt = ifd_offs[li + 1] if li + 1 < len(levels) else 0
        out += ifd + struct.pack("<I", nxt)
    assert len(out) == overflow_off
    out += overflow
    for li in range(len(levels) - 1, -1, -1):
        for b in level_tiles[li]:
            out += b
    return bytes(out)
