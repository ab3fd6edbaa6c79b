"""FLAC lossless audio codec — from-scratch decoder and encoder (the
public xiph.org FLAC format specification / RFC 9639; no codec library).

The reference pipeline has no audio surface; this extends the engine's
multimodal layer the same way MP4 extended video: web-crawl audio that is
not lossy-compressed is overwhelmingly WAV or FLAC, so the honest
in-sandbox boundary moves from "WAV only" to "lossless audio in general"
— NotImplementedError now starts at actual perceptual codecs (mp3/aac/ogg
bitstreams).

Decoder scope (full subset for PCM <= 24 bit):
- STREAMINFO + metadata-block walk (all other block types skipped)
- frame header: fixed and variable blocking strategies, all block-size /
  sample-rate / sample-size codes, UTF-8-coded frame/sample number, CRC-8
- subframes: CONSTANT, VERBATIM, FIXED (orders 0-4), LPC (any order),
  wasted-bits, RICE and RICE2 residual partitions incl. the raw-bits
  escape
- stereo decorrelation: left/side, right/side, mid/side
- frame CRC-16 verified; corruption raises loudly

Encoder scope (for self-checking roundtrips, like avi/mp4/laz): 16-bit
PCM, independent channels, FIXED order-2 prediction with per-partition
best rice parameter, fixed 4096-sample blocks. Lossless by construction —
roundtrips must be BIT-EXACT, which is what the pytest gates assert.

Bits are read through `bitio.BitReader` (the MSB reader JPEG's entropy
decoder shares); the writer below is FLAC's own.

Spark shape: one FLAC clip is one binary cell; decode runs inside the
same Arrow mapInPandas stages as WAV (operators/multimodal.audio_decode
dispatches on the 'fLaC' magic).
"""

from __future__ import annotations

import struct

import numpy as np

from .bitio import BitReader

_SYNC = 0b11111111111110

_BLOCKSIZE_CODE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                   8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                   13: 8192, 14: 16384, 15: 32768}
_RATE_CODE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
              7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_BPS_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
_BPS_TO_CODE = {v: k for k, v in _BPS_CODE.items()}

_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def is_flac(buf: bytes) -> bool:
    return len(buf) >= 4 and bytes(buf[:4]) == b"fLaC"


# ---------------------------------------------------------------- bit I/O
class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int):
        if n == 0:
            return
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self):
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


# ------------------------------------------------------------------- CRCs
def _crc_table(poly: int, width: int) -> np.ndarray:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = np.zeros(256, np.uint32)
    for i in range(256):
        c = i << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) if (c & top) else (c << 1)
        tbl[i] = c & mask
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC8_TBL[(c ^ b) & 0xFF])
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = (int(_CRC16_TBL[((c >> 8) ^ b) & 0xFF]) ^ (c << 8)) & 0xFFFF
    return c


# ----------------------------------------------------------- coded number
def _read_coded_number(br: BitReader) -> int:
    """The UTF-8-style variable-length frame/sample number."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    probe = b0
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n == 0 or n > 6:
        raise ValueError("flac: invalid coded number")
    v = b0 & (0x3F >> n)
    for _ in range(n):
        c = br.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("flac: invalid coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _write_coded_number(bw: _BitWriter, v: int):
    if v < 0x80:
        bw.write(v, 8)
        return
    # n continuation bytes; the lead byte holds (6 - n) payload bits
    n = 1
    while v >> (6 * n) >= (1 << (6 - n)):
        n += 1
    lead = ((0xFF << (7 - n)) & 0xFF) | (v >> (6 * n))
    bw.write(lead, 8)
    for k in range(n - 1, -1, -1):
        bw.write(0x80 | ((v >> (6 * k)) & 0x3F), 8)


# ------------------------------------------------------------------ decode
def _parse_streaminfo(buf: bytes) -> tuple[dict, int]:
    if not is_flac(buf):
        raise ValueError("not a FLAC stream (no fLaC magic)")
    off = 4
    info = None
    while True:
        if off + 4 > len(buf):
            raise ValueError("flac: truncated metadata")
        hdr = buf[off]
        last, btype = hdr >> 7, hdr & 0x7F
        length = int.from_bytes(buf[off + 1: off + 4], "big")
        body = buf[off + 4: off + 4 + length]
        if btype == 0:
            if length != 34:
                raise ValueError("flac: bad STREAMINFO length")
            br = BitReader(bytes(body), what="flac: bitstream")
            info = {
                "min_block": br.read(16), "max_block": br.read(16),
                "min_frame": br.read(24), "max_frame": br.read(24),
                "sample_rate": br.read(20),
                "channels": br.read(3) + 1,
                "bps": br.read(5) + 1,
                "total_samples": br.read(36),
            }
        off += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("flac: no STREAMINFO block")
    return info, off


def _decode_residual(br: BitReader, block_size: int, order: int) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"flac: reserved residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("flac: partition order does not divide block size")
    out: list[int] = []
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for _ in range(n):
                out.append(br.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = br.read_unary()
                v = (q << param) | br.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _decode_subframe(br: BitReader, block_size: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("flac: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary()
        bps -= wasted
    if stype == 0:  # CONSTANT
        out = [br.read_signed(bps)] * block_size
    elif stype == 1:  # VERBATIM
        out = [br.read_signed(bps) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        warm = [br.read_signed(bps) for _ in range(order)]
        res = _decode_residual(br, block_size, order)
        coefs = _FIXED_COEFFS[order]
        out = list(warm)
        for i in range(order, block_size):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out.append(res[i - order] + pred)
    elif stype >= 32:  # LPC, order = stype - 31
        order = stype - 31
        warm = [br.read_signed(bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("flac: invalid LPC precision")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _decode_residual(br, block_size, order)
        out = list(warm)
        for i in range(order, block_size):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * out[i - 1 - j]
            out.append(res[i - order] + (acc >> shift))
    else:
        raise ValueError(f"flac: reserved subframe type {stype}")
    a = np.asarray(out, np.int64)
    if wasted:
        a <<= wasted
    return a


def flac_decode(buf: bytes) -> tuple[np.ndarray, int, int]:
    """FLAC bytes -> (int32 samples shape (n, channels), sample_rate, bps).
    Lossless: the returned integers are the original PCM exactly."""
    buf = bytes(buf)
    info, off = _parse_streaminfo(buf)
    chans: list[np.ndarray] = [np.zeros(0, np.int64) for _ in range(info["channels"])]
    pos = off
    while pos + 2 <= len(buf):
        br = BitReader(buf, pos, what="flac: bitstream")
        if br.read(14) != _SYNC:
            raise ValueError("flac: lost frame sync")
        if br.read(1):
            raise ValueError("flac: reserved frame bit set")
        _variable = br.read(1)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        if br.read(1):
            raise ValueError("flac: reserved frame header bit set")
        _num = _read_coded_number(br)
        if bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODE:
            block_size = _BLOCKSIZE_CODE[bs_code]
        else:
            raise ValueError(f"flac: reserved block-size code {bs_code}")
        if sr_code == 0:
            rate = info["sample_rate"]
        elif sr_code in _RATE_CODE:
            rate = _RATE_CODE[sr_code]
        elif sr_code == 12:
            rate = br.read(8) * 1000
        elif sr_code == 13:
            rate = br.read(16)
        elif sr_code == 14:
            rate = br.read(16) * 10
        else:
            raise ValueError("flac: invalid sample-rate code")
        bps = info["bps"] if bps_code == 0 else _BPS_CODE.get(bps_code)
        if bps is None:
            raise ValueError(f"flac: reserved sample-size code {bps_code}")
        hdr_end = br.byte_pos()
        crc8 = br.read(8)
        if _crc8(buf[pos:hdr_end]) != crc8:
            raise ValueError("flac: frame header CRC-8 mismatch")

        if ch_code <= 7:
            n_ch = ch_code + 1
            subs = [_decode_subframe(br, block_size, bps) for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            n_ch = 2
            extra = (1, 0) if ch_code == 9 else (0, 1)  # side channel +1 bit
            a = _decode_subframe(br, block_size, bps + extra[0])
            b = _decode_subframe(br, block_size, bps + extra[1])
            if ch_code == 8:  # left/side
                subs = [a, a - b]
            elif ch_code == 9:  # right/side: a=side, b=right
                subs = [b + a, b]
            else:  # mid/side
                mid2 = (a << 1) | (b & 1)
                subs = [(mid2 + b) >> 1, (mid2 - b) >> 1]
        else:
            raise ValueError(f"flac: reserved channel assignment {ch_code}")
        if n_ch != info["channels"]:
            raise ValueError("flac: frame channel count != STREAMINFO")

        br.align()
        frame_end = br.byte_pos()
        crc16 = br.read(16)
        if _crc16(buf[pos:frame_end]) != crc16:
            raise ValueError("flac: frame CRC-16 mismatch")
        pos = br.byte_pos()
        for c in range(n_ch):
            chans[c] = np.concatenate([chans[c], subs[c]])
        total = info["total_samples"]
        if total and len(chans[0]) >= total:
            break
    out = np.stack([c.astype(np.int32) for c in chans], axis=1)
    if info["total_samples"]:
        out = out[: info["total_samples"]]
    return out, info["sample_rate"], info["bps"]


# ------------------------------------------------------------------ encode
def _best_rice_param(z: np.ndarray) -> int:
    """Exact minimal-cost rice parameter for zigzagged residuals."""
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((z >> p).sum()) + len(z) * (1 + p)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
        elif cost > best_cost * 2:
            break  # cost is convex in p past the minimum
    return best_p


def _write_residual(bw: _BitWriter, res: np.ndarray):
    z = ((res << 1) ^ (res >> 63)).astype(np.uint64)  # zigzag (int64 in)
    bw.write(0, 2)  # method: 4-bit rice
    bw.write(0, 4)  # partition order 0
    p = _best_rice_param(z.astype(np.int64))
    bw.write(p, 4)
    for v in z.tolist():
        bw.write_unary(int(v) >> p)
        bw.write(int(v), p)


def flac_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """16-bit PCM (shape (n,) or (n, channels) integer array, or float in
    [-1,1]) -> FLAC bytes. FIXED order-2 prediction, independent channels,
    4096-sample blocks — bit-exact lossless (pytest-gated)."""
    s = np.asarray(samples)
    if s.dtype.kind == "f":
        s = np.clip(np.rint(s * 32767.0), -32768, 32767)
    s = s.astype(np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if n < 1:
        raise ValueError("flac_encode: empty signal")
    if not (1 <= ch <= 8):
        raise ValueError("flac_encode: 1..8 channels")
    if s.min() < -32768 or s.max() > 32767:
        raise ValueError("flac_encode: 16-bit PCM only")
    bps = 16

    block = 4096
    frame_sizes = [min(block, n - start) for start in range(0, n, block)]
    frames = bytearray()
    for fidx, start in enumerate(range(0, n, block)):
        seg = s[start: start + block]
        bs = len(seg)
        bw = _BitWriter()
        bw.write(_SYNC, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocksize strategy
        bw.write(7, 4)  # block size: 16-bit field follows
        bw.write(0, 4)  # sample rate: from STREAMINFO
        bw.write(ch - 1, 4)  # independent channels
        bw.write(_BPS_TO_CODE[bps], 3)
        bw.write(0, 1)  # reserved
        _write_coded_number(bw, fidx)
        bw.write(bs - 1, 16)
        hdr = bw.out[:]  # byte-aligned here by construction
        assert bw.nbits == 0
        bw.write(_crc8(bytes(hdr)), 8)
        for c in range(ch):
            x = seg[:, c]
            bw.write(0, 1)  # padding
            order = 2 if bs > 2 else 0
            bw.write(8 + order, 6)  # FIXED
            bw.write(0, 1)  # no wasted bits
            for i in range(order):
                bw.write(int(x[i]), bps)
            if order == 2:
                res = x[2:] - 2 * x[1:-1] + x[:-2]
            else:
                res = x
            _write_residual(bw, res.astype(np.int64))
        bw.align()
        body = bw.out[:]
        bw.write(_crc16(bytes(body)), 16)
        frames += bw.bytes()

    si = _BitWriter()
    si.write(min(frame_sizes), 16)  # true min/max block size across frames
    si.write(max(frame_sizes), 16)
    si.write(0, 24)  # frame sizes unknown (spec-legal)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    for _ in range(16):
        si.write(0, 8)  # md5 unknown (spec-legal)
    streaminfo = si.bytes()
    meta = bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    return b"fLaC" + meta + bytes(frames)
