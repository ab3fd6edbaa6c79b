"""Bit-level kernels shared by the raster and audio codecs.

- `BitReader`: the MSB-first reader. FLAC frames and JPEG entropy
  segments read through it; `peek` (zero-padded past the end) serves
  JPEG's 16-bit Huffman lookahead.
- `lzw_decode`: the LZW decoder. GIF (LSB-first packing, width bump when
  the table reaches 1 << width) and TIFF (MSB-first, "early change": the
  bump comes two entries sooner) are its two callers; `gif._lzw_decompress`
  and `geotiff.lzw_decode` are thin entries over it.

Both read a byte window into one Python int per call and slice it, so no
per-bit Python runs.
"""

from __future__ import annotations

import sys

_LZW_MAX_CODES = 4096  # 12-bit codes; the table freezes when full


class BitReader:
    """MSB-first bit reader over a bytes buffer. `what` names the stream
    in the truncation error."""

    __slots__ = ("buf", "pos", "end", "what")

    def __init__(self, buf: bytes, byte_pos: int = 0, what: str = "bitstream"):
        self.buf = buf
        self.pos = byte_pos * 8  # bit position
        self.end = len(buf) * 8
        self.what = what

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        end = p + n
        if end > self.end:
            raise ValueError(f"{self.what} truncated")
        # gather the covering bytes into one int, then slice
        b0, b1 = p >> 3, (end + 7) >> 3
        acc = int.from_bytes(self.buf[b0:b1], "big")
        self.pos = end
        return (acc >> ((b1 << 3) - end)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        """The next n bits without consuming them; bits past the end of
        the buffer read as 0 (the caller checks `end - pos`)."""
        p = self.pos
        b0, b1 = p >> 3, (p + n + 7) >> 3
        chunk = self.buf[b0:b1]
        acc = int.from_bytes(chunk, "big") << ((b1 - b0 - len(chunk)) << 3)
        return (acc >> ((b1 << 3) - p - n)) & ((1 << n) - 1)

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count 0 bits until the terminating 1 (rice quotient)."""
        buf = self.buf
        p = self.pos
        q = 0
        while True:
            if p >= self.end:
                raise ValueError(f"{self.what} truncated in unary run")
            rem = 8 - (p & 7)
            chunk = buf[p >> 3] & ((1 << rem) - 1)
            if chunk == 0:
                q += rem
                p += rem
                continue
            lead = rem - chunk.bit_length()
            q += lead
            p += lead + 1
            self.pos = p
            return q

    def align(self):
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def lzw_decode(data: bytes, min_bits: int, msb: bool, early: int,
               limit: int = sys.maxsize) -> tuple[bytearray, bool]:
    """Variable-width LZW decode -> (output, ended at EOI).

    Roots are 0 .. (1 << min_bits) - 1, then CLEAR and EOI; codes start
    min_bits + 1 wide and widen after the table reaches
    (1 << width) - early entries, up to 12 bits. A full table (4096
    entries) freezes until the next CLEAR. `msb` picks the bit packing.
    Decoding stops at EOI, when the bits run out, or once the output
    reaches `limit` bytes; corrupt codes raise ValueError."""
    clear = 1 << min_bits
    eoi = clear + 1
    roots = [bytes((i,)) for i in range(clear)] + [b"", b""]
    table = roots[:]
    width = min_bits + 1
    grow = (1 << width) - early
    mask = (1 << width) - 1
    total = len(data) * 8
    buf = bytes(data) + b"\0\0"  # a 12-bit code at any bit offset fits 3 bytes
    order = "big" if msb else "little"
    out = bytearray()
    prev = None
    pos = 0
    while pos + width <= total:
        b = pos >> 3
        acc = int.from_bytes(buf[b : b + 3], order)
        code = (acc >> (24 - (pos & 7) - width if msb else pos & 7)) & mask
        pos += width
        if code == clear:
            table = roots[:]
            width = min_bits + 1
            grow = (1 << width) - early
            mask = (1 << width) - 1
            prev = None
            continue
        if code == eoi:
            return out, True
        n = len(table)
        if prev is None:
            if code >= n:
                raise ValueError("corrupt LZW stream (first code out of table)")
            entry = table[code]
        elif code < n:
            entry = table[code]
            if n < _LZW_MAX_CODES:
                table.append(prev + entry[:1])
        elif code == n:  # KwKwK: the code the encoder defined just now
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out += entry
        if len(out) >= limit:
            return out, False
        prev = entry
        if len(table) == grow and width < 12:
            width += 1
            grow = (1 << width) - early
            mask = (1 << width) - 1
    return out, False
