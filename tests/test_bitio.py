"""Shared bit-level kernels (raster/bitio.py): the LZW decoder GIF and
TIFF use at their two bit orders, and JPEG's 16-bit Huffman lookahead
over the MSB reader FLAC also reads through."""

import pytest

from gis_scripts_spark.raster import bitio
from gis_scripts_spark.raster import jpeg as J


def _msb_pack(codes):
    """(code, nbits) pairs -> bytes, MSB-first, zero-padded."""
    acc = n = 0
    for code, nbits in codes:
        acc = (acc << nbits) | code
        n += nbits
    pad = -n % 8
    return (acc << pad).to_bytes((n + pad) // 8, "big")


def test_lzw_core_both_bit_orders_on_hand_built_vectors():
    # GIF (LSB-first, mcs 2): the 1x1 GIF's payload 44 01 is CLEAR(4),
    # index 0, EOI(5) at 3 bits each (tests/test_gif.py traces it)
    assert bitio.lzw_decode(b"\x44\x01", 2, msb=False, early=0) == (bytearray(b"\x00"), True)
    # TIFF (MSB-first, early change): CLEAR, 'a', 'b', <258='ab'>, 'a', EOI
    ababa = _msb_pack([(256, 9), (97, 9), (98, 9), (258, 9), (97, 9), (257, 9)])
    assert bitio.lzw_decode(ababa, 8, msb=True, early=2) == (bytearray(b"ababa"), True)
    # KwKwK: code 258 arrives before the decoder has defined it
    aaaa = _msb_pack([(256, 9), (97, 9), (258, 9), (97, 9), (257, 9)])
    assert bitio.lzw_decode(aaaa, 8, msb=True, early=2) == (bytearray(b"aaaa"), True)
    # the limit stops decoding once the output reaches it, before EOI; the
    # code that crosses it is kept whole, so the caller sees an overrun
    assert bitio.lzw_decode(ababa, 8, msb=True, early=2, limit=4) == (bytearray(b"abab"), False)
    assert bitio.lzw_decode(ababa, 8, msb=True, early=2, limit=3) == (bytearray(b"abab"), False)


def test_lzw_core_width_bump_offset():
    """After CLEAR and 253 data codes the table holds 510 entries: TIFF's
    early change (early=2) reads the next code at 10 bits, GIF's rule
    (early=0) waits for 512 entries and reads 9."""
    codes = [(256, 9)] + [(i % 256, 9) for i in range(253)]
    stream = _msb_pack(codes + [(257, 10)])
    out, eoi = bitio.lzw_decode(stream, 8, msb=True, early=2)
    assert eoi and len(out) == 253
    # at 9 bits, EOI's 0100000001 reads as root 128, then 3 bits are left
    out, eoi = bitio.lzw_decode(stream, 8, msb=True, early=0)
    assert not eoi and len(out) == 254 and out[-1] == 128


def test_lzw_core_corrupt_codes_raise():
    with pytest.raises(ValueError, match="first code"):
        bitio.lzw_decode(_msb_pack([(256, 9), (300, 9)]), 8, msb=True, early=2)
    with pytest.raises(ValueError, match="beyond table"):
        bitio.lzw_decode(_msb_pack([(256, 9), (97, 9), (300, 9)]), 8, msb=True, early=2)


def _table(lengths_syms):
    """_HuffTable from [(code length, symbol), ...] in canonical order."""
    bits = [0] * 16
    for ln, _ in lengths_syms:
        bits[ln - 1] += 1
    return J._HuffTable(bits, [s for _, s in lengths_syms])


def test_jpeg_lookahead_16_bit_code():
    # lengths 1..16: codes 0, 10, 110, ..., and 0xFFFE at 16 bits
    tab = _table([(ln, ln) for ln in range(1, 17)])
    assert tab.enc[16] == (16, 0xFFFE)
    rdr = bitio.BitReader(b"\xff\xfe\x5e")  # 0xFFFE, then 0, 10, 11110
    assert [J._read_symbol(rdr, tab) for _ in range(4)] == [16, 1, 2, 5]
    assert rdr.pos == rdr.end


def test_jpeg_segment_cut_inside_last_symbol_raises():
    # "1"*8 + "0" is a 9-bit code; zero padding after the one-byte
    # segment would complete it
    tab = _table([(2, 0x11), (9, 0x22)])
    with pytest.raises(ValueError, match="truncated"):
        J._read_symbol(bitio.BitReader(b"\xff"), tab)
    # after the last whole symbol, the padding's "00" is not a symbol
    tab = _table([(1, 0x05), (2, 0x11)])
    rdr = bitio.BitReader(b"\x00")
    assert [J._read_symbol(rdr, tab) for _ in range(8)] == [0x05] * 8
    with pytest.raises(ValueError, match="truncated"):
        J._read_symbol(rdr, tab)


def test_jpeg_code_not_in_table_raises():
    tab = _table([(1, 0x05)])  # only "0" is a code
    with pytest.raises(ValueError, match="invalid JPEG Huffman code"):
        J._read_symbol(bitio.BitReader(b"\xff\xff\xff"), tab)
    with pytest.raises(ValueError):
        J._read_symbol(bitio.BitReader(b"\xff"), tab)


def test_bit_reader_peek_is_zero_padded_and_read_checks_the_end():
    rdr = bitio.BitReader(b"\xa5", what="test stream")
    assert rdr.peek(16) == 0xA500
    assert rdr.read(3) == 0b101
    assert rdr.peek(8) == 0b00101000
    with pytest.raises(ValueError, match="test stream truncated"):
        rdr.read(6)
    assert rdr.read(5) == 0b00101
