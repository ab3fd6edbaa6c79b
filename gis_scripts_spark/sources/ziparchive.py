"""Distributed ZIP-archive source — from-scratch PKWARE APPNOTE parser.

Reference parity (SURVEY.md §2.1 S6): the reference's WorldView delivery
flow lists ``*MUL*.XML`` members of a Maxar zip, parses each tile's XML
metadata and computes AOI coverage (``seagrass_lib.py:168-193
list_files``), then extracts selected tile directories
(``seagrass_lib.py:196-203 unzip_tiles``). Both steps there are
single-process ``zipfile`` loops; here they are re-expressed Spark-first:

- :func:`zip_manifest` reads ONLY the end-of-central-directory record and
  the central directory — two driver-side ranged reads totalling KBs even
  for a multi-TB archive (the same footer-ranged-read discipline as the
  GeoParquet ``geo`` metadata). The members become a DataFrame.
- :func:`zip_extract` decodes members on EXECUTORS: each row carries its
  local-header offset + compressed size, so workers do independent
  ``[offset, offset+csize)`` ranged reads (object-store friendly — no
  file-level skew: a 10k-member archive extracts as 10k parallel units),
  inflate (stored / deflate via zlib), and CRC-verify.
- :func:`worldview_manifest` is the ``list_files`` equivalent: manifest ->
  ``*MUL*.XML`` filter -> distributed extract + XML parse in one Arrow
  pass -> typed metadata columns (satid, tlctime, cloudcover, footprint
  corners). AOI coverage math stays in JVM Column expressions on top
  (queries.q_zip_manifest_coverage), so it is oracle-checkable.

Container notes (all from the public APPNOTE.TXT spec): classic EOCD
(PK\\x05\\x06, comment-tolerant backward scan), Zip64 EOCD + locator
(PK\\x06\\x06 / PK\\x06\\x07), central-directory entries (PK\\x01\\x02)
with the 0x0001 Zip64 extended-information extra, local headers
(PK\\x03\\x04) re-parsed executor-side for the true data offset (the CD
offset points at the header, whose name/extra lengths may differ from the
CD's). General-purpose bit 3 (data descriptor) is fine: sizes come from
the central directory. :func:`write_zip` emits archives (stored or
deflate, optionally forced Zip64) so roundtrips are self-checking; interop
with stdlib ``zipfile`` in BOTH directions is pytest-pinned
(tests/test_ziparchive.py).
"""
from __future__ import annotations

import fnmatch
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.rowmap import map_rows

_EOCD = b"PK\x05\x06"
_Z64_EOCD = b"PK\x06\x06"
_Z64_LOC = b"PK\x06\x07"
_CEN = b"PK\x01\x02"
_LOC = b"PK\x03\x04"


# ------------------------------------------------------------- driver parse
def _find_eocd(path: str) -> tuple[int, int, int]:
    """-> (n_entries, cd_size, cd_offset). Reads at most 64 KiB + 22 + 20
    bytes from the file tail (EOCD + max comment + Zip64 locator)."""
    with open(path, "rb") as f:
        f.seek(0, 2)
        fsize = f.tell()
        tail_len = min(fsize, 22 + 65535 + 20)
        f.seek(fsize - tail_len)
        tail = f.read(tail_len)
        i = tail.rfind(_EOCD)
        if i < 0:
            raise ValueError("not a ZIP archive (no end-of-central-directory)")
        (n_disk, cd_size, cd_offset) = struct.unpack_from("<HII", tail, i + 10)
        n = n_disk
        needs_z64 = 0xFFFFFFFF in (cd_size, cd_offset) or n_disk == 0xFFFF
        # Zip64 locator sits immediately before the EOCD if present
        loc_at = (fsize - tail_len) + i - 20
        if needs_z64 or (i >= 20 and tail[i - 20 : i - 16] == _Z64_LOC):
            (z64_off,) = struct.unpack_from("<Q", tail, i - 20 + 8)
            f.seek(z64_off)
            rec = f.read(56)
            if rec[:4] != _Z64_EOCD:
                raise ValueError("bad Zip64 end-of-central-directory record")
            n = struct.unpack_from("<Q", rec, 32)[0]
            cd_size = struct.unpack_from("<Q", rec, 40)[0]
            cd_offset = struct.unpack_from("<Q", rec, 48)[0]
        return n, cd_size, cd_offset


def parse_central_directory(cd: bytes, n_entries: int) -> list[dict]:
    """Central-directory bytes -> member dicts. Zip64 extra (0x0001)
    overrides the 32-bit fields in the order the spec mandates (usize,
    csize, local offset — only the ones set to 0xFFFFFFFF appear)."""
    out = []
    i = 0
    for _ in range(n_entries):
        if cd[i : i + 4] != _CEN:
            raise ValueError(f"central directory corrupt at {i}")
        (
            _ver_made, _ver_need, flags, method, _time, _date, crc,
            csize, usize, name_len, extra_len, comment_len,
            _disk, _iattr, _eattr, local_off,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", cd, i + 4)
        name = cd[i + 46 : i + 46 + name_len].decode("utf-8")
        extra = cd[i + 46 + name_len : i + 46 + name_len + extra_len]
        j = 0
        while j + 4 <= len(extra):
            tag, sz = struct.unpack_from("<HH", extra, j)
            if tag == 0x0001:
                vals = extra[j + 4 : j + 4 + sz]
                k = 0
                if usize == 0xFFFFFFFF:
                    usize = struct.unpack_from("<Q", vals, k)[0]
                    k += 8
                if csize == 0xFFFFFFFF:
                    csize = struct.unpack_from("<Q", vals, k)[0]
                    k += 8
                if local_off == 0xFFFFFFFF:
                    local_off = struct.unpack_from("<Q", vals, k)[0]
                    k += 8
            j += 4 + sz
        out.append(
            {
                "name": name,
                "method": method,
                "flags": flags,
                "crc32": crc & 0xFFFFFFFF,
                "csize": csize,
                "usize": usize,
                "local_offset": local_off,
            }
        )
        i += 46 + name_len + extra_len + comment_len
    return out


_MANIFEST_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("method", IntegerType(), False),
        StructField("crc32", LongType(), False),
        StructField("csize", LongType(), False),
        StructField("usize", LongType(), False),
        StructField("local_offset", LongType(), False),
    ]
)


def zip_manifest(spark: SparkSession, zip_path: str) -> DataFrame:
    """Member manifest DataFrame from two driver-side ranged reads (EOCD
    tail + central-directory slice) — the archive's data bytes are never
    touched. The manifest is the fan-out unit for distributed extraction."""
    n, cd_size, cd_offset = _find_eocd(zip_path)
    with open(zip_path, "rb") as f:
        f.seek(cd_offset)
        cd = f.read(cd_size)
    rows = parse_central_directory(cd, n)
    pdf = pd.DataFrame(
        rows, columns=["name", "method", "flags", "crc32", "csize", "usize", "local_offset"]
    ).drop(columns=["flags"])
    if len(pdf) == 0:
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    pdf["method"] = pdf["method"].astype(np.int32)
    for c in ("crc32", "csize", "usize", "local_offset"):
        pdf[c] = pdf[c].astype(np.int64)
    return spark.createDataFrame(pdf, _MANIFEST_SCHEMA)


# --------------------------------------------------------- executor decode
def read_member(f, local_offset: int, csize: int, method: int,
                crc32: int, usize: int, name: str = "?") -> bytes:
    """Ranged read + decode of one member from an open binary file. The
    local header is re-parsed for its own name/extra lengths (they may
    legitimately differ from the central directory's, e.g. Zip64 padding
    or a data-descriptor writer)."""
    f.seek(local_offset)
    hdr = f.read(30)
    if hdr[:4] != _LOC:
        raise ValueError(f"{name}: bad local file header")
    name_len, extra_len = struct.unpack_from("<HH", hdr, 26)
    f.seek(local_offset + 30 + name_len + extra_len)
    raw = f.read(csize)
    if method == 0:
        data = raw
    elif method == 8:
        data = zlib.decompressobj(-15).decompress(raw)
        # a second flush-read is unnecessary: csize bytes are the whole stream
    else:
        raise NotImplementedError(f"{name}: ZIP compression method {method}")
    if len(data) != usize:
        raise ValueError(f"{name}: size mismatch ({len(data)} != {usize})")
    if (zlib.crc32(data) & 0xFFFFFFFF) != crc32:
        raise ValueError(f"{name}: CRC32 mismatch")
    return data


def zip_extract(manifest: DataFrame, zip_path: str, pattern: str | None = None) -> DataFrame:
    """Decode members on executors -> (name, content:binary). Each row is
    an independent [local_offset, +csize) ranged read, so extraction
    parallelism = member count regardless of archive size. ``pattern`` is
    an fnmatch glob applied BEFORE the decode (Catalyst prunes the rows,
    workers never read filtered members' bytes)."""
    df = manifest
    if pattern is not None:
        # fnmatch glob -> SQL LIKE is lossy for character classes; filter
        # on the name column with the exact fnmatch semantics, Arrow-side
        pat = pattern

        def name_filter(batches):
            for pdf in batches:
                keep = pdf["name"].map(lambda s: fnmatch.fnmatch(s, pat))
                yield pdf[keep]

        df = df.mapInPandas(name_filter, df.schema)

    out_schema = StructType(
        [
            StructField("name", StringType(), False),
            StructField("content", BinaryType(), False),
        ]
    )

    def run(batches):
        with open(zip_path, "rb") as f:
            for pdf in batches:
                names, blobs = [], []
                for _, r in pdf.iterrows():
                    names.append(r["name"])
                    blobs.append(
                        read_member(
                            f, int(r["local_offset"]), int(r["csize"]),
                            int(r["method"]), int(r["crc32"]) & 0xFFFFFFFF,
                            int(r["usize"]), r["name"],
                        )
                    )
                yield pd.DataFrame({"name": names, "content": blobs})

    return df.mapInPandas(run, out_schema)


# ----------------------------------------------------------------- writer
def write_zip(path: str, members: list[tuple[str, bytes]],
              method: int = 8, force_zip64: bool = False) -> None:
    """Write a ZIP archive (stored or deflate). force_zip64 emits the
    Zip64 extended-information extras + Zip64 EOCD/locator even when the
    sizes don't require them — exercising the readers' (ours and stdlib
    zipfile's) Zip64 paths without a 4 GiB fixture."""
    cen_records = []
    with open(path, "wb") as f:
        for name, data in members:
            nb = name.encode("utf-8")
            crc = zlib.crc32(data) & 0xFFFFFFFF
            if method == 8:
                co = zlib.compressobj(9, zlib.DEFLATED, -15)
                raw = co.compress(data) + co.flush()
            elif method == 0:
                raw = data
            else:
                raise NotImplementedError(f"write method {method}")
            off = f.tell()
            if force_zip64:
                extra = struct.pack("<HHQQ", 0x0001, 16, len(data), len(raw))
                lsizes = (0xFFFFFFFF, 0xFFFFFFFF)
            else:
                extra = b""
                lsizes = (len(raw), len(data))
            f.write(
                _LOC
                + struct.pack(
                    "<HHHHHIIIHH", 45 if force_zip64 else 20, 0, method,
                    0, 0, crc, lsizes[0], lsizes[1], len(nb), len(extra),
                )
                + nb + extra
            )
            f.write(raw)
            cen_records.append((nb, method, crc, len(raw), len(data), off))
        cd_start = f.tell()
        for nb, m, crc, csz, usz, off in cen_records:
            if force_zip64:
                extra = struct.pack("<HHQQQ", 0x0001, 24, usz, csz, off)
                sizes = (0xFFFFFFFF, 0xFFFFFFFF, 0xFFFFFFFF)
            else:
                extra = b""
                sizes = (csz, usz, off)
            f.write(
                _CEN
                + struct.pack(
                    "<HHHHHHIIIHHHHHII",
                    45, 45 if force_zip64 else 20, 0, m, 0, 0, crc,
                    sizes[0], sizes[1], len(nb), len(extra), 0, 0, 0, 0, sizes[2],
                )
                + nb + extra
            )
        cd_size = f.tell() - cd_start
        n = len(cen_records)
        if force_zip64:
            z64_at = f.tell()
            f.write(
                _Z64_EOCD
                + struct.pack("<QHHIIQQQQ", 44, 45, 45, 0, 0, n, n, cd_size, cd_start)
            )
            f.write(_Z64_LOC + struct.pack("<IQI", 0, z64_at, 1))
            f.write(_EOCD + struct.pack("<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF,
                                        0xFFFFFFFF, 0xFFFFFFFF, 0))
        else:
            f.write(_EOCD + struct.pack("<HHHHIIH", 0, 0, n, n, cd_size, cd_start, 0))


# ------------------------------------------------- WorldView manifest parse
_WV_TAGS = ("SATID", "TLCTIME", "CLOUDCOVER",
            "ULLON", "ULLAT", "URLON", "URLAT",
            "LRLON", "LRLAT", "LLLON", "LLLAT")

_WV_SCHEMA = StructType(
    [StructField("directory", StringType(), False),
     StructField("satid", StringType(), False),
     StructField("tlctime", StringType(), False),
     StructField("cloudcover", DoubleType(), False)]
    + [StructField(t.lower(), DoubleType(), False) for t in _WV_TAGS[3:]]
)


def _first_tag(root, tag: str) -> str:
    # reference semantics: getElementsByTagName(var)[0].firstChild.data —
    # first occurrence anywhere in the document (seagrass_lib.py:157-158)
    for el in root.iter(tag):
        return el.text
    raise ValueError(f"tag {tag} missing from tile XML")


def worldview_manifest(spark: SparkSession, zip_path: str,
                       xml_glob: str = "*MUL*.XML") -> DataFrame:
    """The reference's ``list_files`` re-expressed distributed: central
    directory -> manifest rows (driver, ranged reads), ``*MUL*.XML``
    filter, then ONE Arrow pass per batch that ranged-reads + inflates +
    XML-parses each tile's metadata into typed columns (satid, tlctime,
    cloudcover, footprint corner coords). AOI-coverage math is left to
    Column expressions downstream so Catalyst sees it."""
    import posixpath
    import xml.etree.ElementTree as ET

    xmls = zip_extract(zip_manifest(spark, zip_path), zip_path, pattern=xml_glob)

    def parse(r):
        root = ET.fromstring(bytes(r["content"]).decode("utf-8"))
        yield (posixpath.dirname(r["name"]), _first_tag(root, "SATID"),
               _first_tag(root, "TLCTIME"),
               *(float(_first_tag(root, t)) for t in _WV_TAGS[2:]))

    return map_rows(xmls, parse, _WV_SCHEMA)
