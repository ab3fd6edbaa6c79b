"""Seeded benchmark inputs, their digest, and independent reference outputs.

Everything here derives from the workload seed alone. The parent process
builds the inputs once per (workload, seed) under the scratch directory and
caches them there together with the reference result; Spark never sees the
seed, only the generated parquet files.

The references do not call the engine's query code:
  pip_tile     numpy even-odd ray casting on WKB parsed here (not geom.core),
               XYZ tile x/y and quadkeys from the public formulas, S2 and
               hex7 ids from cellref.py (not index.s2 or index.hex7).
  knn_hotspot  chunked numpy brute force with the (dist, id) tie-break.
  image_dedup  numpy all-pairs hamming <= 10 over the stored pHash column,
               restricted to the rows the pruning predicate keeps.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. The time budget (4 + 22 runs per workload within 3,420 s,
# each run including a cold JVM start and a cold first job of 15-30 s on a
# 4-core host) sets them: each warm job must take a few seconds so that a
# short run still holds several jobs.
PIP_POINTS = 250_000
PIP_POLYS = 64
# The AOI layer is static dimension data and does not follow the seed: a
# seeded layer moves polygons onto or off the hot spots, and the exact-check
# work (and job time) then swings by 50% from seed to seed.
AOI_SEED = 42
KNN_POINTS = 20_000
KNN_QUERY_EVERY = 20
KNN_K = 5
IMAGES = 120
IMAGE_DUP_EVERY = 5
IMAGE_FMTS = ("png", "qnt", "jpeg", "jpegp", "gif", "bmp")
MAX_HAMMING = 10
FILES = 8  # parquet files per point table, so the scan has parallel splits

GRID_Z = 7  # assign_tiles grid zoom and pip_join cover zoom
TILE_Z = 12
S2_LEVEL = 12
HEX_RES = 7
PREFIX_Z = 2  # snapshot partition column: the grid cell at zoom 2
# pruning predicate of image_dedup: prefix cells with gx in {0, 1}, i.e.
# the western hemisphere, every gy
PREFIX_GX_KEEP = (0, 1)

WORKLOADS = ("pip_tile", "knn_hotspot", "image_dedup")


def pack_cell(z: int, gx, gy):
    return (np.int64(z) << 58) | (np.asarray(gx, np.int64) << 29) | np.asarray(gy, np.int64)


def prefix_range() -> tuple[int, int]:
    n = 1 << PREFIX_Z
    lo = int(pack_cell(PREFIX_Z, PREFIX_GX_KEEP[0], 0))
    hi = int(pack_cell(PREFIX_Z, PREFIX_GX_KEEP[-1], n - 1))
    return lo, hi


# ----------------------------------------------------------------- generation
def hotspot_points(n: int, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """80% uniform over lon [-180, 180), lat [-60, 60); 20% normal around
    the engine's three synthetic hot spots."""
    from gis_scripts_spark.sources.synth import HOTSPOTS

    n_hot = n // 5
    lon = rng.uniform(-179.999, 179.999, n)
    lat = rng.uniform(-59.999, 59.999, n)
    which = rng.integers(0, len(HOTSPOTS), n_hot)
    spots = np.asarray(HOTSPOTS)[which]
    hot = rng.permutation(n)[:n_hot]
    lon[hot] = np.clip(rng.normal(spots[:, 0], spots[:, 2]), -179.999, 179.999)
    lat[hot] = np.clip(rng.normal(spots[:, 1], spots[:, 2]), -59.999, 59.999)
    return lon, lat


def _write_split(df: pd.DataFrame, out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, np.ndarray) and a.dtype != object:
            h.update(str(a.dtype).encode())
            h.update(np.ascontiguousarray(a).tobytes())
        else:
            for v in a:
                b = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                h.update(struct.pack("<Q", len(b)))
                h.update(bytes(b))
    return h.hexdigest()


def _image_row(i: int, seed: int) -> dict:
    """Row i of the image table, balanced so that every seed has the same
    work: each group of IMAGE_DUP_EVERY rows (a source and its planted
    near duplicate) shares one codec and one size, cycling through all six
    codecs, and even groups lie west of the antimeridian-to-Greenwich
    split and odd groups east of it. The pruning predicate then keeps
    exactly half the rows, with every codec equally often. The seed still
    sets pixels, bands, noise and positions."""
    from gis_scripts_spark.sources import synth

    group = i // IMAGE_DUP_EVERY
    fmt = IMAGE_FMTS[(group // 2) % len(IMAGE_FMTS)]
    size = (32, 64, 128)[(group // 2) % 3]
    row = synth.make_image_row(i, seed, sizes=(size,), fmts=(fmt,), dup_every=IMAGE_DUP_EVERY)
    row["lon"] = -abs(row["lon"]) if group % 2 == 0 else abs(row["lon"])
    return row


def _write_image_part(lo: int, hi: int, seed: int, path: str) -> None:
    df = pd.DataFrame([_image_row(i, seed) for i in range(lo, hi)])
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def generate(workload: str, seed: int, out_dir: str, points: int | None = None) -> str:
    """Write the workload's inputs under out_dir; return their digest."""
    if workload == "pip_tile":
        from gis_scripts_spark.sources import synth

        rng = np.random.default_rng([seed, 1])
        lon, lat = hotspot_points(PIP_POINTS, rng)
        pts = pd.DataFrame({"point_id": np.arange(PIP_POINTS, dtype=np.int64), "lon": lon, "lat": lat})
        polys = synth.aoi_polygons(AOI_SEED, PIP_POLYS)
        _write_split(pts, os.path.join(out_dir, "points"), FILES)
        pq.write_table(pa.Table.from_pandas(polys, preserve_index=False), os.path.join(out_dir, "polys.parquet"))
        return _digest(pts["point_id"].to_numpy(), lon, lat, polys["poly_id"], polys["wkb"], polys["class_name"])
    if workload == "knn_hotspot":
        n = points or KNN_POINTS
        rng = np.random.default_rng([seed, 2])
        lon, lat = hotspot_points(n, rng)
        pts = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})
        _write_split(pts, os.path.join(out_dir, "points"), FILES // 2)
        return _digest(pts["point_id"].to_numpy(), lon, lat)
    if workload == "image_dedup":
        # encoding (progressive JPEG and GIF above all) costs ~50 ms a row,
        # so each parquet file is built by its own process
        img_dir = os.path.join(out_dir, "images")
        os.makedirs(img_dir, exist_ok=True)
        bounds = np.linspace(0, IMAGES, FILES // 2 + 1).astype(int)
        procs = [
            subprocess.Popen([sys.executable, os.path.abspath(__file__), "image-part", str(lo), str(hi),
                              str(seed), os.path.join(img_dir, f"part-{k:03d}.parquet")])
            for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"image generation failed: exit codes {codes}")
        df = pq.read_table(img_dir).to_pandas()
        return _digest(
            df["image_id"], df["bytes"], df["fmt"], df["caption"],
            df["w"].to_numpy(np.int64), df["h"].to_numpy(np.int64), df["bands"].to_numpy(np.int64),
            df["phash"].to_numpy(np.int64), df["lon"].to_numpy(), df["lat"].to_numpy(),
        )
    raise ValueError(f"unknown workload {workload!r}")


# ----------------------------------------------------------------- references
def parse_wkb_polygon(buf: bytes) -> list[np.ndarray]:
    """Rings of a little-endian WKB Polygon (type 3), the only geometry the
    AOI generator writes."""
    order, gtype = struct.unpack_from("<BI", buf, 0)
    if order != 1 or gtype != 3:
        raise ValueError(f"expected little-endian WKB Polygon, got order={order} type={gtype}")
    (n_rings,) = struct.unpack_from("<I", buf, 5)
    off, rings = 9, []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings.append(np.frombuffer(buf, "<f8", 2 * n_pts, off).reshape(n_pts, 2))
        off += 16 * n_pts
    return rings


def ray_cast(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd crossing number over all rings (holes included)."""
    crossings = np.zeros(len(px), np.int64)
    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            if y0 == y1:
                continue
            straddle = (y0 > py) != (y1 > py)
            x_cross = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            crossings += straddle & (px < x_cross)
    return crossings % 2 == 1


def xyz_tile(lon: np.ndarray, lat: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    lat = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat)) / np.pi) / 2.0 * n)
    return np.clip(x, 0, n - 1).astype(np.int64), np.clip(y, 0, n - 1).astype(np.int64)


def quadkeys(x: np.ndarray, y: np.ndarray, z: int) -> list[str]:
    digits = [((y >> i) & 1) * 2 + ((x >> i) & 1) for i in range(z - 1, -1, -1)]
    return ["".join(map(str, d)) for d in zip(*digits)]


def _xor(a: np.ndarray) -> int:
    return int(np.bitwise_xor.reduce(a)) if len(a) else 0


def reference(workload: str, in_dir: str) -> dict:
    if workload == "pip_tile":
        pts = pq.read_table(os.path.join(in_dir, "points")).to_pandas()
        polys = pq.read_table(os.path.join(in_dir, "polys.parquet")).to_pandas()
        from perfbench import cellref

        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        tx, ty = xyz_tile(lon, lat, TILE_Z)
        out = {}
        for pid, buf in zip(polys["poly_id"], polys["wkb"]):
            rings = parse_wkb_polygon(bytes(buf))
            ext = rings[0]
            cand = np.nonzero(
                (lon >= ext[:, 0].min()) & (lon <= ext[:, 0].max())
                & (lat >= ext[:, 1].min()) & (lat <= ext[:, 1].max())
            )[0]
            inside = cand[ray_cast(lon[cand], lat[cand], rings)]
            if len(inside) == 0:
                continue  # the inner join yields no row for an empty polygon
            qk = quadkeys(tx[inside], ty[inside], TILE_Z)
            out[str(pid)] = [
                int(len(inside)), int(tx[inside].sum()), int(ty[inside].sum()),
                _xor(cellref.s2_cell_id(lat[inside], lon[inside], S2_LEVEL)),
                _xor(cellref.hex7_encode(lon[inside], lat[inside], HEX_RES)),
                min(qk), max(qk),
            ]
        return {"rollup": out}
    if workload == "knn_hotspot":
        pts = pq.read_table(os.path.join(in_dir, "points")).to_pandas().sort_values("point_id")
        pid = pts["point_id"].to_numpy()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        q = np.nonzero(pid % KNN_QUERY_EVERY == 0)[0]
        nbr = np.empty((len(q), KNN_K), np.int64)
        dist = np.empty((len(q), KNN_K))
        for lo in range(0, len(q), 256):
            qi = q[lo:lo + 256]
            dx = lon[None, :] - lon[qi, None]
            dy = lat[None, :] - lat[qi, None]
            d = dx * dx + dy * dy
            d[np.arange(len(qi)), qi] = np.inf  # exclude self
            kth = np.partition(d, KNN_K - 1, axis=1)[:, KNN_K - 1]
            for r in range(len(qi)):
                # every point at or inside the k-th distance, ordered by
                # (dist, id): the tie-break the operator promises
                c = np.nonzero(d[r] <= kth[r])[0]
                c = c[np.lexsort((pid[c], d[r, c]))][:KNN_K]
                nbr[lo + r] = pid[c]
                dist[lo + r] = d[r, c]
        return {"query_id": pid[q].tolist(), "neighbor_id": nbr.tolist(), "dist": dist.tolist()}
    if workload == "image_dedup":
        df = pq.read_table(os.path.join(in_dir, "images"), columns=["image_id", "lon", "phash"]).to_pandas()
        gx = np.clip(np.floor((df["lon"].to_numpy() + 180.0) / 360.0 * (1 << GRID_Z)), 0, (1 << GRID_Z) - 1)
        gx = gx.astype(np.int64) >> (GRID_Z - PREFIX_Z)
        kept = df[np.isin(gx, PREFIX_GX_KEEP)].sort_values("image_id")
        ids = kept["image_id"].tolist()
        h = kept["phash"].to_numpy(np.int64).view(np.uint64)
        x = h[:, None] ^ h[None, :]
        ham = np.zeros(x.shape, np.int64)
        for shift in range(0, 64, 8):
            ham += np.asarray([bin(v).count("1") for v in range(256)])[(x >> np.uint64(shift)) & np.uint64(255)]
        a, b = np.nonzero(np.triu(ham <= MAX_HAMMING, k=1))
        pairs = sorted([ids[i], ids[j], int(ham[i, j])] for i, j in zip(a, b))
        return {"pairs": pairs, "rows": int(len(df)), "kept_rows": int(len(kept))}
    raise ValueError(f"unknown workload {workload!r}")


def prepare(workload: str, seed: int, scratch: str, points: int | None = None,
            with_reference: bool = True) -> tuple[str, str, float, float]:
    """Inputs and reference for (workload, seed), built once and cached.
    `points` overrides the knn_hotspot size (the ungated C1 reproduction).
    Returns (input dir, digest, generation seconds, reference seconds);
    the times are 0 on a cache hit."""
    import time

    tag = f"seed{seed}" + (f"-n{points}" if points else "")
    in_dir = os.path.join(scratch, "inputs", workload, tag)
    meta_path = os.path.join(in_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return in_dir, json.load(f)["digest"], 0.0, 0.0
    shutil.rmtree(in_dir, ignore_errors=True)
    t0 = time.perf_counter()
    digest = generate(workload, seed, in_dir, points)
    t1 = time.perf_counter()
    ref = reference(workload, in_dir) if with_reference else None
    t2 = time.perf_counter()
    if ref is not None:
        with open(os.path.join(in_dir, "reference.json"), "w") as f:
            json.dump(ref, f)
    with open(meta_path + ".tmp", "w") as f:
        json.dump({"workload": workload, "seed": seed, "digest": digest}, f)
    os.replace(meta_path + ".tmp", meta_path)  # the cache entry is complete
    return in_dir, digest, t1 - t0, t2 - t1


if __name__ == "__main__":
    # python3 inputs.py image-part LO HI SEED PATH: one file of the image table
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if len(sys.argv) != 6 or sys.argv[1] != "image-part":
        sys.exit("usage: inputs.py image-part LO HI SEED PATH")
    _write_image_part(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]), sys.argv[5])
