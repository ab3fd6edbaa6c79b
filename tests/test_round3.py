"""Round-3 fixes: GeoTIFF predictor, nodata-aware warp bilinear,
overlap_pair_stats null-nodata guard, typed radiometric apply path."""

import numpy as np
import pandas as pd
import pytest

from gis_scripts_spark.raster import codec, geotiff, warp
from gis_scripts_spark.raster.match import RES_DEG
from gis_scripts_spark.sources import synth


# ------------------------------------------------- GeoTIFF predictor (317)
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.int16, np.int32])
def test_tiff_predictor2_roundtrip(dtype):
    rng = np.random.default_rng(9)
    if np.issubdtype(dtype, np.integer):
        arr = rng.integers(np.iinfo(dtype).min, np.iinfo(dtype).max, (130, 37, 3)).astype(dtype)
    buf = geotiff.tiff_encode(arr, compress=True, predictor=2)
    back, _ = geotiff.tiff_decode(buf)
    assert back.dtype == arr.dtype
    assert (back == arr).all()


def test_tiff_predictor3_on_ints_rejected():
    """Round 4 implements predictor 3 for floats (tests/test_round4.py);
    a predictor-3 tag on INTEGER samples is still invalid and must fail
    loudly rather than decode garbage."""
    import struct

    arr = np.arange(64, dtype=np.uint16).reshape(8, 8)
    buf = bytearray(geotiff.tiff_encode(arr, predictor=2))
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd_off)
    for i in range(n):
        (tag,) = struct.unpack_from("<H", buf, ifd_off + 2 + 12 * i)
        if tag == geotiff.TAG_PREDICTOR:
            struct.pack_into("<H", buf, ifd_off + 2 + 12 * i + 8, 3)
    with pytest.raises(ValueError, match="floating-point"):
        geotiff.tiff_decode(bytes(buf))


def test_tiff_predictor2_on_float_rejected():
    with pytest.raises(ValueError):
        geotiff.tiff_encode(np.zeros((4, 4), np.float32), predictor=2)


# --------------------------------------------- warp bilinear nodata masking
def _one_image_df(spark, px, lon=14.0, lat=52.0, nodata=-9999.0):
    rows = [{
        "image_id": "w0", "bytes": bytearray(codec.raw_encode(px)),
        "w": px.shape[1], "h": px.shape[0], "fmt": "raw", "caption": "c",
        "phash": 0, "lon": lon, "lat": lat, "nodata": nodata,
        "bands": px.shape[2],
    }]
    return spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)


def test_warp_bilinear_excludes_nodata(spark):
    # constant-100 image with a sentinel hole: nodata-aware bilinear must
    # never blend the sentinel — every valid output pixel is exactly 100
    px = np.full((32, 32, 1), 100.0, np.float32)
    px[10:20, 12:22, 0] = -9999.0
    df = _one_image_df(spark, px)
    out = warp.reproject_raster(df, "utm:33n", 40.0, method="bilinear").toPandas()
    img = codec.raw_decode(bytes(out.loc[0, "bytes"]))
    vals = np.unique(img)
    assert set(vals.tolist()) <= {100.0, -9999.0}
    assert (img == 100.0).sum() > 0 and (img == -9999.0).sum() > 0


def test_warp_bilinear_no_nodata_unchanged(spark):
    # without a sentinel the blend path is the plain 4-corner expression
    rng = np.random.default_rng(3)
    px = rng.uniform(0, 255, (24, 24, 1)).astype(np.float32)
    df = _one_image_df(spark, px, nodata=-1.0)  # nodata_col=None: unused
    out = warp.reproject_raster(df, "utm:33n", 60.0, method="bilinear",
                                nodata_col=None).toPandas()
    img = codec.raw_decode(bytes(out.loc[0, "bytes"]))
    valid = img[img != 0.0]
    assert valid.size > 0
    assert valid.min() >= px.min() - 1e-3 and valid.max() <= px.max() + 1e-3


# --------------------------------- overlap_pair_stats null-nodata guard
def test_pair_stats_null_nodata_guard(spark):
    from gis_scripts_spark.raster import match

    rng = np.random.default_rng(5)
    rows = []
    for k, c0 in enumerate([0, 32]):
        px = rng.integers(0, 255, (64, 64, 1)).astype(np.uint8)
        rows.append({
            "image_id": f"g{k}", "bytes": bytearray(codec.png_encode(px)),
            "w": 64, "h": 64, "fmt": "png", "caption": "x", "phash": 0,
            "lon": c0 * RES_DEG, "lat": 0.0, "nodata": float("nan"), "bands": 1,
        })
    # built from Rows: from pandas, Arrow turns the NaN into a null on the
    # non-nullable nodata field
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in synth.IMAGE_SCHEMA.fields) for r in rows], schema=synth.IMAGE_SCHEMA
    )
    # a NaN nodata column must mean "no masking", not NaN-disabled masking
    out = match.overlap_pair_stats(df, z=13, nodata_col="nodata").toPandas()
    assert len(out) == 1
    assert out.loc[0, "size"] == 32 * 64


# ------------------- typed radiometric apply path (int16/-9999, float32)
def _typed_image(image_id, px, lon, lat, nodata=-9999.0):
    from gis_scripts_spark.raster import codec as c

    return {
        "image_id": image_id, "bytes": bytearray(c.raw_encode(px)),
        "w": px.shape[1], "h": px.shape[0], "fmt": "raw", "caption": "",
        "phash": 0, "lon": lon, "lat": lat, "nodata": nodata,
        "bands": px.shape[2],
    }


@pytest.mark.parametrize("dtype", [np.int16, np.float32])
def test_global_match_typed_end_to_end(spark, dtype):
    """global_match on int16/float32 with -9999 holes: adjusted pixels must
    equal the reference formula np.where(valid, a*px+b, px) in the SOURCE
    dtype (global_match.py:524-528, GDT_Int16 output global_match.py:212)."""
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import match, ops

    rng = np.random.default_rng(21)
    scene = rng.uniform(100, 2000, (64, 160, 1)).astype(dtype)
    rows, srcs = [], {}
    for k, (c0, gain, off) in enumerate([(0, 1.0, 0.0), (48, 1.1, 60.0), (96, 0.9, -40.0)]):
        tile = (scene[:, c0 : c0 + 64].astype(np.float64) * gain + off).astype(dtype)
        tile[5:12, 5:12] = dtype(-9999)  # planted holes
        srcs[f"t{k}"] = tile
        rows.append(_typed_image(f"t{k}", tile, c0 * RES_DEG, 0.0))
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    adjusted, params = match.global_match(df, z=13, nodata_col="nodata")
    got = {r["image_id"]: codec_mod.decode(bytes(r["bytes"]), r["fmt"])
           for r in adjusted.collect()}
    for img_id, src in srcs.items():
        p = params[(params["image_id"] == img_id) & (params["band"] == 0)].iloc[0]
        adj = p["a"] * src.astype(np.float64) + p["b"]
        adj = np.where(src.astype(np.float64) == -9999.0, src, adj)
        want = ops.restore_dtype(adj, np.dtype(dtype))
        want = np.where(src == dtype(-9999), src, want)
        out = got[img_id]
        assert out.dtype == np.dtype(dtype), (img_id, out.dtype)
        assert np.array_equal(out, want), img_id
        # sentinels bit-exact
        assert (out[5:12, 5:12] == dtype(-9999)).all()
    # the matching actually closed the seams: pair means agree post-adjust
    ps = match.overlap_pair_stats(adjusted, z=13, nodata_col="nodata").toPandas()
    assert (ps["mean_i"] - ps["mean_j"]).abs().max() < (
        match.overlap_pair_stats(df, z=13, nodata_col="nodata").toPandas()["mean_i"]
        - match.overlap_pair_stats(df, z=13, nodata_col="nodata").toPandas()["mean_j"]
    ).abs().max() * 0.3


@pytest.mark.parametrize("dtype", [np.int16, np.float32])
def test_local_match_single_image_identity_typed(spark, dtype):
    """One image alone IS the reference map -> gamma == 1 -> local_match
    must return the pixels bit-identically in the source dtype (the old
    kernel uint8-crushed them)."""
    from gis_scripts_spark.raster import codec as codec_mod, local_match

    rng = np.random.default_rng(8)
    px = rng.uniform(50, 3000, (32, 32, 1)).astype(dtype)
    px[2:6, 2:6] = dtype(-9999)
    df = spark.createDataFrame(pd.DataFrame([_typed_image("solo", px, 0.0, 0.0)]),
                               schema=synth.IMAGE_SCHEMA)
    # float data is not in a normalized [0,1] domain -> pass the domain max
    scale = 4000.0 if np.dtype(dtype).kind == "f" else None
    out = local_match.local_match(df, z=15, nodata_col="nodata", scale=scale).toPandas()
    got = codec_mod.decode(bytes(out.loc[0, "bytes"]), out.loc[0, "fmt"])
    assert got.dtype == np.dtype(dtype)
    assert np.array_equal(got, px)


def test_local_match_int16_reduces_spread_keeps_sentinels(spark):
    from gis_scripts_spark.raster import codec as codec_mod, local_match

    rng = np.random.default_rng(13)
    scene = rng.uniform(400, 1800, (64, 64, 1)).astype(np.int16)
    bright = (scene.astype(np.float64) * 1.25 + 100).astype(np.int16)
    scene[10:14, 10:14] = -9999
    bright[10:14, 10:14] = -9999
    rows = [_typed_image("a", scene, 0.0, 0.0), _typed_image("b", bright, 0.0, 0.0)]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    z = 15

    def spread(frame):
        st = local_match.tile_stats(frame, z=z, nodata_col="nodata").toPandas()
        st["mean"] = st["sum"] / st["cnt"]
        piv = st.pivot_table(index="cell", columns="image_id", values="mean").dropna()
        return float((piv["a"] - piv["b"]).abs().mean())

    adjusted = local_match.local_match(df, z=z, nodata_col="nodata")
    before, after = spread(df), spread(adjusted)
    assert after < before * 0.3, f"{before} -> {after}"
    for r in adjusted.collect():
        img = codec_mod.decode(bytes(r["bytes"]), r["fmt"])
        assert img.dtype == np.int16
        assert (img[10:14, 10:14] == -9999).all()
        assert img.max() > 255  # the uint8 crush is gone


# -------------------------- mosaic: dtype promotion + per-band validity
def test_mosaic_mixed_dtype_promotes(spark):
    """uint8 + int16 sources in one tile: canvas promotes (np.result_type),
    no silent truncation of the int16 values."""
    from gis_scripts_spark.operators import mosaic as mosaic_mod
    from gis_scripts_spark.raster import codec as codec_mod

    a = np.full((16, 16, 1), 200, np.uint8)
    b = np.full((16, 16, 1), 1500, np.int16)
    rows = [
        _typed_image("a", a, 0.0, 0.0, nodata=-1.0),
        _typed_image("b", b, 16 * RES_DEG, 0.0, nodata=-1.0),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    out = mosaic_mod.mosaic_composite(df, tile_px=32, order="last",
                                      nodata_col="nodata", fill_value=0.0).toPandas()
    assert len(out) == 1
    img = codec_mod.raw_decode(bytes(out.loc[0, "bytes"]))
    assert img.dtype == np.int16
    assert (img[:16, :16, 0] == 200).all()
    assert (img[:16, 16:, 0] == 1500).all()


def test_mosaic_multiband_per_band_validity(spark):
    """A pixel nodata in band 0 but valid in band 1 paints ONLY band 1;
    a lower-priority source fills band 0 (per-band mask rule)."""
    from gis_scripts_spark.operators import mosaic as mosaic_mod
    from gis_scripts_spark.raster import codec as codec_mod

    nd = -9999.0
    hi = np.full((8, 8, 2), 500, np.int16)   # higher priority (last-wins)
    hi[:, :, 0] = -9999                       # band 0 all-nodata, band 1 valid
    lo = np.full((8, 8, 2), 111, np.int16)    # lower priority, fully valid
    rows = [
        _typed_image("a_lo", lo, 0.0, 0.0, nodata=nd),
        _typed_image("b_hi", hi, 0.0, 0.0, nodata=nd),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    out = mosaic_mod.mosaic_composite(df, tile_px=8, order="last",
                                      nodata_col="nodata", fill_value=nd).toPandas()
    img = codec_mod.raw_decode(bytes(out.loc[0, "bytes"]))
    assert (img[:, :, 0] == 111).all()   # band 0 shows through to lo
    assert (img[:, :, 1] == 500).all()   # band 1 from hi


# ---------------------- distributed normal-equation solve (global_match)
def test_solve_gains_normal_matches_dense(spark):
    """Distributed sparse normal-equation + CG path must reproduce the
    dense driver lstsq params (same minimizer) to 1e-8 on the fixture."""
    from gis_scripts_spark.raster import match, ops

    rng = np.random.default_rng(21)
    scene = rng.uniform(100, 2000, (64, 160, 1)).astype(np.int16)
    rows = []
    for k, (c0, gain, off) in enumerate([(0, 1.0, 0.0), (48, 1.1, 60.0), (96, 0.9, -40.0)]):
        tile = (scene[:, c0 : c0 + 64].astype(np.float64) * gain + off).astype(np.int16)
        rows.append(_typed_image(f"t{k}", tile, c0 * RES_DEG, 0.0))
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    ps_sdf = match.overlap_pair_stats(df, z=13, nodata_col="nodata")
    dense = match.solve_gains(ps_sdf.toPandas(),
                              ops.band_stats(df, nodata_col="nodata").toPandas())
    normal = match.solve_gains_normal(ps_sdf, [f"t{k}" for k in range(3)], 1)
    d = dense.sort_values(["image_id", "band"]).reset_index(drop=True)
    m = normal.sort_values(["image_id", "band"]).reset_index(drop=True)
    assert (d["image_id"] == m["image_id"]).all()
    assert np.allclose(d["a"], m["a"], atol=1e-8)
    assert np.allclose(d["b"], m["b"], atol=1e-8)


def test_solve_gains_normal_10k_images(spark):
    """10^4 images on a 100x100 overlap grid: the dense path would need a
    (2·pairs+2n) x 2n ≈ 6e4 x 2e4 float64 matrix (~10 GB); the sparse
    normal path completes and closes the seams."""
    from gis_scripts_spark.raster import match

    side = 100
    n = side * side
    rng = np.random.default_rng(3)
    gains = rng.uniform(0.8, 1.25, n)
    ids = [f"im{i:05d}" for i in range(n)]
    m_true, s_true = 1000.0, 150.0
    rows = []
    for gy in range(side):
        for gx in range(side):
            i = gy * side + gx
            for j in (i + 1 if gx + 1 < side else None,
                      i + side if gy + 1 < side else None):
                if j is None:
                    continue
                rows.append((ids[i], ids[j], 0,
                             gains[i] * m_true, gains[i] * s_true,
                             gains[j] * m_true, gains[j] * s_true, 500))
    ps = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id_i", "id_j", "band", "mean_i", "std_i",
                                    "mean_j", "std_j", "size"]),
        schema=match.PAIR_STATS_SCHEMA)
    params = match.solve_gains_normal(ps, ids, 1)
    assert len(params) == n
    p = params.set_index("image_id")
    a = p.loc[ids, "a"].to_numpy()
    b = p.loc[ids, "b"].to_numpy()
    assert np.isfinite(a).all() and np.isfinite(b).all()
    # seam closure: corrected pair means agree to <0.1% of the scene mean
    resid = []
    for id_i, id_j, _, mi, _, mj, _, _ in rows[:5000]:
        i, j = int(id_i[2:]), int(id_j[2:])
        resid.append(abs((a[i] * mi + b[i]) - (a[j] * mj + b[j])))
    assert np.max(resid) < 1e-3 * m_true, np.max(resid)


# ------------------------------------------------ RPC georeferencing (R5)
def _wv_rpc():
    """Synthetic WorldView-like RPC with nonlinear numerator/denominator
    terms (well-conditioned: denominators near 1)."""
    z = np.zeros(20)
    line_num = z.copy(); line_num[[0, 1, 2, 3, 4, 7]] = [0.002, 0.03, -1.01, 0.012, 0.004, 0.0015]
    samp_num = z.copy(); samp_num[[0, 1, 2, 3, 5, 8]] = [-0.001, 1.02, 0.025, -0.008, 0.003, 0.001]
    line_den = z.copy(); line_den[[0, 4, 9]] = [1.0, 0.0004, 0.0002]
    samp_den = z.copy(); samp_den[[0, 6, 7]] = [1.0, 0.0003, 0.0002]
    return dict(
        LINE_OFF=1024.0, SAMP_OFF=1024.0, LAT_OFF=34.2, LONG_OFF=-119.5,
        HEIGHT_OFF=10.0, LINE_SCALE=1100.0, SAMP_SCALE=1100.0,
        LAT_SCALE=0.04, LONG_SCALE=0.05, HEIGHT_SCALE=500.0,
        LINE_NUM_COEFF=line_num, LINE_DEN_COEFF=line_den,
        SAMP_NUM_COEFF=samp_num, SAMP_DEN_COEFF=samp_den,
    )


def test_rpc_forward_matches_reference_port():
    """Control-point parity vs a literal transcription of the reference's
    term-by-term evaluation (seagrass_lib.py:57-76, coord_to_rpc_image)."""
    from gis_scripts_spark.index import proj

    rpc = _wv_rpc()
    rng = np.random.default_rng(2)
    lon = rpc["LONG_OFF"] + rng.uniform(-0.04, 0.04, 200)
    lat = rpc["LAT_OFF"] + rng.uniform(-0.03, 0.03, 200)
    hgt = rng.uniform(-50, 400, 200)
    col, row = proj.rpc_ground_to_image(rpc, lon, lat, hgt)

    def ref_poly(c, L, P, H):  # direct numpy port of the reference lines
        return (c[0] + (c[1] * L) + (c[2] * P) + (c[3] * H) + (c[4] * L * P)
                + (c[5] * L * H) + (c[6] * P * H) + (c[7] * L**2) + (c[8] * P**2)
                + (c[9] * H**2) + (c[10] * L * P * H) + (c[11] * L**3)
                + (c[12] * L * P**2) + (c[13] * L * H**2) + (c[14] * L**2 * P)
                + (c[15] * P**3) + (c[16] * P * H**2) + (c[17] * L**2 * H)
                + (c[18] * P**2 * H) + (c[19] * H**3))

    L = (lon - rpc["LONG_OFF"]) / rpc["LONG_SCALE"]
    P = (lat - rpc["LAT_OFF"]) / rpc["LAT_SCALE"]
    H = (hgt - rpc["HEIGHT_OFF"]) / rpc["HEIGHT_SCALE"]
    want_col = (ref_poly(rpc["SAMP_NUM_COEFF"], L, P, H)
                / ref_poly(rpc["SAMP_DEN_COEFF"], L, P, H)) * rpc["SAMP_SCALE"] + rpc["SAMP_OFF"]
    want_row = (ref_poly(rpc["LINE_NUM_COEFF"], L, P, H)
                / ref_poly(rpc["LINE_DEN_COEFF"], L, P, H)) * rpc["LINE_SCALE"] + rpc["LINE_OFF"]
    assert np.allclose(col, want_col, atol=1e-12)
    assert np.allclose(row, want_row, atol=1e-12)
    # reference floors to int (seagrass_lib.py:73-75) — same cells
    assert (col.astype(int) == want_col.astype(int)).all()


def test_rpc_inverse_roundtrip():
    from gis_scripts_spark.index import proj

    rpc = _wv_rpc()
    rng = np.random.default_rng(4)
    lon = rpc["LONG_OFF"] + rng.uniform(-0.04, 0.04, 500)
    lat = rpc["LAT_OFF"] + rng.uniform(-0.03, 0.03, 500)
    col, row = proj.rpc_ground_to_image(rpc, lon, lat, 120.0)
    lon2, lat2 = proj.rpc_image_to_ground(rpc, col, row, 120.0)
    assert np.abs(lon2 - lon).max() < 1e-9
    assert np.abs(lat2 - lat).max() < 1e-9


def test_rpc_warp_nearest_matches_numpy(spark):
    """RPC warp parity: every valid output pixel equals the source pixel
    selected by rounding the RPC-projected fractional coords (numpy
    oracle); sentinel fills outside the footprint."""
    from gis_scripts_spark.index import proj
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import warp as warp_mod

    rpc = _wv_rpc()
    rng = np.random.default_rng(6)
    src = rng.integers(0, 3000, (96, 96, 1)).astype(np.int16)
    packed = proj.rpc_pack(rpc)
    pdf = pd.DataFrame([{
        "image_id": "rpc0", "bytes": bytearray(codec_mod.raw_encode(src)),
        "fmt": "raw", "rpc": packed, "nodata": -9999.0,
    }])
    df = spark.createDataFrame(pdf)
    res = 5e-5
    out = warp_mod.reproject_raster_rpc(df, res, height=120.0, method="nearest").toPandas()
    r = out.iloc[0]
    img = codec_mod.raw_decode(bytes(r["bytes"]))
    assert img.dtype == np.int16
    # numpy oracle over the same target grid
    txs = r["x0"] + (np.arange(r["w"]) + 0.5) * res
    tys = r["y0"] - (np.arange(r["h"]) + 0.5) * res
    glon, glat = np.meshgrid(txs, tys)
    fc, fr = proj.rpc_ground_to_image(rpc, glon.ravel(), glat.ravel(), 120.0)
    c = np.floor(fc + 0.5).astype(np.int64)
    rr = np.floor(fr + 0.5).astype(np.int64)
    ok = (c >= 0) & (c < 96) & (rr >= 0) & (rr < 96)
    want = np.full(glon.size, -9999.0)
    want[ok] = src[rr[ok], c[ok], 0]
    assert np.array_equal(img[:, :, 0].ravel().astype(np.float64), want)
    assert ok.sum() > 1000  # footprint actually covered


# ------------------------------ band-level append (S9, global_match.py:204-285)
def test_band_split_assemble_roundtrip(spark):
    from gis_scripts_spark.raster import bands as bands_mod
    from gis_scripts_spark.raster import codec as codec_mod

    rng = np.random.default_rng(5)
    px = rng.integers(-2000, 2000, (16, 12, 3)).astype(np.int16)
    df = spark.createDataFrame(pd.DataFrame([_typed_image("m0", px, 0.0, 0.0)]),
                               schema=synth.IMAGE_SCHEMA)
    rows = bands_mod.split_bands(df)
    assert rows.count() == 3
    back = bands_mod.assemble_bands(rows).toPandas()
    img = codec_mod.decode(bytes(back.loc[0, "bytes"]), back.loc[0, "fmt"])
    assert img.dtype == np.int16
    assert np.array_equal(img, px)


def test_band_append_idempotent_restart(spark, tmp_path):
    """Per-band restart granularity: re-committing band 0 is a no-op;
    band 1 lands in its own snapshot; assembly stacks both; a duplicate
    band row keeps the LAST committed (update semantics)."""
    from gis_scripts_spark.raster import bands as bands_mod
    from gis_scripts_spark.sources import snaptable

    table = str(tmp_path / "bands_tbl")
    b0 = np.full((8, 8, 1), 10, np.int16)
    b1 = np.full((8, 8, 1), 20, np.int16)
    df0 = spark.createDataFrame(pd.DataFrame([_typed_image("im", b0, 0.0, 0.0)]),
                                schema=synth.IMAGE_SCHEMA)
    df1 = spark.createDataFrame(pd.DataFrame([_typed_image("im", b1, 0.0, 0.0)]),
                                schema=synth.IMAGE_SCHEMA)
    r0 = bands_mod.append_band_snapshot(bands_mod.split_bands(df0), table, 0)
    r0b = bands_mod.append_band_snapshot(bands_mod.split_bands(df0), table, 0)
    assert r0b["id"] == r0["id"]  # idempotent: stage already committed
    from pyspark.sql import functions as F

    rows1 = bands_mod.split_bands(df1).withColumn("band", F.lit(1))
    bands_mod.append_band_snapshot(rows1, table, 1)
    assert snaptable.completed_stages(table) == {"band:0", "band:1"}
    out = bands_mod.read_assembled(spark, table).toPandas()
    from gis_scripts_spark.raster import codec as codec_mod
    img = codec_mod.decode(bytes(out.loc[0, "bytes"]), out.loc[0, "fmt"])
    assert img.shape == (8, 8, 2)
    assert (img[:, :, 0] == 10).all() and (img[:, :, 1] == 20).all()


# ------------------- remaining kernels: dtype preservation sweep
def test_simple_kernels_preserve_int16(spark):
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import ops

    rng = np.random.default_rng(4)
    px = rng.integers(-500, 3000, (16, 16, 1)).astype(np.int16)
    px[0:3, 0:3] = -9999
    df = spark.createDataFrame(pd.DataFrame([_typed_image("k0", px, 0.0, 0.0)]),
                               schema=synth.IMAGE_SCHEMA)

    def decode_one(frame):
        r = frame.toPandas().iloc[0]
        return codec.decode(bytes(r["bytes"]), r["fmt"])

    out = decode_one(ops.add_scalar(df, 500, nodata=-9999))
    assert out.dtype == np.int16
    assert (out[0:3, 0:3] == -9999).all()
    want = np.clip(px.astype(np.float64) + 500, -32768, 32767).astype(np.int16)
    want = np.where(px == -9999, px, want)
    assert np.array_equal(out, want)

    out = decode_one(ops.replace_value(df, -9999, 1234))
    assert out.dtype == np.int16
    assert (out[0:3, 0:3] == 1234).all()

    out = decode_one(ops.smooth(df, sigma=1.0, nodata=-9999))
    assert out.dtype == np.int16
    assert (out[0:3, 0:3] == -9999).all()
    assert out.max() > 255  # no uint8 crush


def test_replace_value_unrepresentable_raises(spark):
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import ops

    px = np.zeros((4, 4, 1), np.uint8)
    rows = [{
        "image_id": "u0", "bytes": bytearray(codec.png_encode(px)), "w": 4, "h": 4,
        "fmt": "png", "caption": "", "phash": 0, "lon": 0.0, "lat": 0.0,
        "nodata": -1.0, "bands": 1,
    }]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    import pyspark.errors

    with pytest.raises(Exception):  # 999 not representable in uint8
        ops.replace_value(df, 0, 999).collect()


# --------------- out-of-range sentinel must never alias a valid pixel
def test_uint8_with_unrepresentable_sentinel_no_aliasing(spark):
    """nodata=-9999 on a uint8 image: uint8(-9999) wraps to 241, which
    must NOT be treated as the sentinel — every pixel (incl. 241) is
    valid, adjusted by apply_linear, and painted by mosaic_composite."""
    from gis_scripts_spark.operators import mosaic as mosaic_mod
    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import ops

    px = np.full((8, 8, 1), 241, np.uint8)  # the wrap-aliased value
    rows = [{
        "image_id": "a0", "bytes": bytearray(codec_mod.png_encode(px)),
        "w": 8, "h": 8, "fmt": "png", "caption": "", "phash": 0,
        "lon": 0.0, "lat": 0.0, "nodata": -9999.0, "bands": 1,
    }]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=synth.IMAGE_SCHEMA)
    params = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "a0", "band": 0, "a": 0.5, "b": 0.0}]))
    out = ops.apply_linear(df, params, nodata_col="nodata").toPandas()
    img = codec_mod.decode(bytes(out.loc[0, "bytes"]), out.loc[0, "fmt"])
    assert (img == 120).all(), "241 aliased as sentinel — gains not applied"

    tiles = mosaic_mod.mosaic_composite(df, tile_px=8, order="last",
                                        nodata_col="nodata", fill_value=0.0).toPandas()
    timg = codec_mod.raw_decode(bytes(tiles.loc[0, "bytes"]))
    assert (timg[:, :, 0] == 241).all(), "241 treated as nodata in mosaic"


def test_cluster_pairs_nonconvergence_raises(spark):
    import pandas as pd

    from gis_scripts_spark.operators import dedup

    chain = pd.DataFrame({"id_a": list(range(6)), "id_b": list(range(1, 7))})
    with pytest.raises(RuntimeError):
        dedup.cluster_pairs_distributed(spark.createDataFrame(chain), max_iters=2)
    ok = dedup.cluster_pairs_distributed(spark.createDataFrame(chain), max_iters=10).toPandas()
    assert (ok["cluster_id"] == 0).all()
