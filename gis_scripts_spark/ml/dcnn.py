"""Real DCNN semantics for the S12 model sink — the reference's exact
architecture (``seagrass_lib.py:576-589``)::

    Conv2D(32, 1x1, relu) -> Dropout(0.01) ->
    Conv2D(16, 3x3 valid, relu) -> Dropout(0.01) ->
    Flatten -> Dense(numClasses, softmax)          optimizer: Adam

No TensorFlow exists in the sandbox, so the layers are from-scratch numpy
(1x1 conv = per-pixel matmul; 3x3 conv = im2col matmul; analytic backprop
verified against finite differences in tests/test_ml.py). Spark does what
Spark should in data-parallel training: per iteration the KB-scale
parameter vector broadcasts, every partition computes its partial
gradient/loss sums over Arrow batches (map-side combine — one
``mapInPandas`` pass, raw patches never leave executors), and the driver
applies the Adam step. This replaces the linear stand-in in
``ml/softmax.py`` as the reference-parity model; softmax remains the
cheap baseline.

Two deliberate differences from the reference, documented not copied:

- the reference compiles the multi-class head with ``binary_crossentropy``
  (``seagrass_lib.py:588``) — a known Keras misuse that silently averages
  per-class sigmoid losses; we train the softmax head with categorical
  cross-entropy (the A9/DOS precedent: bugs are cited, not ported);
- dropout masks are DETERMINISTIC: per (seed, iteration, sample) Philox
  streams keyed by a stable per-sample hash, so the training trajectory
  is independent of partitioning / executor count (Keras' masks are not
  reproducible across workers). Exactness across parallelism is the
  engine's north-rule invariant, so the model trainer honors it too.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster import ops
from gis_scripts_spark.rowmap import map_rows

C1, C2, K2 = 32, 16, 3  # conv1 filters, conv2 filters, conv2 kernel size


# --------------------------------------------------------------------------
# parameters


def init_params(dimension: int, channels: int, n_classes: int, seed: int = 7) -> dict:
    """Glorot-uniform init (Keras' Conv2D/Dense default), deterministic."""
    if dimension < K2:
        raise ValueError(f"dimension {dimension} < {K2}x{K2} conv kernel")
    rng = np.random.default_rng(seed)

    def glorot(fan_in, fan_out, shape):
        lim = float(np.sqrt(6.0 / (fan_in + fan_out)))
        return rng.uniform(-lim, lim, shape)

    h2 = dimension - K2 + 1
    flat = h2 * h2 * C2
    return {
        "W1": glorot(channels, C1, (channels, C1)),
        "b1": np.zeros(C1),
        "W2": glorot(K2 * K2 * C1, C2, (K2 * K2 * C1, C2)),
        "b2": np.zeros(C2),
        "W3": glorot(flat, n_classes, (flat, n_classes)),
        "b3": np.zeros(n_classes),
    }


_PARAM_ORDER = ("W1", "b1", "W2", "b2", "W3", "b3")


def _pack(params: dict) -> np.ndarray:
    return np.concatenate([np.asarray(params[k]).ravel() for k in _PARAM_ORDER])


def _unpack(vec: np.ndarray, dimension: int, channels: int, n_classes: int) -> dict:
    h2 = dimension - K2 + 1
    shapes = {
        "W1": (channels, C1), "b1": (C1,),
        "W2": (K2 * K2 * C1, C2), "b2": (C2,),
        "W3": (h2 * h2 * C2, n_classes), "b3": (n_classes,),
    }
    out, off = {}, 0
    for k in _PARAM_ORDER:
        n = int(np.prod(shapes[k]))
        out[k] = vec[off : off + n].reshape(shapes[k])
        off += n
    if off != len(vec):
        raise ValueError("parameter vector length mismatch")
    return out


# --------------------------------------------------------------------------
# numpy forward / backward (pure function of (params, batch) — runs
# identically on executors and in the driver-side oracle test)


def _im2col(a: np.ndarray) -> np.ndarray:
    """(N, H, W, C) -> (N, H-K2+1, W-K2+1, K2*K2*C) patch matrix."""
    win = np.lib.stride_tricks.sliding_window_view(a, (K2, K2), axis=(1, 2))
    # win: (N, H2, W2, C, K2, K2) -> (N, H2, W2, K2, K2, C)
    return np.ascontiguousarray(win.transpose(0, 1, 2, 4, 5, 3)).reshape(
        a.shape[0], a.shape[1] - K2 + 1, a.shape[2] - K2 + 1, -1
    )


def _dropout_masks(shape1, shape2, p: float, seed: int, it: int, sids: np.ndarray):
    """Per-sample deterministic masks: sample i's stream is Philox keyed by
    (seed, iteration, sid_i) — independent of partitioning and batch
    order. Returns None when p == 0."""
    if p <= 0.0:
        return None, None
    n = shape1[0]
    m1 = np.empty(shape1, dtype=bool)
    m2 = np.empty(shape2, dtype=bool)
    per1 = int(np.prod(shape1[1:]))
    per2 = int(np.prod(shape2[1:]))
    for i in range(n):
        key = (np.uint64(seed) << np.uint64(32)) ^ np.uint64(it)
        bg = np.random.Philox(key=[int(key), int(np.uint64(sids[i]))])
        u = np.random.Generator(bg).random(per1 + per2)
        m1[i] = (u[:per1] >= p).reshape(shape1[1:])
        m2[i] = (u[per1:] >= p).reshape(shape2[1:])
    return m1, m2


def forward(params: dict, x: np.ndarray) -> np.ndarray:
    """Inference forward pass (dropout off): (N, dim, dim, C) -> (N, K)
    class probabilities."""
    n, dim = x.shape[0], x.shape[1]
    a1 = np.maximum(x.reshape(-1, x.shape[3]) @ params["W1"] + params["b1"], 0.0)
    a1 = a1.reshape(n, dim, dim, C1)
    col = _im2col(a1)
    a2 = np.maximum(col @ params["W2"] + params["b2"], 0.0)
    flat = a2.reshape(n, -1)
    logits = flat @ params["W3"] + params["b3"]
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    return e / e.sum(axis=1, keepdims=True)


def loss_and_grads(
    params: dict,
    x: np.ndarray,
    y: np.ndarray,
    dropout: float = 0.0,
    seed: int = 0,
    it: int = 0,
    sids: np.ndarray | None = None,
) -> tuple[float, dict]:
    """SUM (not mean) cross-entropy loss + gradients over the batch —
    partials are summed across partitions, the driver divides by n."""
    n, dim, _, c = x.shape
    keep = 1.0 - dropout

    z1 = (x.reshape(-1, c) @ params["W1"] + params["b1"]).reshape(n, dim, dim, C1)
    r1 = np.maximum(z1, 0.0)
    m1, m2 = _dropout_masks(
        r1.shape, (n, dim - K2 + 1, dim - K2 + 1, C2), dropout, seed, it,
        sids if sids is not None else np.zeros(n, np.uint64),
    )
    a1 = r1 if m1 is None else r1 * m1 / keep
    col = _im2col(a1)
    z2 = col @ params["W2"] + params["b2"]
    r2 = np.maximum(z2, 0.0)
    a2 = r2 if m2 is None else r2 * m2 / keep
    flat = a2.reshape(n, -1)
    logits = flat @ params["W3"] + params["b3"]
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    p = e / e.sum(axis=1, keepdims=True)
    idx = np.arange(n)
    loss = float(-np.log(np.maximum(p[idx, y], 1e-300)).sum())

    dlog = p
    dlog[idx, y] -= 1.0
    gW3 = flat.T @ dlog
    gb3 = dlog.sum(axis=0)
    dflat = dlog @ params["W3"].T
    da2 = dflat.reshape(r2.shape)
    if m2 is not None:
        da2 = da2 * m2 / keep
    dz2 = da2 * (z2 > 0)
    gW2 = col.reshape(-1, K2 * K2 * C1).T @ dz2.reshape(-1, C2)
    gb2 = dz2.reshape(-1, C2).sum(axis=0)
    dcol = (dz2 @ params["W2"].T).reshape(n, dim - K2 + 1, dim - K2 + 1, K2, K2, C1)
    # col2im: additive scatter of the 9 kernel offsets (vectorized per offset)
    da1 = np.zeros_like(a1)
    for ky in range(K2):
        for kx in range(K2):
            da1[:, ky : ky + dim - K2 + 1, kx : kx + dim - K2 + 1, :] += dcol[
                :, :, :, ky, kx, :
            ]
    if m1 is not None:
        da1 = da1 * m1 / keep
    dz1 = da1 * (z1 > 0)
    gW1 = x.reshape(-1, c).T @ dz1.reshape(-1, C1)
    gb1 = dz1.reshape(-1, C1).sum(axis=0)
    return loss, {"W1": gW1, "b1": gb1, "W2": gW2, "b2": gb2, "W3": gW3, "b3": gb3}


# --------------------------------------------------------------------------
# patch pixel extraction (training input: raw dim x dim x C samples, the
# reference's extract-sample loop at seagrass_lib.py:616-646)

PIXELS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("py", IntegerType(), False),
        StructField("px", IntegerType(), False),
        StructField("pixels", ArrayType(DoubleType()), False),
    ]
)


def patch_pixels(
    images: DataFrame, dimension: int = 9, nodata_col: str | None = None
) -> DataFrame:
    """One row per non-overlapping dim x dim patch: pixels = the raw patch
    flattened (dim*dim*C doubles, band-last). Patches containing ANY
    nodata pixel are dropped — the reference's null-sample filter
    (seagrass_lib.py:644-646). Map-local; bytes never shuffle."""
    sel = ["image_id", "bytes", "fmt"] + ([nodata_col] if nodata_col else [])

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        nd = ops.nodata_of(row, nodata_col)
        h, w, nb = img.shape
        ny, nx = h // dimension, w // dimension
        if ny == 0 or nx == 0:
            return
        win = (
            img[: ny * dimension, : nx * dimension]
            .reshape(ny, dimension, nx, dimension, nb)
            .transpose(0, 2, 1, 3, 4)
        )  # (ny, nx, dim, dim, nb)
        valid = np.ones((ny, nx), bool) if nd is None else ~(win == nd).any(axis=(2, 3, 4))
        for yy, xx in zip(*np.nonzero(valid)):
            yield (row["image_id"], int(yy), int(xx), win[yy, xx].ravel().tolist())

    return map_rows(images.select(*sel), fn, PIXELS_SCHEMA)


# --------------------------------------------------------------------------
# distributed training


def _partials(vec, dimension, channels, n_classes, dropout, seed, it):
    schema = StructType(
        [
            StructField("grad", ArrayType(DoubleType()), False),
            StructField("loss", DoubleType(), False),
            StructField("n", DoubleType(), False),
        ]
    )

    def run(batches):
        params = _unpack(vec, dimension, channels, n_classes)
        g_sum = np.zeros_like(vec)
        loss_sum = 0.0
        n_sum = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["pixels"].to_numpy()).reshape(
                len(pdf), dimension, dimension, channels
            )
            y = pdf["label"].to_numpy(np.int64)
            sids = pdf["_sid"].to_numpy(np.int64).astype(np.uint64)
            loss, grads = loss_and_grads(
                params, x, y, dropout=dropout, seed=seed, it=it, sids=sids
            )
            loss_sum += loss
            g_sum += _pack(grads)
            n_sum += len(y)
        yield pd.DataFrame(
            [(g_sum.tolist(), loss_sum, float(n_sum))],
            columns=["grad", "loss", "n"],
        )

    return run, schema


def train_dcnn(
    train_df: DataFrame,
    class_names: list[str],
    dimension: int,
    channels: int,
    pixels_col: str = "pixels",
    label_col: str = "label",
    iters: int = 80,
    lr: float = 1e-3,
    dropout: float = 0.01,
    seed: int = 7,
) -> dict:
    """Distributed full-batch Adam on the reference DCNN. Each iteration:
    broadcast the packed parameter vector (KB-scale), one mapInPandas pass
    computes per-partition gradient partials, the driver applies the Adam
    step (beta1 .9, beta2 .999, eps 1e-7 — the Keras defaults the
    reference trains with). Returns {params, class_names, losses, arch}."""
    k = len(class_names)
    base = train_df.select(
        F.col(pixels_col).alias("pixels"),
        F.col(label_col).alias("label"),
        # stable per-sample dropout stream key: content hash, independent
        # of partitioning (monotonically_increasing_id is NOT)
        F.xxhash64(F.col(pixels_col)).alias("_sid"),
    ).persist()
    try:
        if base.first() is None:
            raise ValueError("empty training set")
        params = init_params(dimension, channels, k, seed=seed)
        vec = _pack(params)
        m = np.zeros_like(vec)
        v = np.zeros_like(vec)
        b1, b2, eps = 0.9, 0.999, 1e-7
        losses = []
        for it in range(iters):
            run, schema = _partials(vec, dimension, channels, k, dropout, seed, it)
            parts = base.mapInPandas(run, schema).toPandas()
            n = float(parts["n"].sum())
            if n == 0:
                raise ValueError("empty training set")
            grad = np.sum([np.asarray(g) for g in parts["grad"]], axis=0) / n
            losses.append(float(parts["loss"].sum()) / n)
            m = b1 * m + (1 - b1) * grad
            v = b2 * v + (1 - b2) * grad * grad
            mhat = m / (1 - b1 ** (it + 1))
            vhat = v / (1 - b2 ** (it + 1))
            vec = vec - lr * mhat / (np.sqrt(vhat) + eps)
    finally:
        base.unpersist(False)
    return {
        "params": _unpack(vec, dimension, channels, k),
        "class_names": list(class_names),
        "losses": losses,
        "arch": {"dimension": dimension, "channels": channels, "classes": k},
    }


# --------------------------------------------------------------------------
# model sink (npz + JSON attrs — the HDF5-with-class_names-attr analogue,
# seagrass_lib.py:692-694) and broadcast inference


def save_model(model: dict, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".w.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        np.savez(f, **{k: np.asarray(v) for k, v in model["params"].items()})
    os.replace(tmp, os.path.join(path, "weights.npz"))
    tmp2 = os.path.join(path, f".m.{uuid.uuid4().hex}.tmp")
    with open(tmp2, "w") as f:
        json.dump(
            {
                "class_names": model["class_names"],
                "losses": model.get("losses", []),
                "arch": model["arch"],
            },
            f,
        )
    os.replace(tmp2, os.path.join(path, "meta.json"))


def load_model(path: str) -> dict:
    npz = np.load(os.path.join(path, "weights.npz"))
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return {
        "params": {k: npz[k] for k in _PARAM_ORDER},
        "class_names": meta["class_names"],
        "losses": meta.get("losses", []),
        "arch": meta["arch"],
    }


def predict_udf(model: dict):
    """Broadcast-weights inference: flattened patch pixels -> predicted
    class name (the reference's block predict loop, seagrass_lib.py:698-742,
    as one vectorized Arrow pass per batch)."""
    params = {k: np.asarray(v) for k, v in model["params"].items()}
    names = list(model["class_names"])
    dim = int(model["arch"]["dimension"])
    ch = int(model["arch"]["channels"])

    @F.pandas_udf(StringType())
    def predict(pixels: pd.Series) -> pd.Series:
        if len(pixels) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(pixels.to_numpy()).reshape(len(pixels), dim, dim, ch)
        idx = forward(params, x).argmax(axis=1)
        return pd.Series([names[i] for i in idx])

    return predict
