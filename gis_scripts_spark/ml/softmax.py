"""Model train / infer / sink (S12) — the reference trains a Keras DCNN on
image patches and saves HDF5 with a class-names attribute
(``seagrass_lib.py:692-700``), then predicts per patch (``:716-742``).

No TensorFlow exists in the sandbox, so the MODEL is an honest linear
stand-in (multinomial softmax over patch features) — but the SPARK
plumbing is the real thing and is what this module contributes:

- distributed full-batch gradient descent: per iteration the (tiny,
  driver-scale) weight matrix broadcasts, every partition computes its
  partial gradient/loss sums in one Arrow batch pass (map-side combine),
  and only K×(D+1)-sized partials cross to the driver — the classic
  data-parallel training shape (model fits on the driver, data never
  leaves executors)
- model sink: save/load as .npz + class-names JSON, the engine's
  HDF5-with-attrs analogue (atomic rename commit like snaptable)
- distributed inference: a broadcast-weights pandas UDF emitting the
  predicted class name per row

Patch featurization (``patch_features``) mirrors the reference's
patch-by-patch window walk (``seagrass_lib.py:716-742``): per-band
mean/std/min/max of each non-overlapping patch, map-local per image.
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

PATCH_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("py", IntegerType(), False),
        StructField("px", IntegerType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


def patch_features(images: DataFrame, patch: int = 8, nodata_col: str | None = None) -> DataFrame:
    """One row per non-overlapping patch: features = per-band
    [mean, std, min, max] over valid pixels (nodata-masked). Map-local —
    bytes never shuffle; the output is a narrow feature table."""
    sel = ["image_id", "bytes", "fmt"] + ([nodata_col] if nodata_col else [])

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        nd = ops.nodata_of(row, nodata_col)
        h, w, nb = img.shape
        py, px = h // patch, w // patch
        if py == 0 or px == 0:
            return
        # vectorized per-patch stats: (py, px, nb, patch*patch)
        win = (
            img[: py * patch, : px * patch]
            .reshape(py, patch, px, patch, nb)
            .transpose(0, 2, 4, 1, 3)
            .reshape(py, px, nb, patch * patch)
        )
        mask = (win != nd) if nd is not None else np.ones(win.shape, bool)
        cnt = mask.sum(axis=-1)
        ok = cnt > 0
        safe = np.maximum(cnt, 1)
        mean = np.where(mask, win, 0.0).sum(axis=-1) / safe
        var = (np.where(mask, win - mean[..., None], 0.0) ** 2).sum(axis=-1) / safe
        std = np.sqrt(var)
        mn = np.where(mask, win, np.inf).min(axis=-1)
        mx = np.where(mask, win, -np.inf).max(axis=-1)
        feats = np.stack(
            [np.where(ok, mean, 0.0), np.where(ok, std, 0.0),
             np.where(ok, mn, 0.0), np.where(ok, mx, 0.0)], axis=-1
        ).reshape(py, px, nb * 4)
        for yy in range(py):
            for xx in range(px):
                yield (row["image_id"], yy, xx, feats[yy, xx].tolist())

    return map_rows(images.select(*sel), fn, PATCH_SCHEMA)


def _partials(weights: np.ndarray):
    """mapInPandas stage: per-batch partial gradient / loss / count sums
    for softmax cross-entropy. weights: (K, D+1), bias last column."""
    k, d1 = weights.shape
    schema = StructType(
        [
            StructField("grad", ArrayType(DoubleType()), False),
            StructField("loss", DoubleType(), False),
            StructField("n", DoubleType(), False),
        ]
    )

    def run(batches):
        w = weights
        g_sum = np.zeros_like(w)
        loss_sum = 0.0
        n_sum = 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["features"].to_numpy())
            xb = np.concatenate([x, np.ones((len(x), 1))], axis=1)  # bias
            y = pdf["label"].to_numpy(np.int64)
            logits = xb @ w.T
            logits -= logits.max(axis=1, keepdims=True)
            e = np.exp(logits)
            p = e / e.sum(axis=1, keepdims=True)
            loss_sum += float(-np.log(np.maximum(p[np.arange(len(y)), y], 1e-300)).sum())
            p[np.arange(len(y)), y] -= 1.0
            g_sum += p.T @ xb
            n_sum += len(y)
        yield pd.DataFrame(
            [(g_sum.ravel().tolist(), loss_sum, n_sum)],
            columns=["grad", "loss", "n"],
        )

    return run, schema


def train_softmax(
    train_df: DataFrame,
    class_names: list[str],
    feature_col: str = "features",
    label_col: str = "label",
    iters: int = 60,
    lr: float = 0.5,
    l2: float = 1e-4,
) -> dict:
    """Distributed full-batch softmax regression. Returns the model dict
    {weights (K, D+1), class_names, losses}. Each iteration is one Spark
    job shipping only K×(D+1) partial sums per partition to the driver."""
    base = train_df.select(
        F.col(feature_col).alias("features"), F.col(label_col).alias("label")
    ).persist()
    first = base.first()
    if first is None:
        base.unpersist(False)
        raise ValueError("empty training set")
    d = len(first["features"])
    k = len(class_names)
    w = np.zeros((k, d + 1))
    losses = []
    try:
        for _ in range(iters):
            run, schema = _partials(w)
            parts = base.mapInPandas(run, schema).toPandas()
            grad = np.sum(
                [np.asarray(g).reshape(k, d + 1) for g in parts["grad"]], axis=0
            )
            n = float(parts["n"].sum())
            if n == 0:
                raise ValueError("empty training set")
            losses.append(float(parts["loss"].sum()) / n)
            w -= lr * (grad / n + l2 * w)
    finally:
        base.unpersist(False)
    return {"weights": w, "class_names": list(class_names), "losses": losses}


def save_model(model: dict, path: str) -> None:
    """Model sink: weights as .npz + class names JSON (the HDF5+attrs
    analogue, seagrass_lib.py:692-694); atomic rename commit."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".w.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        np.savez(f, weights=model["weights"])
    os.replace(tmp, os.path.join(path, "weights.npz"))
    tmp2 = os.path.join(path, f".m.{uuid.uuid4().hex}.tmp")
    with open(tmp2, "w") as f:
        json.dump({"class_names": model["class_names"], "losses": model.get("losses", [])}, f)
    os.replace(tmp2, os.path.join(path, "meta.json"))


def load_model(path: str) -> dict:
    w = np.load(os.path.join(path, "weights.npz"))["weights"]
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return {"weights": w, "class_names": meta["class_names"], "losses": meta.get("losses", [])}


def predict_udf(model: dict):
    """Broadcast-weights inference: features -> predicted class name
    (the reference's per-patch predict loop, seagrass_lib.py:716-742,
    as one vectorized Arrow pass)."""
    w = np.asarray(model["weights"])
    names = list(model["class_names"])

    @F.pandas_udf(StringType())
    def predict(features: pd.Series) -> pd.Series:
        if len(features) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(features.to_numpy())
        xb = np.concatenate([x, np.ones((len(x), 1))], axis=1)
        idx = (xb @ w.T).argmax(axis=1)
        return pd.Series([names[i] for i in idx])

    return predict
