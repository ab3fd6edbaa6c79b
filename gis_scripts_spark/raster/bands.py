"""Band-level table layout — the engine's ``append_band_to_tif``
create-or-update (S9; ``raster/seamless_mosaic/global_match.py:204-285``:
the reference opens the output TIF if it exists and appends one band,
else creates it — per-BAND restart granularity).

Spark-native shape: instead of updating a file in place (no in-place
updates in an immutable-snapshot world), the band is the ROW. A stage that
produces one band commits it as its own snapshot with a ``band:<k>`` stage
key (sources/snaptable.py gives the idempotent skip — exactly the
reference's open-if-exists check), and the multi-band image is assembled
relationally at read time. Restarting a 7-of-8-bands-done job re-runs ONE
band, like the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.raster import codec
from gis_scripts_spark.rowmap import map_rows
from gis_scripts_spark.sources import snaptable

BAND_ROW_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("band", IntegerType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
    ]
)


def split_bands(images: DataFrame) -> DataFrame:
    """Multi-band image rows -> one row per (image_id, band), each carrying
    a single-band RAW1 payload (dtype-preserving). Map-local: decode once,
    emit bands; bytes never shuffle."""

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"])
        for b in range(img.shape[2]):
            yield (row["image_id"], b, bytearray(codec.raw_encode(img[:, :, b])),
                   img.shape[1], img.shape[0], "raw")

    return map_rows(images.select("image_id", "bytes", "fmt"), fn, BAND_ROW_SCHEMA)


def assemble_bands(band_rows: DataFrame, seq_col: str | None = None) -> DataFrame:
    """(image_id, band, bytes) rows -> multi-band image rows (bands stacked
    in band order). Duplicate band rows: keep the row with the greatest
    `seq_col` (the reference's update-in-place semantics — read_assembled
    passes the snapshot chain position, so "last COMMITTED wins" is
    deterministic, not shuffle-arrival order). Without a seq column,
    duplicates are an error — there is no deterministic way to pick.
    One groupBy on image_id: the single shuffle this layout pays."""

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if seq_col is not None:
            pdf = pdf.sort_values(["band", seq_col], kind="mergesort")
        else:
            pdf = pdf.sort_values("band", kind="mergesort")
            if pdf["band"].duplicated().any():
                raise ValueError(
                    f"duplicate band rows for image {key[0]} with no seq_col — "
                    "pass seq_col (read_assembled does) for last-commit-wins")
        pdf = pdf.drop_duplicates("band", keep="last")
        bands = [codec.decode(bytes(r["bytes"]), r["fmt"])[:, :, 0]
                 for _, r in pdf.iterrows()]
        img = np.stack(bands, axis=2)
        return pd.DataFrame(
            [(key[0], bytearray(codec.raw_encode(img)),
              img.shape[1], img.shape[0], img.shape[2], "raw")],
            columns=["image_id", "bytes", "w", "h", "bands", "fmt"],
        )

    out_schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("bytes", BinaryType(), False),
            StructField("w", IntegerType(), False),
            StructField("h", IntegerType(), False),
            StructField("bands", IntegerType(), False),
            StructField("fmt", StringType(), False),
        ]
    )
    return band_rows.groupBy("image_id").applyInPandas(merge, out_schema)


def append_band_snapshot(band_df: DataFrame, table: str, band: int) -> dict:
    """Commit one band's rows as a snapshot with stage key ``band:<k>`` —
    re-running the stage is a NO-OP (snaptable idempotence), giving the
    reference's create-or-update restart granularity per band."""
    return snaptable.write_snapshot(band_df, table, stage=f"band:{band}")


def read_assembled(spark: SparkSession, table: str) -> DataFrame:
    """Read every committed band snapshot and assemble multi-band images.
    Each snapshot's rows are tagged with the snapshot's position in the
    commit chain so a re-committed band resolves to the LAST COMMITTED
    payload deterministically (snapshot ids are monotonic)."""
    snaps = sorted(snaptable.snapshots(table), key=lambda s: s["id"])
    if not snaps:
        raise FileNotFoundError(f"no snapshots in {table}")
    parts = [
        spark.read.parquet(s["path"]).withColumn("_commit_seq", F.lit(i))
        for i, s in enumerate(snaps)
    ]
    allb = parts[0]
    for p in parts[1:]:
        allb = allb.unionByName(p)
    return assemble_bands(allb, seq_col="_commit_seq")
