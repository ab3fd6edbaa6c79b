"""Manifest scan + idempotent ingest (SURVEY.md §2.1 S6/S7, §2.3 J7).

Reference semantics: list archive members + parse acquisition metadata into
a DataFrame (``seagrass_lib.py:168-193``), and skip-if-already-complete
downloads (``download_usgs_lidar.py:29-46``). Spark mapping: directory
manifests via the built-in binaryFile source (metadata-only — content is
NOT read unless selected), and a left-anti join against the sink table as
the idempotency filter (followed by a snaptable append, giving MERGE-like
exactly-once ingest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gis_scripts_spark.rowmap import map_rows


def manifest_scan(spark: SparkSession, path_glob: str, suffix: str | None = None) -> DataFrame:
    """(path, modificationTime, length) manifest of files under a glob —
    column-pruned so file CONTENT is never read for metadata-only plans."""
    df = spark.read.format("binaryFile").load(path_glob)
    if suffix:
        df = df.filter(F.col("path").endswith(suffix))
    return df.select("path", "modificationTime", "length")


def read_binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """(path, content) rows — the raw-bytes ingestion source for image
    files (S1 ingest path: binary file -> input_hint row)."""
    return spark.read.format("binaryFile").load(path_glob).select(
        "path", F.col("content").alias("bytes"), "length"
    )


def idempotent_ingest(
    new_rows: DataFrame,
    sink_table: str,
    key: str = "image_id",
    stage: str | None = None,
) -> dict | None:
    """Append only rows whose key is not already in the sink (left-anti
    join — the reference's skip-if-file-exists as a set operation), then
    snapshot-commit. Returns the snapshot record or None if nothing new."""
    from gis_scripts_spark.sources import snaptable

    spark = new_rows.sparkSession
    try:
        existing = snaptable.read_snapshot(spark, sink_table).select(key)
    except FileNotFoundError:
        existing = None
    todo = new_rows if existing is None else new_rows.join(
        F.broadcast(existing), key, "left_anti"
    )
    if todo.isEmpty():
        return None
    return snaptable.write_snapshot(todo, sink_table, stage=stage, mode="append")


def ingest_geotiffs(spark: SparkSession, path_glob: str) -> DataFrame:
    """GeoTIFF scan (S1): .tif files -> input_hint-shaped image rows.

    binaryFile source reads the bytes once per file; a mapInPandas stage
    parses the header (pure-numpy geotiff codec — no GDAL in the sandbox),
    re-encodes pixels as RAW1 (dtype-preserving) and lifts the geo tags
    (ModelTiepoint origin -> lon/lat, GDAL nodata) into ordinary columns.
    Files the codec cannot parse are skipped, as the reference's
    try/except loops skip them; no error row is kept."""
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import geotiff
    from gis_scripts_spark.raster.match import RES_DEG

    schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("bytes", BinaryType(), False),
            StructField("w", IntegerType(), False),
            StructField("h", IntegerType(), False),
            StructField("fmt", StringType(), False),
            StructField("lon", DoubleType(), False),
            StructField("lat", DoubleType(), False),
            StructField("nodata", DoubleType(), True),
            StructField("bands", IntegerType(), False),
        ]
    )

    def fn(row):
        try:
            img, meta = geotiff.tiff_decode(bytes(row["bytes"]))
        except (ValueError, NotImplementedError):
            return
        h, w = img.shape[:2]
        tp = meta.get("tiepoint")
        scale = meta.get("pixel_scale", (RES_DEG, RES_DEG, 0.0))
        if tp is not None:
            # tiepoint anchors raster (i,j) -> model (x,y); origin is the
            # TOP-left corner, footprint model wants BOTTOM-left
            lon = float(tp[3]) - float(tp[0]) * float(scale[0])
            lat = float(tp[4]) - (h - float(tp[1])) * float(scale[1])
        else:
            lon, lat = 0.0, 0.0
        yield (os.path.basename(str(row["path"])), bytearray(codec_mod.raw_encode(img)),
               w, h, "raw", lon, lat, meta.get("nodata"), img.shape[2])

    return map_rows(read_binary_files(spark, path_glob), fn, schema)


def export_cog(
    df: DataFrame,
    out_dir: str,
    tile: int = 256,
    compress: bool | str = True,
    pixel_scale: tuple = (0.001, 0.001),
) -> DataFrame:
    """Distributed Cloud-Optimized GeoTIFF export sink (the inverse of
    ingest_geotiffs): one tiled + overview-pyramided .tif per image row
    (geotiff.cog_encode), written EXECUTOR-side with tmp+atomic-rename so
    a killed job never leaves a torn file, and a manifest DataFrame
    (image_id, path, n_levels, bytes_written) returned for lineage /
    idempotent re-export (left-anti join the manifest like S7). Rows
    carrying lon/lat become the ModelTiepoint origin; a nodata column is
    written as the GDAL nodata tag. Bytes never touch the driver — the
    encode+write runs inside mapInPandas, one image per call."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gis_scripts_spark.raster import codec as codec_mod
    from gis_scripts_spark.raster import geotiff
    from gis_scripts_spark.raster.ops import nodata_of

    has_geo = "lon" in df.columns and "lat" in df.columns
    has_nodata = "nodata" in df.columns
    cols = ["image_id", "bytes", "fmt"]
    if has_geo:
        cols += ["lon", "lat"]
    if has_nodata:
        cols.append("nodata")
    schema = StructType(
        [
            StructField("image_id", StringType(), False),
            StructField("path", StringType(), False),
            StructField("n_levels", IntegerType(), False),
            StructField("bytes_written", LongType(), False),
        ]
    )

    def fn(r):
        img = codec_mod.decode(bytes(r["bytes"]), r["fmt"])
        tp = None
        if has_geo:
            # engine rows anchor at the BOTTOM-left (see ingest_geotiffs);
            # the TIFF tiepoint is the TOP-left
            top_lat = float(r["lat"]) + img.shape[0] * pixel_scale[1]
            tp = (0.0, 0.0, 0.0, float(r["lon"]), top_lat, 0.0)
        buf = geotiff.cog_encode(
            img, tile=tile, compress=compress, pixel_scale=pixel_scale, tiepoint=tp,
            nodata=nodata_of(r, "nodata" if has_nodata else None),
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{r['image_id']}.tif")
        tmp = path + "._tmp"
        with open(tmp, "wb") as f:
            f.write(buf)
        os.replace(tmp, path)
        yield (r["image_id"], path, len(geotiff.tiff_levels(buf)), len(buf))

    return map_rows(df.select(*cols), fn, schema)
