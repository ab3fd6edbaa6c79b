"""GeoJSON / newline-delimited GeoJSON vector source and sink.

RFC 7946 GeoJSON is the interchange format the reference's GDAL stack
reads and writes constantly (``ogr2ogr``-style flows around
``seagrass_lib.py:454-508`` accept any OGR layer, GeoJSON included).
Two scan shapes, because the scale stories differ:

* ``read_geojson`` — whole-file documents (a ``FeatureCollection`` per
  file). One task per file via ``binaryFile`` — fine for dims (admin
  boundaries, AOIs), NOT the 100 TB path: a single multi-GB
  FeatureCollection is one JSON document and fundamentally unsplittable.
* ``read_geojson_seq`` — newline-delimited features (RFC 8142 GeoJSON
  text sequences / GDAL's ``GeoJSONSeq``; optional ASCII RS ``0x1e``
  prefix tolerated). ``spark.read.text`` splits these at line
  boundaries, so one 100 GB file scans as hundreds of parallel
  partitions with no per-file skew — this is the scale path, and the
  one the fixture query exercises.

``write_geojson_seq`` is the matching distributed sink: one Arrow pass
converts WKB + attribute columns to feature lines, ``write.text``
lands them; coordinates are serialized with ``repr`` (shortest
roundtripping form), so read-back is bit-exact — which is what lets
the driver query run under the full value-hash DuckDB oracle.

Geometry support matches the engine's WKB layer: Polygon and
MultiPolygon (holes included). Other types raise loudly rather than
silently dropping features.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.rowmap import map_rows

_RS = "\x1e"  # RFC 8142 record separator, optional per spec

FEATURE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("feature_id", LongType(), False),
        StructField("geom_type", StringType(), False),
        StructField("wkb", BinaryType(), False),
        StructField("properties", StringType(), False),
    ]
)


# ---------------------------------------------------------------- geometry
def geometry_to_wkb(geom: dict) -> tuple[str, bytes]:
    """RFC 7946 Polygon/MultiPolygon -> (type, engine WKB)."""
    gtype = geom.get("type")
    coords = geom.get("coordinates")
    if gtype == "Polygon":
        rings = [np.asarray(r, np.float64)[:, :2] for r in coords]
        return gtype, wkb_mod.polygon_to_wkb(rings)
    if gtype == "MultiPolygon":
        polys = [[np.asarray(r, np.float64)[:, :2] for r in poly] for poly in coords]
        return gtype, wkb_mod.multipolygon_to_wkb(polys)
    raise ValueError(f"unsupported GeoJSON geometry type: {gtype!r}")


def _ring_coords(ring: np.ndarray) -> list[list[float]]:
    # repr() emits the shortest decimal that strtod-roundtrips to the same
    # double, so write->read is bit-exact (same rule the proj SQL oracles
    # rely on for embedded constants).
    return [[float(x), float(y)] for x, y in ring]


def wkb_to_geometry(buf: bytes) -> dict:
    """Engine WKB -> RFC 7946 geometry dict (Polygon or MultiPolygon)."""
    polys = wkb_mod.from_wkb(buf)
    if len(polys) == 1:
        return {
            "type": "Polygon",
            "coordinates": [_ring_coords(r) for r in polys[0]],
        }
    return {
        "type": "MultiPolygon",
        "coordinates": [[_ring_coords(r) for r in rings] for rings in polys],
    }


# ------------------------------------------------------------------- parse
def _feature_rows(feature: dict, fid: int) -> tuple[int, str, bytes, str]:
    geom = feature.get("geometry")
    if geom is None:
        raise ValueError("feature has null geometry")
    gtype, buf = geometry_to_wkb(geom)
    props = feature.get("properties") or {}
    return fid, gtype, buf, json.dumps(props, sort_keys=True)


def parse_geojson(text: str) -> pd.DataFrame:
    """One GeoJSON document -> features frame.

    Accepts a FeatureCollection, a single Feature, or a bare geometry.
    feature_id is the 0-based position within the document (the same
    convention the shapefile scan uses for record numbers).
    """
    doc = json.loads(text)
    dtype = doc.get("type")
    if dtype == "FeatureCollection":
        feats = doc.get("features", [])
    elif dtype == "Feature":
        feats = [doc]
    else:  # bare geometry
        feats = [{"type": "Feature", "geometry": doc, "properties": {}}]
    rows = [_feature_rows(f, i) for i, f in enumerate(feats)]
    return pd.DataFrame(
        rows, columns=["feature_id", "geom_type", "wkb", "properties"]
    )


def read_geojson(spark: SparkSession, path_glob: str) -> DataFrame:
    """Whole-file scan: one FeatureCollection document per file.

    binaryFile -> parse per file in mapInPandas (dims only; a giant
    single-document collection is unsplittable by construction — use
    the seq form for big layers).
    """

    def run(batches):
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                feats = parse_geojson(bytes(row["content"]).decode("utf-8"))
                feats.insert(0, "path", str(row["path"]))
                outs.append(feats)
            yield pd.concat(outs) if outs else pd.DataFrame(
                {f.name: [] for f in FEATURE_SCHEMA.fields}
            )

    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return files.mapInPandas(run, FEATURE_SCHEMA)


_SEQ_SCHEMA = StructType(
    [
        StructField("geom_type", StringType(), False),
        StructField("wkb", BinaryType(), False),
        StructField("properties", StringType(), False),
    ]
)


def read_geojson_seq(spark: SparkSession, path_glob: str) -> DataFrame:
    """Newline-delimited feature scan — the splittable scale path.

    ``spark.read.text`` splits at line boundaries, so partitioning is
    byte-ranged (maxPartitionBytes), not per-file: a single huge
    .geojsonl scans in parallel. Each line is one Feature (or bare
    geometry); an optional leading RS (0x1e) is stripped per RFC 8142.
    There is no positional feature_id here — order is not meaningful
    under a parallel scan; identify features by their properties.
    """

    def fn(row):
        line = row["value"].strip().lstrip(_RS)
        if not line:
            return
        doc = json.loads(line)
        if doc.get("type") == "Feature":
            geom, props = doc.get("geometry"), doc.get("properties") or {}
        else:
            geom, props = doc, {}
        if geom is None:
            raise ValueError("feature has null geometry")
        gtype, buf = geometry_to_wkb(geom)
        yield (gtype, buf, json.dumps(props, sort_keys=True))

    return map_rows(spark.read.text(path_glob), fn, _SEQ_SCHEMA)


# ------------------------------------------------------------------- write
def write_geojson_seq(
    df: DataFrame,
    path: str,
    geometry_col: str = "wkb",
    mode: str = "error",
) -> None:
    """Distributed newline-delimited GeoJSON sink.

    Every non-geometry column becomes a feature property (binary columns
    are rejected — GeoJSON has no binary type). The WKB -> coordinate
    conversion runs in one Arrow pass per partition; the output is a
    plain ``write.text`` directory, so the sink scales exactly like any
    parquet write (no driver collect, no single-file bottleneck).
    """
    prop_cols = [c for c, t in df.dtypes if c != geometry_col]
    for c, t in df.dtypes:
        if c != geometry_col and t == "binary":
            raise ValueError(f"binary property column {c!r} not representable in GeoJSON")

    out_schema = StructType([StructField("value", StringType(), False)])

    def fn(row):
        feat = {
            "type": "Feature",
            "geometry": wkb_to_geometry(bytes(row[geometry_col])),
            "properties": {c: _jsonable(row[c]) for c in prop_cols},
        }
        yield (json.dumps(feat, sort_keys=True),)

    map_rows(df, fn, out_schema).write.mode(mode).text(path)


def _jsonable(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    return v


def property_col(name: str, dtype: str = "string"):
    """Extract one property from the JSON properties column as a Column."""
    return F.get_json_object(F.col("properties"), f"$.{name}").cast(dtype)
