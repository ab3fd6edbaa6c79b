"""IDW neighborhood gridding (SURVEY.md §2.3 J9).

Reference: PDAL ``writers.gdal output_type=idw window_size=30``
(``create_dem_tiles_from_array.py:235-240``) — points gridded to raster
nodes by inverse-distance weighting over a neighbor window.

Spark shape: points get a coarse cell key; each point is replicated to its
ring-1 neighbor cells as a HALO contributor (the overlapping-block trick of
``seagrass_lib.py:723-732``); cogroup(target cells) computes the IDW value
of every fine node inside the cell from all contributors — one vectorized
numpy kernel per cell, no point-to-point shuffle beyond the 9x halo.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from gis_scripts_spark.index import cells as cells_mod

IDW_SCHEMA = StructType(
    [
        StructField("cell", LongType(), False),
        StructField("node_lon", DoubleType(), False),
        StructField("node_lat", DoubleType(), False),
        StructField("value", DoubleType(), True),
        StructField("n_contrib", IntegerType(), False),
    ]
)


def idw_grid(
    points_df: DataFrame,
    value: str = "z",
    lon: str = "lon",
    lat: str = "lat",
    cell_z: int = 10,
    nodes_per_cell: int = 8,
    power: float = 2.0,
    max_radius_deg: float | None = None,
) -> DataFrame:
    """IDW-interpolated regular grid: `nodes_per_cell`^2 nodes per covered
    cell. Returns (cell, node_lon, node_lat, value, n_contrib); nodes with
    no contributor in the 3x3 cell window are NULL."""
    pts = points_df.select(
        F.col(lon).cast("double").alias("_lon"),
        F.col(lat).cast("double").alias("_lat"),
        F.col(value).cast("double").alias("_val"),
    ).withColumn("_cell", cells_mod.cell_col("_lon", "_lat", cell_z))

    probe_schema = StructType(
        [StructField("_tcell", LongType(), False), StructField("_lon", DoubleType(), False),
         StructField("_lat", DoubleType(), False), StructField("_val", DoubleType(), False)]
    )

    def halo(batches):
        for pdf in batches:
            arr = pdf["_cell"].to_numpy(np.int64)
            idx, nb = cells_mod.disk_arr(arr, 1)
            yield pd.DataFrame(
                {
                    "_tcell": nb,
                    "_lon": pdf["_lon"].to_numpy()[idx],
                    "_lat": pdf["_lat"].to_numpy()[idx],
                    "_val": pdf["_val"].to_numpy()[idx],
                }
            )

    contrib = pts.mapInPandas(halo, probe_schema)
    targets = pts.select(F.col("_cell").alias("_tcell")).distinct()

    cw, ch = cells_mod.cell_size_deg(cell_z)
    radius = max_radius_deg

    def kernel(keys: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
        if len(keys) == 0:
            return pd.DataFrame({f.name: [] for f in IDW_SCHEMA.fields})
        cell_id = int(keys["_tcell"].iloc[0])
        lon0, lat0, lon1, lat1 = cells_mod.cell_bounds(cell_id)
        nx = np.linspace(lon0, lon1, nodes_per_cell, endpoint=False) + (lon1 - lon0) / (
            2 * nodes_per_cell
        )
        ny = np.linspace(lat0, lat1, nodes_per_cell, endpoint=False) + (lat1 - lat0) / (
            2 * nodes_per_cell
        )
        gx, gy = np.meshgrid(nx, ny)
        gx, gy = gx.ravel(), gy.ravel()
        if len(cand) == 0:
            return pd.DataFrame(
                {"cell": cell_id, "node_lon": gx, "node_lat": gy,
                 "value": np.full(len(gx), np.nan), "n_contrib": np.zeros(len(gx), np.int32)}
            )
        px = cand["_lon"].to_numpy()
        py = cand["_lat"].to_numpy()
        pv = cand["_val"].to_numpy()
        dx = gx[:, None] - px[None, :]
        dy = gy[:, None] - py[None, :]
        d2 = dx * dx + dy * dy
        if radius is not None:
            d2 = np.where(d2 <= radius * radius, d2, np.inf)
        w = 1.0 / np.maximum(d2, 1e-24) ** (power / 2.0)
        w = np.where(np.isinf(d2), 0.0, w)
        tot = w.sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            val = np.where(tot > 0, (w * pv[None, :]).sum(axis=1) / tot, np.nan)
        # exact-hit nodes take the point value (d2 ~ 0 dominates anyway)
        n_contrib = (w > 0).sum(axis=1).astype(np.int32)
        return pd.DataFrame(
            {"cell": cell_id, "node_lon": gx, "node_lat": gy, "value": val, "n_contrib": n_contrib}
        )

    return (
        targets.groupBy("_tcell")
        .cogroup(contrib.groupBy("_tcell"))
        .applyInPandas(kernel, IDW_SCHEMA)
    )
