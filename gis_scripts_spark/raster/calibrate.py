"""Radiometric calibration + atmospheric correction kernels
(SURVEY.md §2.2 P15/P16/P18; reference: ``seagrass_lib.py:122-164,
244-314, 316-427``).

The reference converts WorldView DN to top-of-atmosphere reflectance with
per-band gain/offset/abscal constants, an earth-sun-distance factor and
the solar zenith, then subtracts a Rayleigh-scaled dark-object (DOS)
scatter term per band. Re-expressed here as:

  calibrate:  px' = (px * gain * abscal / bandwidth + offset) * esd_factor
  dos:        scatter_b = dos_ref * (lambda_ref / lambda_b) ** rayleigh_exp
              px' = max(px - scatter_b, 0)

Constants travel as broadcast dicts; the two-pass "min DOS across images"
(A9, ``seagrass_lib.py:365-374``) is agg -> broadcast scalar.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gis_scripts_spark.raster import codec
from gis_scripts_spark.raster.ops import _transform_bytes
from gis_scripts_spark.rowmap import map_rows


def earth_sun_distance_au(julian_day: float) -> float:
    """Earth-sun distance in AU from the Julian day — the standard public
    formula the reference applies (``seagrass_lib.py:126-140``):
    d = 1 - 0.01672 * cos(radians(0.9856 * (JD - 4)))."""
    return 1.0 - 0.01672 * math.cos(math.radians(0.9856 * (julian_day - 4.0)))


def julian_day(year: int, month: int, day: int) -> float:
    """Day-of-year (the reference's JD input convention)."""
    import datetime

    return float(datetime.date(year, month, day).timetuple().tm_yday)


def calibrate(
    df: DataFrame,
    gains: list[float],
    offsets: list[float],
    abscal: list[float] | None = None,
    bandwidth: list[float] | None = None,
    esd_factor: float = 1.0,
) -> DataFrame:
    """Per-band linear DN calibration (P15 semantics, uint8 domain)."""
    nb_max = len(gains)
    abscal = abscal or [1.0] * nb_max
    bandwidth = bandwidth or [1.0] * nb_max

    def k(img, row):
        f = img.astype(np.float64)
        for b in range(min(f.shape[2], nb_max)):
            f[:, :, b] = (f[:, :, b] * gains[b] * abscal[b] / bandwidth[b] + offsets[b]) * esd_factor
        return np.clip(np.rint(f), 0, 255).astype(np.uint8)

    return _transform_bytes(df, k)


def dos_values(df: DataFrame, pct: float = 5.0) -> DataFrame:
    """Per-image dark-object value: median of the lowest `pct` percent of
    band-0 pixels, halved (``seagrass_lib.py:344-347`` semantics).
    Returns (image_id, dos)."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [StructField("image_id", StringType(), False), StructField("dos", DoubleType(), False)]
    )

    def fn(row):
        img = codec.decode(bytes(row["bytes"]), row["fmt"]).astype(np.float64)
        band = np.sort(img[:, :, 0].ravel())
        k = max(1, int(len(band) * pct / 100.0))
        yield (row["image_id"], float(np.median(band[:k]) / 2.0))

    return map_rows(df.select("image_id", "bytes", "fmt"), fn, schema)


def dark_object_subtract(
    df: DataFrame,
    dos_ref: float,
    wavelengths: list[float],
    ref_wavelength: float,
    rayleigh_exp: float = -4.0,
) -> DataFrame:
    """Rayleigh-scaled DOS subtraction per band (P16;
    ``seagrass_lib.py:376-427``): scatter_b = dos_ref *
    (wavelength_b / ref_wavelength) ** rayleigh_exp. `dos_ref` is typically
    agg(min(dos)) across images (A9) — two-pass scalar broadcast.

    Sign convention: `rayleigh_exp` multiplies the RATIO wl/ref directly, so
    it must be NEGATIVE (default -4.0) for the physical red-sky falloff. The
    reference parameterizes the inverse ratio with a positive exponent
    (rayleighExp 4.75); to port its constant, pass the NEGATED value
    (rayleigh_exp=-4.75)."""
    scatters = [
        dos_ref * (wl / ref_wavelength) ** rayleigh_exp for wl in wavelengths
    ]

    def k(img, row):
        f = img.astype(np.float64)
        for b in range(min(f.shape[2], len(scatters))):
            f[:, :, b] = np.maximum(f[:, :, b] - scatters[b], 0.0)
        return np.clip(np.rint(f), 0, 255).astype(np.uint8)

    return _transform_bytes(df, k)


def min_dos(df: DataFrame) -> float:
    """A9 done right: min over ALL images (the reference's early-return bug
    at ``seagrass_lib.py:372`` is intentionally NOT copied —
    SURVEY.md §2.4 A9)."""
    return dos_values(df).agg(F.min("dos")).collect()[0][0]
