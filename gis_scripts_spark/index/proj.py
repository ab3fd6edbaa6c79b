"""CRS transforms from scratch (no pyproj/GDAL in the sandbox) — the
engine's analogue of the reference's ``gdalwarp -t_srs`` / ``osr``
reprojection steps (``seagrass_lib.py:232-242,465,481``,
``create_overlaping_area_mask.py:45-53``, ``local_match.py:807`` EPSG:6635).

Implemented pairs (public formulas, Snyder 1987 "Map Projections — A
Working Manual" + the standard UTM series):
- Transverse Mercator / UTM on the WGS84 ellipsoid (Snyder eq. 8-9..8-17 /
  3-21; series accurate to << 1 m inside a UTM zone)
- Polar Stereographic (variant B, Snyder eq. 21-33..21-41; the EPSG:3031 /
  3413 family)
- Web Mercator (spherical; also in index/tiles.py for tiling)

All functions are vectorized numpy over float64 arrays — usable inside
Arrow pandas UDFs (the engine's kernel convention) AND directly as plan
Column math via F.pandas_udf wrappers below.
"""

from __future__ import annotations

import numpy as np

# WGS84
A = 6378137.0
F_INV = 298.257223563
F_FLAT = 1.0 / F_INV
E2 = F_FLAT * (2.0 - F_FLAT)  # first eccentricity squared
EP2 = E2 / (1.0 - E2)  # second eccentricity squared
K0_UTM = 0.9996


# Meridian-arc series constants (Snyder eq. 3-21), precomputed as module
# doubles so the SQL mirror (sql_utm_forward_ctes) embeds the identical
# values the kernel multiplies with.
DEG2RAD = np.pi / 180.0
_MA_C0 = 1 - E2 / 4 - 3 * (E2 * E2) / 64 - 5 * (E2 * E2 * E2) / 256
_MA_C2 = 3 * E2 / 8 + 3 * (E2 * E2) / 32 + 45 * (E2 * E2 * E2) / 1024
_MA_C4 = 15 * (E2 * E2) / 256 + 45 * (E2 * E2 * E2) / 1024
_MA_C6 = 35 * (E2 * E2 * E2) / 3072


def _meridian_arc(lat: np.ndarray) -> np.ndarray:
    """Meridian arc length from equator (Snyder eq. 3-21)."""
    return A * (
        _MA_C0 * lat - _MA_C2 * np.sin(2.0 * lat)
        + _MA_C4 * np.sin(4.0 * lat) - _MA_C6 * np.sin(6.0 * lat)
    )


def utm_forward(lon, lat, zone, north: bool = True):
    """(lon, lat) degrees -> UTM (easting, northing) meters, zone 1..60.
    ``zone`` may be a scalar or a per-point array (vectorized central
    meridian — one kernel pass assigns a whole table across all zones).

    Snyder eq. 8-9..8-15. Accuracy ~mm within the zone (|dlon| <= 3 deg),
    < 1 m out to |dlon| ~ 6 deg.

    Every step is elementary +,-,*,/ plus sin/cos/sqrt in a FIXED
    evaluation order so ``sql_utm_forward_ctes`` reproduces the result
    bit-for-bit in DuckDB (the full value-hash oracle for the
    ``utm_forward_coords`` driver query): tan is computed as sin/cos and
    integer powers as explicit multiply chains, because DuckDB's TAN and
    POW differ from numpy's at the ulp level on this host while
    SIN/COS/SQRT are bit-identical (measured, tests/test_proj_oracle.py).
    """
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    lam = lon * DEG2RAD
    phi = lat * DEG2RAD
    lam0 = (np.asarray(zone, np.float64) * 6.0 - 183.0) * DEG2RAD

    sphi, cphi = np.sin(phi), np.cos(phi)
    n_rad = A / np.sqrt(1.0 - E2 * sphi * sphi)  # prime vertical radius
    tphi = sphi / cphi  # tan(phi) in the bit-reproducible form
    t = tphi * tphi
    c = EP2 * cphi * cphi
    a_ = (lam - lam0) * cphi
    a2 = a_ * a_
    a3 = a2 * a_
    a4 = a2 * a2
    a5 = a4 * a_
    a6 = a4 * a2
    m = _meridian_arc(phi)

    easting = K0_UTM * n_rad * (
        a_ + (1.0 - t + c) * a3 / 6.0
        + (5.0 - 18.0 * t + t * t + 72.0 * c - 58.0 * EP2) * a5 / 120.0
    ) + 500000.0
    northing = K0_UTM * (
        m + n_rad * tphi * (
            a2 / 2.0 + (5.0 - t + 9.0 * c + 4.0 * c * c) * a4 / 24.0
            + (61.0 - 58.0 * t + t * t + 600.0 * c - 330.0 * EP2) * a6 / 720.0
        )
    )
    if not north:
        northing = northing + 10000000.0
    return easting, northing


def _dlit(x: float) -> str:
    """A double literal for DuckDB SQL. Bare decimal literals are DECIMAL
    in DuckDB, and CAST(decimal AS DOUBLE) routes through the DECIMAL
    representation (two roundings — measured 1-ulp drift on long repr
    constants); CAST from a STRING uses strtod, which round-trips Python's
    repr bit-exactly. Same discipline as hex7.sql_cell_ctes."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_utm_forward_ctes(src: str, carry: str, zone, north: bool = True,
                         lon_col: str = "lon", lat_col: str = "lat") -> str:
    """DuckDB CTE chain reproducing ``utm_forward`` BIT-FOR-BIT: returns
    CTE definitions (no leading WITH) ending in ``_utm`` which exposes
    ``{carry}, easting, northing``. Each SQL expression mirrors the
    kernel's evaluation order exactly (left-associative, tan as sphi/cphi,
    powers as the same multiply chains); sin/cos/sqrt/+,-,*,/ are
    bit-identical between numpy and DuckDB on this host, so the oracle is
    an exact-equality gate, not a tolerance check.

    ``zone`` is an int for a fixed zone, or a SQL expression over ``src``
    columns (the per-row-zone vectorized form of the kernel)."""
    d2r = _dlit(DEG2RAD)
    if isinstance(zone, str):
        lam0_sql = f"(CAST({zone} AS DOUBLE) * {_dlit(6.0)} - {_dlit(183.0)}) * {d2r}"
    else:
        lam0_sql = _dlit((np.float64(zone) * 6.0 - 183.0) * DEG2RAD)
    off = "" if north else f" + {_dlit(10000000.0)}"
    return f"""
_u1 AS (SELECT {carry}, {lon_col} * {d2r} AS lam, {lat_col} * {d2r} AS phi,
    {lam0_sql} AS lam0 FROM {src}),
_u2 AS (SELECT {carry}, lam, phi, lam0, SIN(phi) AS sphi, COS(phi) AS cphi FROM _u1),
_u3 AS (SELECT {carry},
    {_dlit(A)} / SQRT({_dlit(1.0)} - {_dlit(E2)} * sphi * sphi) AS n_rad,
    sphi / cphi AS tphi,
    {_dlit(EP2)} * cphi * cphi AS c,
    (lam - lam0) * cphi AS a_,
    {_dlit(A)} * ({_dlit(_MA_C0)} * phi - {_dlit(_MA_C2)} * SIN({_dlit(2.0)} * phi)
        + {_dlit(_MA_C4)} * SIN({_dlit(4.0)} * phi)
        - {_dlit(_MA_C6)} * SIN({_dlit(6.0)} * phi)) AS m
  FROM _u2),
_u4 AS (SELECT {carry}, n_rad, tphi, tphi * tphi AS t, c, a_, m,
    a_ * a_ AS a2 FROM _u3),
_u5 AS (SELECT {carry}, n_rad, tphi, t, c, a_, m, a2,
    a2 * a_ AS a3, a2 * a2 AS a4 FROM _u4),
_u6 AS (SELECT {carry}, n_rad, tphi, t, c, a_, m, a2, a3, a4,
    a4 * a_ AS a5, a4 * a2 AS a6 FROM _u5),
_utm AS (SELECT {carry},
    {_dlit(K0_UTM)} * n_rad * (a_ + ({_dlit(1.0)} - t + c) * a3 / {_dlit(6.0)}
        + ({_dlit(5.0)} - {_dlit(18.0)} * t + t * t + {_dlit(72.0)} * c
           - {_dlit(58.0)} * {_dlit(EP2)}) * a5 / {_dlit(120.0)})
      + {_dlit(500000.0)} AS easting,
    {_dlit(K0_UTM)} * (m + n_rad * tphi * (a2 / {_dlit(2.0)}
        + ({_dlit(5.0)} - t + {_dlit(9.0)} * c + {_dlit(4.0)} * c * c) * a4 / {_dlit(24.0)}
        + ({_dlit(61.0)} - {_dlit(58.0)} * t + t * t + {_dlit(600.0)} * c
           - {_dlit(330.0)} * {_dlit(EP2)}) * a6 / {_dlit(720.0)})){off} AS northing
  FROM _u6)"""


# Footpoint-latitude series constants (Snyder eq. 3-26), precomputed as
# module doubles so sql_utm_inverse_ctes embeds the identical values.
RAD2DEG = 180.0 / np.pi
_E1 = (1 - np.sqrt(1 - E2)) / (1 + np.sqrt(1 - E2))
_FP_C2 = 3 * _E1 / 2 - 27 * (_E1 * _E1 * _E1) / 32
_FP_C4 = 21 * (_E1 * _E1) / 16 - 55 * (_E1 * _E1 * _E1 * _E1) / 32
_FP_C6 = 151 * (_E1 * _E1 * _E1) / 96
_FP_C8 = 1097 * (_E1 * _E1 * _E1 * _E1) / 512


def utm_inverse(easting, northing, zone: int, north: bool = True):
    """UTM meters -> (lon, lat) degrees (Snyder eq. 8-17..8-25).

    Like ``utm_forward``, every step is elementary +,-,*,/ plus
    sin/cos/sqrt in a FIXED evaluation order (tan as sin/cos, integer
    powers as multiply chains, x**1.5 as x*sqrt(x), degrees as an
    explicit RAD2DEG multiply) so ``sql_utm_inverse_ctes`` reproduces the
    result bit-for-bit in DuckDB — which is what puts the inverse leg of
    the CRS warp under the full value-hash oracle (reproject_utm)."""
    x = np.asarray(easting, np.float64) - 500000.0
    y = np.asarray(northing, np.float64)
    if not north:
        y = y - 10000000.0
    lam0 = (zone * 6.0 - 183.0) * DEG2RAD

    m = y / K0_UTM
    mu = m / (A * _MA_C0)
    phi1 = (
        mu
        + _FP_C2 * np.sin(2.0 * mu)
        + _FP_C4 * np.sin(4.0 * mu)
        + _FP_C6 * np.sin(6.0 * mu)
        + _FP_C8 * np.sin(8.0 * mu)
    )
    sphi1, cphi1 = np.sin(phi1), np.cos(phi1)
    tphi1 = sphi1 / cphi1
    c1 = EP2 * cphi1 * cphi1
    t1 = tphi1 * tphi1
    q1 = 1.0 - E2 * sphi1 * sphi1
    n1 = A / np.sqrt(q1)
    r1 = A * (1.0 - E2) / (q1 * np.sqrt(q1))
    d = x / (n1 * K0_UTM)
    d2 = d * d
    d3 = d2 * d
    d4 = d2 * d2
    d5 = d4 * d
    d6 = d4 * d2

    phi = phi1 - (n1 * tphi1 / r1) * (
        d2 / 2.0
        - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * EP2) * d4 / 24.0
        + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * EP2
           - 3.0 * c1 * c1) * d6 / 720.0
    )
    lam = lam0 + (
        d - (1.0 + 2.0 * t1 + c1) * d3 / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * EP2
           + 24.0 * t1 * t1) * d5 / 120.0
    ) / cphi1
    return lam * RAD2DEG, phi * RAD2DEG


def sql_utm_inverse_ctes(src: str, carry: str, zone: int, north: bool = True,
                         e_col: str = "easting", n_col: str = "northing") -> str:
    """DuckDB CTE chain reproducing ``utm_inverse`` BIT-FOR-BIT: returns
    CTE definitions (no leading WITH) ending in ``_inv`` which exposes
    ``{carry}, glon, glat`` — same discipline as sql_utm_forward_ctes
    (string-repr'd double literals, identical evaluation order)."""
    lam0 = _dlit((zone * 6.0 - 183.0) * DEG2RAD)
    y_sql = n_col if north else f"({n_col} - {_dlit(10000000.0)})"
    return f"""
_i1 AS (SELECT {carry}, {e_col} - {_dlit(500000.0)} AS x,
    ({y_sql} / {_dlit(K0_UTM)}) / ({_dlit(A)} * {_dlit(_MA_C0)}) AS mu
  FROM {src}),
_i2 AS (SELECT {carry}, x,
    mu + {_dlit(_FP_C2)} * SIN({_dlit(2.0)} * mu)
       + {_dlit(_FP_C4)} * SIN({_dlit(4.0)} * mu)
       + {_dlit(_FP_C6)} * SIN({_dlit(6.0)} * mu)
       + {_dlit(_FP_C8)} * SIN({_dlit(8.0)} * mu) AS phi1
  FROM _i1),
_i3 AS (SELECT {carry}, x, phi1, SIN(phi1) AS sphi1, COS(phi1) AS cphi1 FROM _i2),
_i4 AS (SELECT {carry}, x, phi1, sphi1, cphi1,
    sphi1 / cphi1 AS tphi1,
    {_dlit(EP2)} * cphi1 * cphi1 AS c1,
    {_dlit(1.0)} - {_dlit(E2)} * sphi1 * sphi1 AS q1
  FROM _i3),
_i5 AS (SELECT {carry}, x, phi1, cphi1, tphi1, c1,
    tphi1 * tphi1 AS t1,
    {_dlit(A)} / SQRT(q1) AS n1,
    {_dlit(A)} * {_dlit(1.0 - E2)} / (q1 * SQRT(q1)) AS r1
  FROM _i4),
_i6 AS (SELECT {carry}, phi1, cphi1, tphi1, c1, t1, n1, r1,
    x / (n1 * {_dlit(K0_UTM)}) AS d
  FROM _i5),
_i7 AS (SELECT {carry}, phi1, cphi1, tphi1, c1, t1, n1, r1, d,
    d * d AS d2 FROM _i6),
_i8 AS (SELECT {carry}, phi1, cphi1, tphi1, c1, t1, n1, r1, d, d2,
    d2 * d AS d3, d2 * d2 AS d4 FROM _i7),
_i9 AS (SELECT {carry}, phi1, cphi1, tphi1, c1, t1, n1, r1, d, d2, d3, d4,
    d4 * d AS d5, d4 * d2 AS d6 FROM _i8),
_inv AS (SELECT {carry},
    ({lam0} + (d - ({_dlit(1.0)} + {_dlit(2.0)} * t1 + c1) * d3 / {_dlit(6.0)}
        + ({_dlit(5.0)} - {_dlit(2.0)} * c1 + {_dlit(28.0)} * t1
           - {_dlit(3.0)} * c1 * c1 + {_dlit(8.0)} * {_dlit(EP2)}
           + {_dlit(24.0)} * t1 * t1) * d5 / {_dlit(120.0)}) / cphi1)
      * {_dlit(RAD2DEG)} AS glon,
    (phi1 - (n1 * tphi1 / r1) * (d2 / {_dlit(2.0)}
        - ({_dlit(5.0)} + {_dlit(3.0)} * t1 + {_dlit(10.0)} * c1
           - {_dlit(4.0)} * c1 * c1 - {_dlit(9.0)} * {_dlit(EP2)}) * d4 / {_dlit(24.0)}
        + ({_dlit(61.0)} + {_dlit(90.0)} * t1 + {_dlit(298.0)} * c1
           + {_dlit(45.0)} * t1 * t1 - {_dlit(252.0)} * {_dlit(EP2)}
           - {_dlit(3.0)} * c1 * c1) * d6 / {_dlit(720.0)}))
      * {_dlit(RAD2DEG)} AS glat
  FROM _i9)"""


# ------------------------------------------------------ polar stereographic
def polar_stereo_forward(lon, lat, south: bool = True, lat_ts: float = -71.0,
                         lon0: float = 0.0):
    """(lon, lat) degrees -> polar stereographic meters (Snyder eq.
    21-33/34, variant with standard parallel lat_ts — EPSG:3031 defaults)."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    sgn = -1.0 if south else 1.0
    phi = np.radians(lat) * sgn  # work in the north convention
    lam = np.radians(lon - lon0) * sgn
    phi_c = np.radians(abs(lat_ts))
    e = np.sqrt(E2)

    def t_of(p):
        return np.tan(np.pi / 4 - p / 2) / (
            (1 - e * np.sin(p)) / (1 + e * np.sin(p))
        ) ** (e / 2)

    t = t_of(phi)
    tc = t_of(phi_c)
    mc = np.cos(phi_c) / np.sqrt(1 - E2 * np.sin(phi_c) ** 2)
    rho = A * mc * t / tc
    x = rho * np.sin(lam)
    y = -rho * np.cos(lam)
    return x * sgn, y * sgn


def polar_stereo_inverse(x, y, south: bool = True, lat_ts: float = -71.0,
                         lon0: float = 0.0):
    """Inverse (Snyder eq. 21-39/40 + 7-9 iteration)."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    sgn = -1.0 if south else 1.0
    xs, ys = x * sgn, y * sgn
    phi_c = np.radians(abs(lat_ts))
    e = np.sqrt(E2)
    tc = np.tan(np.pi / 4 - phi_c / 2) / (
        (1 - e * np.sin(phi_c)) / (1 + e * np.sin(phi_c))
    ) ** (e / 2)
    mc = np.cos(phi_c) / np.sqrt(1 - E2 * np.sin(phi_c) ** 2)
    rho = np.hypot(xs, ys)
    t = rho * tc / (A * mc)
    # iterate Snyder 7-9
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(8):
        phi = np.pi / 2 - 2 * np.arctan(
            t * ((1 - e * np.sin(phi)) / (1 + e * np.sin(phi))) ** (e / 2)
        )
    lam = np.arctan2(xs, -ys)
    return (np.degrees(lam) * sgn + lon0), np.degrees(phi) * sgn


# ------------------------------------------------------------- web mercator
def webmerc_forward(lon, lat):
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    x = A * np.radians(lon)
    y = A * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def webmerc_inverse(x, y):
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    lon = np.degrees(x / A)
    lat = np.degrees(2 * np.arctan(np.exp(y / A)) - np.pi / 2)
    return lon, lat


# ----------------------------------------------------------- dispatch table
def forward(crs: str, lon, lat):
    """crs: 'utm:33n' / 'utm:19s' / 'ps:south' / 'ps:north' / 'webmerc'."""
    if crs.startswith("utm:"):
        zs = crs.split(":")[1]
        return utm_forward(lon, lat, int(zs[:-1]), north=zs[-1].lower() == "n")
    if crs.startswith("ps:"):
        return polar_stereo_forward(lon, lat, south=crs.endswith("south"))
    if crs == "webmerc":
        return webmerc_forward(lon, lat)
    raise ValueError(f"unknown crs {crs}")


def inverse(crs: str, x, y):
    if crs.startswith("utm:"):
        zs = crs.split(":")[1]
        return utm_inverse(x, y, int(zs[:-1]), north=zs[-1].lower() == "n")
    if crs.startswith("ps:"):
        return polar_stereo_inverse(x, y, south=crs.endswith("south"))
    if crs == "webmerc":
        return webmerc_inverse(x, y)
    raise ValueError(f"unknown crs {crs}")


# ----------------------------------------------------- RPC georeferencing
# 20-term cubic rational polynomial camera model (RPC00B term order, public
# NITF/STDI-0002 spec) — the WorldView L1B georeferencing the reference
# projects with `gdalwarp -rpc` (seagrass_lib.py:232-242) and evaluates
# term-by-term in coord_to_rpc_image (seagrass_lib.py:57-76).
_RPC_KEYS = [
    "LINE_OFF", "SAMP_OFF", "LAT_OFF", "LONG_OFF", "HEIGHT_OFF",
    "LINE_SCALE", "SAMP_SCALE", "LAT_SCALE", "LONG_SCALE", "HEIGHT_SCALE",
]


def rpc_poly(c: np.ndarray, L: np.ndarray, P: np.ndarray, H: np.ndarray) -> np.ndarray:
    """Evaluate one 20-coefficient cubic polynomial in normalized
    (L=lon_n, P=lat_n, H=h_n) — RPC00B term order 1, L, P, H, LP, LH, PH,
    L2, P2, H2, LPH, L3, LP2, LH2, L2P, P3, PH2, L2H, P2H, H3
    (seagrass_lib.py:66-69). Vectorized over arrays."""
    c = np.asarray(c, np.float64)
    # Cubes are explicit multiply chains (not **3): numpy's pow differs
    # from DuckDB's at the ulp level, while +,-,*,/ are IEEE-identical —
    # this keeps sql_rpc_poly() a bit-for-bit mirror of this function.
    return (c[0] + c[1] * L + c[2] * P + c[3] * H + c[4] * L * P
            + c[5] * L * H + c[6] * P * H + c[7] * L * L + c[8] * P * P
            + c[9] * H * H + c[10] * L * P * H + c[11] * (L * L * L)
            + c[12] * L * P * P + c[13] * L * H * H + c[14] * L * L * P
            + c[15] * (P * P * P) + c[16] * P * H * H + c[17] * L * L * H
            + c[18] * P * P * H + c[19] * (H * H * H))


def _rpc_poly_chain(c: list, L: str, P: str, H: str) -> str:
    """The rpc_poly sum chain over arbitrary coefficient SQL expressions —
    same RPC00B term order, same left-associative sum, cubes as the same
    multiply chains."""
    return (
        f"({c[0]} + {c[1]} * {L} + {c[2]} * {P} + {c[3]} * {H}"
        f" + {c[4]} * {L} * {P} + {c[5]} * {L} * {H} + {c[6]} * {P} * {H}"
        f" + {c[7]} * {L} * {L} + {c[8]} * {P} * {P} + {c[9]} * {H} * {H}"
        f" + {c[10]} * {L} * {P} * {H} + {c[11]} * ({L} * {L} * {L})"
        f" + {c[12]} * {L} * {P} * {P} + {c[13]} * {L} * {H} * {H}"
        f" + {c[14]} * {L} * {L} * {P} + {c[15]} * ({P} * {P} * {P})"
        f" + {c[16]} * {P} * {H} * {H} + {c[17]} * {L} * {L} * {H}"
        f" + {c[18]} * {P} * {P} * {H} + {c[19]} * ({H} * {H} * {H}))"
    )


def sql_rpc_poly(coeffs, L: str, P: str, H: str) -> str:
    """DuckDB SQL expression reproducing ``rpc_poly`` bit-for-bit for
    literal coefficients."""
    return _rpc_poly_chain([_dlit(v) for v in np.asarray(coeffs, np.float64)], L, P, H)


def sql_rpc_poly_cols(pfx: str, L: str, P: str, H: str) -> str:
    """Same chain with coefficients read from columns ``{pfx}0..{pfx}19``
    — lets one SQL body serve many cameras (a joined coefficient table),
    e.g. the reproject_rpc oracle's per-image VALUES rows."""
    return _rpc_poly_chain([f"{pfx}{k}" for k in range(20)], L, P, H)


def sql_rpc_image_ctes(src: str, carry: str, rpc: dict,
                       lon_col: str = "lon", lat_col: str = "lat",
                       h_col: str = "h") -> str:
    """DuckDB CTE chain reproducing ``rpc_ground_to_image`` BIT-FOR-BIT
    for a literal camera: returns CTE definitions (no leading WITH) ending
    in ``_rpc`` which exposes ``{carry}, img_x, img_y`` (fractional
    sample/line). Pure +,-,*,/ throughout — IEEE-identical between the
    numpy kernel and DuckDB, so the oracle gate is exact equality."""
    ll = f"(({lon_col} - {_dlit(rpc['LONG_OFF'])}) / {_dlit(rpc['LONG_SCALE'])})"
    pp = f"(({lat_col} - {_dlit(rpc['LAT_OFF'])}) / {_dlit(rpc['LAT_SCALE'])})"
    hh = f"(({h_col} - {_dlit(rpc['HEIGHT_OFF'])}) / {_dlit(rpc['HEIGHT_SCALE'])})"
    return f"""
_r1 AS (SELECT {carry}, {ll} AS ln, {pp} AS pn, {hh} AS hn FROM {src}),
_rpc AS (SELECT {carry},
    ({sql_rpc_poly(rpc['SAMP_NUM_COEFF'], 'ln', 'pn', 'hn')}
     / {sql_rpc_poly(rpc['SAMP_DEN_COEFF'], 'ln', 'pn', 'hn')})
      * {_dlit(rpc['SAMP_SCALE'])} + {_dlit(rpc['SAMP_OFF'])} AS img_x,
    ({sql_rpc_poly(rpc['LINE_NUM_COEFF'], 'ln', 'pn', 'hn')}
     / {sql_rpc_poly(rpc['LINE_DEN_COEFF'], 'ln', 'pn', 'hn')})
      * {_dlit(rpc['LINE_SCALE'])} + {_dlit(rpc['LINE_OFF'])} AS img_y
  FROM _r1)"""


def rpc_pack(rpc: dict) -> list:
    """RPC metadata dict -> flat 90-double list (10 offsets/scales in
    _RPC_KEYS order, then LINE_NUM/LINE_DEN/SAMP_NUM/SAMP_DEN x20) — the
    engine's column representation of GDAL's 'RPC' metadata domain."""
    out = [float(rpc[k]) for k in _RPC_KEYS]
    for key in ("LINE_NUM_COEFF", "LINE_DEN_COEFF", "SAMP_NUM_COEFF", "SAMP_DEN_COEFF"):
        v = rpc[key]
        coeffs = [float(x) for x in (v.split() if isinstance(v, str) else v)]
        if len(coeffs) != 20:
            raise ValueError(f"{key}: expected 20 coefficients, got {len(coeffs)}")
        out.extend(coeffs)
    return out


def rpc_unpack(arr) -> dict:
    a = np.asarray(arr, np.float64)
    if a.size != 90:
        raise ValueError(f"packed RPC must be 90 doubles, got {a.size}")
    d = {k: float(a[i]) for i, k in enumerate(_RPC_KEYS)}
    d["LINE_NUM_COEFF"] = a[10:30]
    d["LINE_DEN_COEFF"] = a[30:50]
    d["SAMP_NUM_COEFF"] = a[50:70]
    d["SAMP_DEN_COEFF"] = a[70:90]
    return d


def rpc_ground_to_image(rpc: dict, lon, lat, height=0.0):
    """(lon, lat, h) -> fractional (col/sample, row/line) — the reference's
    coord_to_rpc_image (seagrass_lib.py:57-76) without the int() floor, so
    the result feeds resampling directly. Vectorized."""
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    h = np.broadcast_to(np.asarray(height, np.float64), lon.shape)
    L = (lon - rpc["LONG_OFF"]) / rpc["LONG_SCALE"]
    P = (lat - rpc["LAT_OFF"]) / rpc["LAT_SCALE"]
    H = (h - rpc["HEIGHT_OFF"]) / rpc["HEIGHT_SCALE"]
    col = (rpc_poly(rpc["SAMP_NUM_COEFF"], L, P, H)
           / rpc_poly(rpc["SAMP_DEN_COEFF"], L, P, H)) * rpc["SAMP_SCALE"] + rpc["SAMP_OFF"]
    row = (rpc_poly(rpc["LINE_NUM_COEFF"], L, P, H)
           / rpc_poly(rpc["LINE_DEN_COEFF"], L, P, H)) * rpc["LINE_SCALE"] + rpc["LINE_OFF"]
    return col, row


def rpc_image_to_ground(rpc: dict, col, row, height=0.0, iters: int = 15):
    """(col, row, h) -> (lon, lat): Newton iteration on the normalized 2x2
    system with finite-difference Jacobian — the same inversion strategy as
    GDAL's RPC transformer (there is no closed form). Converges
    quadratically for well-conditioned satellite RPCs."""
    col = np.asarray(col, np.float64)
    row = np.asarray(row, np.float64)
    h = np.broadcast_to(np.asarray(height, np.float64), col.shape)
    H = (h - rpc["HEIGHT_OFF"]) / rpc["HEIGHT_SCALE"]
    # target in normalized image units
    tc = (col - rpc["SAMP_OFF"]) / rpc["SAMP_SCALE"]
    tr = (row - rpc["LINE_OFF"]) / rpc["LINE_SCALE"]

    def fwd(L, P):
        c = rpc_poly(rpc["SAMP_NUM_COEFF"], L, P, H) / rpc_poly(rpc["SAMP_DEN_COEFF"], L, P, H)
        r = rpc_poly(rpc["LINE_NUM_COEFF"], L, P, H) / rpc_poly(rpc["LINE_DEN_COEFF"], L, P, H)
        return c, r

    L = np.zeros_like(col)
    P = np.zeros_like(col)
    eps = 1e-6
    for _ in range(iters):
        c0, r0 = fwd(L, P)
        fx = c0 - tc
        fy = r0 - tr
        cl, rl = fwd(L + eps, P)
        cp, rp = fwd(L, P + eps)
        j00 = (cl - c0) / eps  # dc/dL
        j01 = (cp - c0) / eps  # dc/dP
        j10 = (rl - r0) / eps  # dr/dL
        j11 = (rp - r0) / eps  # dr/dP
        det = j00 * j11 - j01 * j10
        det = np.where(np.abs(det) < 1e-15, 1e-15, det)
        L = L - (j11 * fx - j01 * fy) / det
        P = P - (-j10 * fx + j00 * fy) / det
    return L * rpc["LONG_SCALE"] + rpc["LONG_OFF"], P * rpc["LAT_SCALE"] + rpc["LAT_OFF"]
