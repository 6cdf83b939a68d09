"""Spatial reference support, pure formulas (pyproj/GDAL unavailable).

The reference resolves any SRS through GDAL with a cached transform
(src/warp.cpp:33-55; src/view.h:703-711 accepts EPSG/WKT/proj4); footprints
are always stored in EPSG:4326 (src/image_collection.cpp:309-326) and query
rectangles are transformed to 4326 for the find_range_st predicate
(src/image_collection.cpp:1326). Here one FAMILY TABLE plays GDAL's part:
every SRS string resolves, through ``resolve``, to a ``Family`` row plus
that family's parameters, and normalize, is_separable and every transform
entry point (from_wgs84, points_to_wgs84, axis_to_wgs84, grid_to_wgs84,
bbox_to_wgs84) dispatch on the row. The rows:

- EPSG:4326 identity; EPSG:3857 spherical web Mercator
- ETM transverse Mercator on any ellipsoid (Snyder 1987 series): the
  EPSG:326xx/327xx UTM zones and EPSG:27700 are ETM instances
- PS polar stereographic (EPSG:3031/3413), LAEA (EPSG:3035), SINU spherical
  sinusoidal (the MODIS grid), LCC (EPSG:2154), AEA (EPSG:5070)
- SOMERC Swiss oblique Mercator (EPSG:2056/21781), HOM Hotine oblique
  Mercator (EPSG:29873), AEQD modified azimuthal equidistant (EPSG:3295)
- CEA cylindrical equal area (EPSG:6933), EQC equidistant cylindrical
  (EPSG:4087)

Kernels are DATUM-LOCAL: each maps the projection's own geodetic
coordinates to grid coordinates and back. Every ellipsoidal family's params
share one set of datum fields (``_Datum``: ``a``, ``e2`` and an optional
``helm``, a +towgs84 Helmert or an NTv2 grid), and the entry points apply
that datum stage once, around the kernel.

Known EPSG codes map to their registry parameters (``_KNOWN``). One parser,
``_proj4_datum``, reads the ellipsoid and datum of every proj4 string
(WGS84 when it names none; +datum=WGS84, NAD83 or OSGB36), and a string
resolves exactly or raises: it canonicalizes to an EPSG code only when all
its parameters, ellipsoid and datum included, are that code's; any other
parameter set becomes a SELF-DESCRIBING dynamic key ("PS:...",
"LAEA:...", ...) that any process parses back (``_PARSED`` caches it).
Keys are persisted (netCDF/HDF5 attributes, view JSON), so each row's key
field spec fixes its text format. Adding a family is one row plus its
kernels: forward, inverse and the inverse's SQL mirror. The latitude
series the kernels share are written once each: the meridian arc and its
footpoint inverse (``_tm_consts``), the inverse conformal latitude
(``_chi_series``) and the inverse authalic latitude (``_authalic_series``).

4326, 3857, CEA and EQC are separable (x depends only on lon, y only on
lat): 1-D axis vectors transform alone and corners map to corners. The
others force the warp kernels onto 2-D coordinate grids (grid_to_wgs84)
and conservative bbox transforms (densified edge sampling, bbox_to_wgs84)
— the per-cell inside test stays exact, the join predicate only needs to
be a superset.

Every ``*_inverse_sql`` emits the SAME inverse series as ANSI SQL with the
SAME operation order, so a SQL engine (DuckDB oracle / Spark SQL)
reproduces the numpy cell-center coordinates to within libm ulps; driver
queries built on them keep footprint edges on a coarse decimal grid so
ulp-level disagreement can never flip a coverage decision (margins
asserted in tests). They are datum-local like the kernels: chain
``_datum_sql`` on top when the params carry a Helmert ``helm``.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

R = 6378137.0  # WGS84 spherical radius used by EPSG:3857

# WGS84 ellipsoid; UTM zone scale and false origins
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
E2 = F_WGS84 * (2.0 - F_WGS84)
EP2 = E2 / (1.0 - E2)
K0 = 0.9996
FE = 500000.0
FN_SOUTH = 10000000.0

# ellipsoids: +ellps name -> (a, 1/f)
_ELLPS = {
    "wgs84": (6378137.0, 298.257223563),
    "grs80": (6378137.0, 298.257222101),
    "airy": (6377563.396, 299.3249646),
    "bessel": (6377397.155, 299.1528128),
    "intl": (6378388.0, 297.0),
    "clrk66": (6378206.4, 294.978698214),  # 1/f from a/(a-b), Clarke 1866
}


def _e2_of(a: float, inv_f: float) -> float:
    f = 1.0 / inv_f
    return f * (2.0 - f)


# GRS80 (EPSG:3035's datum ETRS89) differs from WGS84 only in the 12th
# significant digit of the flattening
_E2_GRS80 = _e2_of(*_ELLPS["grs80"])

# OSGB36 -> WGS84 (the published national 7-param set; PROJ's own towgs84
# for +datum=OSGB36)
_OSGB_HELM = (446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)

# +datum name -> (+ellps name, datum stage to WGS84). NAD27 and the other
# grid-based datums need NADCON grids the package does not ship, so any
# other name raises.
_DATUMS = {"wgs84": ("wgs84", None), "nad83": ("grs80", None),
           "osgb36": ("airy", _OSGB_HELM)}


@dataclass(frozen=True, kw_only=True)
class _Datum:
    """The ellipsoid and datum every ellipsoidal family's params share:
    semi-major axis ``a``, squared eccentricity ``e2`` and ``helm``, the
    datum stage to WGS84 (a +towgs84 7-tuple (tx,ty,tz,rx",ry",rz",ds_ppm),
    an ("ntv2", path) grid tag, or None). Kernels read ``a`` and ``e2``
    only; the entry points apply ``helm`` around them."""

    a: float
    e2: float
    helm: tuple | None = None


@dataclass(frozen=True)
class PolarPS(_Datum):
    """Polar stereographic variant B (EPSG method 9829; Snyder 1987 §21):
    standard-parallel form."""

    lat_ts: float  # latitude of standard parallel (deg, signed)
    lon0: float    # longitude of origin (deg)
    fe: float
    fn: float
    south: bool


@dataclass(frozen=True)
class LaeaParams(_Datum):
    """Lambert azimuthal equal-area, ellipsoidal (EPSG method 9820;
    Snyder 1987 §24) — EPSG:3035 is the ESA/EEA European grid."""

    lat0: float
    lon0: float
    fe: float
    fn: float


def _proj4_kv(s: str) -> dict:
    """'+proj=utm +zone=33 +south' -> {'proj': 'utm', 'zone': '33',
    'south': True} (flags map to True). Values are lower-cased except a
    +nadgrids file path."""
    out = {}
    for tok in s.split():
        tok = tok.lstrip("+")
        if not tok:
            continue
        k, _, v = tok.partition("=")
        k = k.lower()
        out[k] = (v if k == "nadgrids" else v.lower()) if v else True
    return out


def _ellps(name: str, s: str = "") -> tuple:
    """(a, e2) of an +ellps name."""
    if name not in _ELLPS:
        raise ValueError(f"unknown +ellps={name} in {s!r}")
    return _ELLPS[name][0], _e2_of(*_ELLPS[name])


_ELLPS_KEYS = (set(), {"ellps"}, {"r"}, {"a"}, {"a", "b"}, {"a", "rf"}, {"a", "f"})


def _proj4_datum(kv: dict, s: str):
    """(a, e2, helm) of a proj4 string, for every +proj.

    The ellipsoid is +ellps, +R or +a (a sphere), or +a with one of
    +b/+rf/+f; WGS84 when none is given. The datum stage is one NTv2 .gsb
    +nadgrids grid (@null is none), else +towgs84 (3 or 7 values; all
    zero is none). A +datum names a _DATUMS row and must agree with any
    ellipsoid or shift given next to it. Anything else raises ValueError:
    no string silently becomes WGS84."""
    given = {k for k in ("ellps", "r", "a", "b", "rf", "f") if kv.get(k) not in (None, True)}
    if given not in _ELLPS_KEYS:
        raise ValueError(f"give the ellipsoid as +ellps, +R, or +a with +b/+rf/+f: {s!r}")
    ell = _ellps(kv["ellps"], s) if "ellps" in given else None
    if "r" in given:
        ell = float(kv["r"]), 0.0
    if "a" in given:
        a = float(kv["a"])
        f = (1.0 / float(kv["rf"]) if "rf" in given else float(kv["f"]) if "f" in given
             else (a - float(kv.get("b", a))) / a)
        ell = a, f * (2.0 - f)
    if ell is not None and not (ell[0] > 0.0 and 0.0 <= ell[1] < 1.0):
        raise ValueError(f"not an ellipsoid: a={ell[0]}, e2={ell[1]} in {s!r}")
    helm, shifted = None, "towgs84" in kv
    ng = str(kv.get("nadgrids", "@null"))
    if ng.lower() not in ("@null", "null"):
        # the grid's tag rides the helm slot and the datum stage dispatches
        # on it (sources/ntv2.py); PROJ gives +nadgrids precedence
        if "," in ng or not ng.lower().endswith(".gsb"):
            raise ValueError(f"+nadgrids must name one NTv2 .gsb grid: {s!r}")
        helm, shifted = ("ntv2", ng.lstrip("@")), True
    elif shifted:
        vals = [float(v) for v in str(kv["towgs84"]).split(",")]
        if len(vals) == 3:  # the EPSG geocentric translation special case
            vals += [0.0, 0.0, 0.0, 0.0]
        if len(vals) != 7:
            raise ValueError(f"+towgs84 needs 3 or 7 values in {s!r}")
        helm = tuple(vals) if any(vals) else None
    if "datum" not in kv:
        return (*(ell or (A_WGS84, E2)), helm)
    if kv["datum"] not in _DATUMS:
        raise ValueError(f"unsupported +datum={kv['datum']} (WGS84, NAD83, OSGB36): {s!r}")
    name, dhelm = _DATUMS[kv["datum"]]
    if ell not in (None, _ellps(name)) or shifted and helm != dhelm:
        raise ValueError(f"+datum={kv['datum']} contradicts the ellipsoid or shift: {s!r}")
    return (*_ellps(name), dhelm)


# -- web mercator (numpy, kernel-side) ----------------------------------------

def lon_to_x(lon):
    return np.radians(np.asarray(lon, dtype=np.float64)) * R


def lat_to_y(lat):
    lat = np.asarray(lat, dtype=np.float64)
    return R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))


def x_to_lon(x):
    return np.degrees(np.asarray(x, dtype=np.float64) / R)


def y_to_lat(y):
    return np.degrees(2.0 * np.arctan(np.exp(np.asarray(y, dtype=np.float64) / R)) - np.pi / 2.0)


def _flit(v: float) -> str:
    """Float literal in E-notation — parsed as DOUBLE (not DECIMAL) by both
    DuckDB and Spark SQL; 17 significant digits round-trip float64."""
    return f"{float(v):.17e}"


# -- latitude series (Snyder 1987), one definition each ----------------------
#
# Each returns, for a given e2, the coefficients of an inverse series
# phi = v + c1 sin 2v + c2 sin 4v + ... (_tm_consts also the meridian-arc
# coefficients _meridian_arc sums); _series and _series_sql evaluate one
# with the same operation order in numpy and SQL.

def _tm_consts(e2: float):
    """Meridional-arc series (Snyder eq. 3-21) plus the footpoint-latitude
    series coefficients of its inverse (eq. 3-26)."""
    c0 = 1.0 - e2 / 4.0 - 3.0 * e2 ** 2 / 64.0 - 5.0 * e2 ** 3 / 256.0
    c2 = 3.0 * e2 / 8.0 + 3.0 * e2 ** 2 / 32.0 + 45.0 * e2 ** 3 / 1024.0
    c4 = 15.0 * e2 ** 2 / 256.0 + 45.0 * e2 ** 3 / 1024.0
    c6 = 35.0 * e2 ** 3 / 3072.0
    e1 = (1.0 - math.sqrt(1.0 - e2)) / (1.0 + math.sqrt(1.0 - e2))
    foot = (3.0 * e1 / 2.0 - 27.0 * e1 ** 3 / 32.0,
            21.0 * e1 ** 2 / 16.0 - 55.0 * e1 ** 4 / 32.0,
            151.0 * e1 ** 3 / 96.0,
            1097.0 * e1 ** 4 / 512.0)
    return c0, c2, c4, c6, foot


def _chi_series(e2: float):
    """Inverse conformal-latitude series coefficients (Snyder eq. 3-5)."""
    return (
        e2 / 2.0 + 5.0 * e2 ** 2 / 24.0 + e2 ** 3 / 12.0 + 13.0 * e2 ** 4 / 360.0,
        7.0 * e2 ** 2 / 48.0 + 29.0 * e2 ** 3 / 240.0 + 811.0 * e2 ** 4 / 11520.0,
        7.0 * e2 ** 3 / 120.0 + 81.0 * e2 ** 4 / 1120.0,
        4279.0 * e2 ** 4 / 161280.0,
    )


def _authalic_series(e2: float):
    """Inverse authalic-latitude series coefficients (Snyder eq. 3-18)."""
    return (
        e2 / 3.0 + 31.0 * e2 ** 2 / 180.0 + 517.0 * e2 ** 3 / 5040.0,
        23.0 * e2 ** 2 / 360.0 + 251.0 * e2 ** 3 / 3780.0,
        761.0 * e2 ** 3 / 45360.0,
    )


def _meridian_arc(a: float, e2: float, phi, sin):
    """Meridional arc from the equator to latitude phi (radians): the
    _tm_consts series over arrays (sin=np.sin) or scalars (math.sin)."""
    c0, c2, c4, c6, _ = _tm_consts(e2)
    return a * (c0 * phi - c2 * sin(2.0 * phi) + c4 * sin(4.0 * phi) - c6 * sin(6.0 * phi))


def _series(v, coeffs):
    """v + c1 sin(2v) + c2 sin(4v) + ... (numpy)."""
    out = v
    for k, c in enumerate(coeffs, 1):
        out = out + c * np.sin((2.0 * k) * v)
    return out


def _series_sql(v: str, coeffs) -> str:
    """SQL mirror of _series, same operation order."""
    terms = "".join(f" + {_flit(c)} * sin({2.0 * k} * {v})"
                    for k, c in enumerate(coeffs, 1))
    return f"({v}{terms})"


# -- polar stereographic variant B (numpy; Snyder 1987 §21, EPSG 9829) --------

_HALF_PI = math.pi / 2.0


def _ps_t(phi: np.ndarray, e: float, south: bool) -> np.ndarray:
    """Isometric-latitude factor t (Snyder eq. 15-9 / 21-27)."""
    es = e * np.sin(phi)
    if south:
        return np.tan(np.pi / 4.0 + phi / 2.0) / ((1.0 + es) / (1.0 - es)) ** (e / 2.0)
    return np.tan(np.pi / 4.0 - phi / 2.0) * ((1.0 + es) / (1.0 - es)) ** (e / 2.0)


def _ps_consts(p: PolarPS):
    """(e, c, k0): the eccentricity, the ellipsoidal stereographic constant
    c = sqrt((1+e)^(1+e) (1-e)^(1-e)) and the scale at the pole implied by
    the standard parallel (variant B)."""
    e = math.sqrt(p.e2)
    c = math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
    phi_f = math.radians(p.lat_ts)
    es = e * math.sin(phi_f)
    m_f = math.cos(phi_f) / math.sqrt(1.0 - es * es)
    t_f = float(_ps_t(np.asarray(phi_f), e, p.south))
    return e, c, m_f * c / (2.0 * t_f)


def ps_forward(lon, lat, p: PolarPS):
    """(lon, lat) degrees -> polar-stereographic (x, y) meters (vectorized)."""
    e, c, k0 = _ps_consts(p)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    rho = 2.0 * p.a * k0 * _ps_t(phi, e, p.south) / c
    x = p.fe + rho * np.sin(lam)
    y = p.fn + (rho * np.cos(lam) if p.south else -rho * np.cos(lam))
    return x, y


def ps_inverse(x, y, p: PolarPS):
    """Polar-stereographic (x, y) meters -> (lon, lat) degrees.

    Operation order mirrors ps_inverse_sql EXACTLY (same scalar literals,
    same expression tree) — cross-engine cell-center equality is how the
    driver oracle replays the kernel in SQL."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    _e, c, k0 = _ps_consts(p)
    s = c / (2.0 * p.a * k0)  # one scalar, shared with SQL
    dx = x - p.fe
    dy = y - p.fn
    rho = np.sqrt(dx * dx + dy * dy)
    tp = rho * s
    if p.south:
        chi = 2.0 * np.arctan(tp) - _HALF_PI
        lam = np.arctan2(dx, dy)
    else:
        chi = _HALF_PI - 2.0 * np.arctan(tp)
        lam = np.arctan2(dx, -dy)
    phi = _series(chi, _chi_series(p.e2))
    return p.lon0 + np.degrees(lam), np.degrees(phi)


def ps_inverse_sql(x_expr: str, y_expr: str, p: PolarPS):
    """(lon_sql, lat_sql) ANSI-SQL mirror of ps_inverse — same operation
    order, E-notation DOUBLE literals (runnable in DuckDB and Spark SQL)."""
    L = _flit
    _e, c, k0 = _ps_consts(p)
    s = c / (2.0 * p.a * k0)
    dx = f"(({x_expr}) - {L(p.fe)})"
    dy = f"(({y_expr}) - {L(p.fn)})"
    rho = f"sqrt({dx} * {dx} + {dy} * {dy})"
    tp = f"({rho} * {L(s)})"
    if p.south:
        chi = f"(2.0 * atan({tp}) - {L(_HALF_PI)})"
        lam = f"atan2({dx}, {dy})"
    else:
        chi = f"({L(_HALF_PI)} - 2.0 * atan({tp}))"
        lam = f"atan2({dx}, -{dy})"
    deg = L(180.0 / math.pi)
    lat = f"({_series_sql(chi, _chi_series(p.e2))} * {deg})"
    lon = f"({L(p.lon0)} + {lam} * {deg})"
    return lon, lat


# -- Lambert azimuthal equal-area (numpy; Snyder 1987 §24, EPSG 9820) ---------

def _laea_q(phi, e: float, e2: float):
    """Snyder's q (eq. 3-12); 2 sin(phi), its limit, on a sphere."""
    if e == 0.0:
        return 2.0 * np.sin(phi)
    es = e * np.sin(phi)
    return (1.0 - e2) * (
        np.sin(phi) / (1.0 - e2 * np.sin(phi) ** 2)
        - (1.0 / (2.0 * e)) * np.log((1.0 - es) / (1.0 + es))
    )


def _laea_consts(p: LaeaParams):
    e = math.sqrt(p.e2)
    qp = float(_laea_q(np.asarray(_HALF_PI), e, p.e2))
    phi0 = math.radians(p.lat0)
    q0 = float(_laea_q(np.asarray(phi0), e, p.e2))
    beta1 = math.asin(q0 / qp)
    rq = p.a * math.sqrt(qp / 2.0)
    m1 = math.cos(phi0) / math.sqrt(1.0 - p.e2 * math.sin(phi0) ** 2)
    d = p.a * m1 / (rq * math.cos(beta1))
    return e, qp, beta1, rq, d


def laea_forward(lon, lat, p: LaeaParams):
    """(lon, lat) degrees -> LAEA (x, y) meters (vectorized)."""
    e, qp, beta1, rq, d = _laea_consts(p)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    beta = np.arcsin(np.clip(_laea_q(phi, e, p.e2) / qp, -1.0, 1.0))
    b = rq * np.sqrt(
        2.0 / (1.0 + math.sin(beta1) * np.sin(beta)
               + math.cos(beta1) * np.cos(beta) * np.cos(lam))
    )
    x = p.fe + b * d * np.cos(beta) * np.sin(lam)
    y = p.fn + (b / d) * (
        math.cos(beta1) * np.sin(beta) - math.sin(beta1) * np.cos(beta) * np.cos(lam)
    )
    return x, y


def laea_inverse(x, y, p: LaeaParams):
    """LAEA (x, y) meters -> (lon, lat) degrees (vectorized); authalic-
    latitude series inverse (Snyder eq. 3-18)."""
    e, qp, beta1, rq, d = _laea_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xp = (x - p.fe) / d
    yp = (y - p.fn) * d
    rho = np.sqrt(xp * xp + yp * yp)
    with np.errstate(invalid="ignore"):
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * rq), -1.0, 1.0))
        betap = np.arcsin(np.clip(
            np.cos(ce) * math.sin(beta1)
            + np.where(rho > 0, yp * np.sin(ce) * math.cos(beta1) / np.where(rho > 0, rho, 1.0), 0.0),
            -1.0, 1.0,
        ))
    lam = np.arctan2(
        xp * np.sin(ce),
        rho * math.cos(beta1) * np.cos(ce) - yp * math.sin(beta1) * np.sin(ce),
    )
    lat = np.degrees(_series(betap, _authalic_series(p.e2)))
    lon = p.lon0 + np.degrees(lam)
    # exactly at the projection origin the direction is undefined: (lat0, lon0)
    at0 = rho == 0.0
    if np.any(at0):
        lat = np.where(at0, p.lat0, lat)
        lon = np.where(at0, p.lon0, lon)
    return lon, lat


def laea_inverse_sql(x_expr: str, y_expr: str, p: LaeaParams):
    """(lon_sql, lat_sql) ANSI-SQL mirror of laea_inverse — same operation
    order, E-notation DOUBLE literals. Assumes rho > 0 and interior points
    (the np.clip guards are identity there; driver views are margin-
    audited to stay clear of the origin and the horizon)."""
    _e, qp, beta1, rq, d = _laea_consts(p)
    L = _flit
    deg = L(180.0 / math.pi)
    xp = f"((({x_expr}) - {L(p.fe)}) / {L(d)})"
    yp = f"((({y_expr}) - {L(p.fn)}) * {L(d)})"
    rho = f"sqrt({xp} * {xp} + {yp} * {yp})"
    ce = f"(2.0 * asin({rho} / {L(2.0 * rq)}))"
    betap = (
        f"asin(cos({ce}) * {L(math.sin(beta1))}"
        f" + {yp} * sin({ce}) * {L(math.cos(beta1))} / {rho})"
    )
    lam = (
        f"atan2({xp} * sin({ce}),"
        f" {rho} * {L(math.cos(beta1))} * cos({ce})"
        f" - {yp} * {L(math.sin(beta1))} * sin({ce}))"
    )
    lat = f"({_series_sql(betap, _authalic_series(p.e2))} * {deg})"
    lon = f"({L(p.lon0)} + {lam} * {deg})"
    return lon, lat


# -- sinusoidal (numpy; Snyder 1987 §30, spherical form) ----------------------

@dataclass(frozen=True)
class SinuParams:
    """Spherical sinusoidal (Snyder 1987 §30, eqs. 30-1/30-2): equal-area,
    equally-spaced parallels; x = R·λ·cos φ, y = R·φ. The MODIS land grid
    (all MxD* products this engine ships presets for) uses the WGS84
    authalic sphere R = 6 371 007.181 m with lon0 = 0 — proj4
    ``+proj=sinu +R=6371007.181 +nadgrids=@null +wktext``."""

    r: float
    lon0: float
    fe: float
    fn: float
    helm = None  # not a field: a sphere has no datum stage


MODIS_SINU_R = 6371007.181  # authalic sphere radius of the MODIS grid (m)


def sinu_forward(lon, lat, p: SinuParams):
    """(lon, lat) degrees -> sinusoidal (x, y) meters (vectorized)."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    x = p.fe + p.r * lam * np.cos(phi)
    y = p.fn + p.r * phi
    return x, y


def sinu_inverse(x, y, p: SinuParams):
    """Sinusoidal (x, y) meters -> (lon, lat) degrees. Operation order
    mirrors sinu_inverse_sql EXACTLY (driver-oracle discipline). The
    poles themselves (cos φ = 0) are the projection's singular points;
    views never sample a cell center at exactly ±90°."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    phi = (y - p.fn) / p.r
    lam = (x - p.fe) / (p.r * np.cos(phi))
    return p.lon0 + np.degrees(lam), np.degrees(phi)


def sinu_inverse_sql(x_expr: str, y_expr: str, p: SinuParams):
    """(lon_sql, lat_sql) ANSI-SQL mirror of sinu_inverse — same operation
    order, E-notation DOUBLE literals (runnable in DuckDB and Spark SQL)."""
    L = _flit
    deg = L(180.0 / math.pi)
    phi = f"((({y_expr}) - {L(p.fn)}) / {L(p.r)})"
    lam = f"((({x_expr}) - {L(p.fe)}) / ({L(p.r)} * cos({phi})))"
    return f"({L(p.lon0)} + {lam} * {deg})", f"({phi} * {deg})"


# -- Lambert conformal conic, 2SP (numpy; Snyder 1987 §15, EPSG 9802) ---------

@dataclass(frozen=True)
class LccParams(_Datum):
    """Lambert conformal conic with two standard parallels (EPSG method
    9802; Snyder 1987 §15, ellipsoidal). EPSG:2154 (RGF93 / Lambert-93,
    the French national grid) is the registered instance; NAD83 state
    planes and the Canada Atlas LCC are the same method."""

    lat1: float  # first standard parallel (deg)
    lat2: float  # second standard parallel (deg)
    lat0: float  # latitude of false origin (deg)
    lon0: float  # longitude of false origin (deg)
    fe: float
    fn: float


def _lcc_m(phi: float, e2: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)


def _lcc_t_scalar(phi: float, e: float) -> float:
    es = e * math.sin(phi)
    return math.tan(math.pi / 4.0 - phi / 2.0) * ((1.0 + es) / (1.0 - es)) ** (e / 2.0)


def _lcc_consts(p: LccParams):
    """(n, aF, rho0, e, chi-series) — the per-projection scalars. The
    conformal-latitude inverse series (Snyder eq. 3-5) is recomputed for
    THIS ellipsoid's e² (GRS80 vs WGS84 differ in the 12th digit)."""
    e = math.sqrt(p.e2)
    phi1, phi2, phi0 = (math.radians(v) for v in (p.lat1, p.lat2, p.lat0))
    m1, m2 = _lcc_m(phi1, p.e2), _lcc_m(phi2, p.e2)
    t0, t1, t2 = (_lcc_t_scalar(v, e) for v in (phi0, phi1, phi2))
    if abs(phi1 - phi2) < 1e-12:
        n = math.sin(phi1)
    else:
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    aF = p.a * (m1 / (n * t1 ** n))
    rho0 = aF * t0 ** n
    return n, aF, rho0, e, _chi_series(p.e2)


def lcc_forward(lon, lat, p: LccParams):
    """(lon, lat) degrees -> LCC (x, y) meters (vectorized)."""
    n, aF, rho0, e, _ = _lcc_consts(p)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    es = e * np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) * ((1.0 + es) / (1.0 - es)) ** (e / 2.0)
    rho = aF * t ** n
    th = n * np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    x = p.fe + rho * np.sin(th)
    y = p.fn + rho0 - rho * np.cos(th)
    return x, y


def lcc_inverse(x, y, p: LccParams):
    """LCC (x, y) meters -> (lon, lat) degrees. Operation order mirrors
    lcc_inverse_sql EXACTLY (driver-oracle discipline)."""
    n, aF, rho0, _e, chis = _lcc_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dx = x - p.fe
    dy = rho0 - (y - p.fn)
    rho = np.sqrt(dx * dx + dy * dy)
    if n < 0:
        rho = -rho
    tp = (rho / aF) ** (1.0 / n)
    phi = _series(_HALF_PI - 2.0 * np.arctan(tp), chis)
    lam = np.arctan2(dx, dy) / n
    return p.lon0 + np.degrees(lam), np.degrees(phi)


def lcc_inverse_sql(x_expr: str, y_expr: str, p: LccParams):
    """(lon_sql, lat_sql) ANSI-SQL mirror of lcc_inverse — same operation
    order, E-notation DOUBLE literals (runnable in DuckDB and Spark SQL).
    Northern-hemisphere parameter sets only (n > 0 folds the sign of rho
    into a constant)."""
    n, aF, rho0, _e, chis = _lcc_consts(p)
    if n <= 0:
        raise ValueError("SQL mirror assumes n > 0 (northern standard parallels)")
    L = _flit
    deg = L(180.0 / math.pi)
    dx = f"(({x_expr}) - {L(p.fe)})"
    dy = f"({L(rho0)} - (({y_expr}) - {L(p.fn)}))"
    rho = f"sqrt({dx} * {dx} + {dy} * {dy})"
    tp = f"pow({rho} / {L(aF)}, {L(1.0 / n)})"
    chi = f"({L(_HALF_PI)} - 2.0 * atan({tp}))"
    lat = f"({_series_sql(chi, chis)} * {deg})"
    lon = f"({L(p.lon0)} + (atan2({dx}, {dy}) / {L(n)}) * {deg})"
    return lon, lat


# -- Albers equal-area conic, 2SP (numpy; Snyder 1987 §14, EPSG 9822) ---------

@dataclass(frozen=True)
class AeaParams(_Datum):
    """Albers equal-area conic with two standard parallels (EPSG method
    9822; Snyder 1987 §14, ellipsoidal). EPSG:5070 (NAD83 / Conus Albers
    — the NLCD / NASS CDL national grid) is the registered instance."""

    lat1: float
    lat2: float
    lat0: float
    lon0: float
    fe: float
    fn: float


def _aea_consts(p: AeaParams):
    """(n, C, rho0, e, qp, authalic series) — per-projection scalars."""
    e = math.sqrt(p.e2)
    phi0, phi1, phi2 = (math.radians(v) for v in (p.lat0, p.lat1, p.lat2))
    q0, q1, q2 = (float(_laea_q(np.asarray(v), e, p.e2)) for v in (phi0, phi1, phi2))
    m1, m2 = _lcc_m(phi1, p.e2), _lcc_m(phi2, p.e2)
    if abs(phi1 - phi2) < 1e-12:
        n = math.sin(phi1)
    else:
        n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = p.a * math.sqrt(C - n * q0) / n
    qp = float(_laea_q(np.asarray(_HALF_PI), e, p.e2))
    return n, C, rho0, e, qp, _authalic_series(p.e2)


def aea_forward(lon, lat, p: AeaParams):
    """(lon, lat) degrees -> Albers (x, y) meters (vectorized)."""
    n, C, rho0, e, _qp, _ = _aea_consts(p)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    q = _laea_q(phi, e, p.e2)
    rho = p.a * np.sqrt(C - n * q) / n
    th = n * np.radians(np.asarray(lon, dtype=np.float64) - p.lon0)
    x = p.fe + rho * np.sin(th)
    y = p.fn + rho0 - rho * np.cos(th)
    return x, y


def aea_inverse(x, y, p: AeaParams):
    """Albers (x, y) meters -> (lon, lat) degrees: authalic-latitude
    series inverse (Snyder eq. 3-18 — the same series as laea_inverse)."""
    n, C, rho0, _e, qp, auth = _aea_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dx = x - p.fe
    dy = rho0 - (y - p.fn)
    rho = np.sqrt(dx * dx + dy * dy)
    if n < 0:
        rho = -rho
    q = (C - (rho * n / p.a) ** 2) / n
    phi = _series(np.arcsin(np.clip(q / qp, -1.0, 1.0)), auth)
    lam = np.arctan2(dx, dy) / n
    return p.lon0 + np.degrees(lam), np.degrees(phi)


def aea_inverse_sql(x_expr: str, y_expr: str, p: AeaParams):
    """(lon_sql, lat_sql) ANSI-SQL mirror of aea_inverse — same operation
    order, E-notation DOUBLE literals. Assumes n > 0, rho > 0 and interior
    points (np.clip is identity there; driver views are margin-audited)."""
    n, C, rho0, _e, qp, auth = _aea_consts(p)
    if n <= 0:
        raise ValueError("SQL mirror assumes n > 0 (northern standard parallels)")
    L = _flit
    deg = L(180.0 / math.pi)
    dx = f"(({x_expr}) - {L(p.fe)})"
    dy = f"({L(rho0)} - (({y_expr}) - {L(p.fn)}))"
    rho = f"sqrt({dx} * {dx} + {dy} * {dy})"
    # numpy's `** 2` is an exact self-multiply (fast integer-power path);
    # SQL pow(x, 2) may round through exp/log — multiply explicitly
    rhon = f"({rho} * {L(n)} / {L(p.a)})"
    q = f"(({L(C)} - {rhon} * {rhon}) / {L(n)})"
    lat = f"({_series_sql(f'asin({q} / {L(qp)})', auth)} * {deg})"
    lon = f"({L(p.lon0)} + (atan2({dx}, {dy}) / {L(n)}) * {deg})"
    return lon, lat


# -- datums: 7-parameter Helmert (EPSG method 9606, position vector) ----------
#
# The reference accepts ANY PROJ SRS including non-WGS84 datums
# (src/view.h:703-711; PROJ resolves +towgs84= internally). Here the
# transform is explicit: geodetic (source ellipsoid, h=0) -> geocentric
# XYZ -> position-vector 7-param similarity -> WGS84 geodetic via
# Bowring's closed formula. All stages are closed-form so the DuckDB
# oracle replays them exactly (no iteration).

_RAD = math.pi / 180.0
_DEG = 180.0 / math.pi
_AS2RAD = math.pi / 648000.0  # arc-seconds -> radians

_B_WGS84 = A_WGS84 * math.sqrt(1.0 - E2)  # WGS84 semi-minor axis


def _helm_key(helm) -> str:
    """Dynamic-key suffix for a datum spec — parseable back by
    _helm_from_parts in ANY process (executors re-resolve key strings
    in fresh Python workers, so the suffix must round-trip)."""
    if _is_ntv2(helm):
        return "ntv2@" + helm[1]
    return ":".join(repr(v) for v in helm)


def _helm_from_parts(parts: list, k: int):
    """Inverse of _helm_key over ':'-split key segments from index k."""
    if len(parts) <= k:
        return None
    rest = ":".join(parts[k:])
    if rest.startswith("ntv2@"):
        return ("ntv2", rest[5:])
    if len(parts) != k + 7:
        raise ValueError("a Helmert key suffix has 7 fields")
    return tuple(float(v) for v in parts[k:])


def _is_ntv2(helm) -> bool:
    return isinstance(helm, tuple) and len(helm) == 2 and helm[0] == "ntv2"


def _helm_consts(helm):
    """(tx, ty, tz, rx, ry, rz, m) with rotations in radians and the scale
    factor applied — precomputed python floats so numpy and SQL consume
    identical literals."""
    if _is_ntv2(helm):
        raise ValueError(
            "NTv2 grid-shift datums have no closed-form SQL mirror; "
            "grid-shifted SRS keys cannot join the oracled families")
    tx, ty, tz, rxs, rys, rzs, ds = helm
    return (tx, ty, tz, rxs * _AS2RAD, rys * _AS2RAD, rzs * _AS2RAD,
            1.0 + ds * 1e-6)


def geodetic_to_xyz(lon_deg, lat_deg, a: float, e2: float):
    """Geodetic (h=0) -> geocentric XYZ on the given ellipsoid."""
    phs = np.asarray(lat_deg, dtype=np.float64) * _RAD
    lms = np.asarray(lon_deg, dtype=np.float64) * _RAD
    sinp = np.sin(phs)
    nu = a / np.sqrt(1.0 - e2 * sinp * sinp)
    cosp = np.cos(phs)
    return (nu * cosp * np.cos(lms), nu * cosp * np.sin(lms),
            nu * (1.0 - e2) * sinp)


def helmert_forward(X, Y, Z, helm):
    """Source-datum XYZ -> WGS84 XYZ (the +towgs84 direction): position-
    vector small-angle similarity, X' = t + m (I + R) X."""
    tx, ty, tz, rx, ry, rz, m = _helm_consts(helm)
    X2 = tx + m * (X - rz * Y + ry * Z)
    Y2 = ty + m * (rz * X + Y - rx * Z)
    Z2 = tz + m * (-ry * X + rx * Y + Z)
    return X2, Y2, Z2


def helmert_inverse(X, Y, Z, helm):
    """WGS84 XYZ -> source-datum XYZ: the EXACT inverse of the linearized
    forward map (3x3 solve via the closed adjugate), so forward∘inverse
    round-trips to float precision — not the sign-flipped approximation."""
    tx, ty, tz, rx, ry, rz, m = _helm_consts(helm)
    u, v, w = (X - tx) / m, (Y - ty) / m, (Z - tz) / m
    # inverse of [[1,-rz,ry],[rz,1,-rx],[-ry,rx,1]] (det = 1 + rx²+ry²+rz²)
    det = 1.0 + rx * rx + ry * ry + rz * rz
    X2 = ((1.0 + rx * rx) * u + (rz + rx * ry) * v + (rx * rz - ry) * w) / det
    Y2 = ((rx * ry - rz) * u + (1.0 + ry * ry) * v + (rx + ry * rz) * w) / det
    Z2 = ((ry + rx * rz) * u + (ry * rz - rx) * v + (1.0 + rz * rz) * w) / det
    return X2, Y2, Z2


def _xyz_to_geodetic(X, Y, Z, a: float, e2: float):
    """Geocentric XYZ -> (lon, lat) degrees on the ellipsoid (a, e2),
    Bowring's single-pass closed formula (sub-mm for earth-surface
    points)."""
    b = a * math.sqrt(1.0 - e2)
    ep2 = e2 / (1.0 - e2)
    pr = np.sqrt(X * X + Y * Y)
    th = np.arctan2(Z * a, pr * b)
    sth = np.sin(th)
    cth = np.cos(th)
    phi = np.arctan2(Z + ep2 * b * sth * sth * sth,
                     pr - e2 * a * cth * cth * cth)
    return np.arctan2(Y, X) * _DEG, phi * _DEG


def datum_to_wgs84(lon_deg, lat_deg, a: float, e2: float, helm):
    """Source-datum geodetic -> WGS84 geodetic (degrees); the op order the
    SQL mirrors replay stage by stage. An NTv2 helm tag applies the grid
    shift geodetically instead (the grid IS the datum transformation —
    no XYZ stage, per the NTv2 Developer's Guide)."""
    if _is_ntv2(helm):
        from .sources.ntv2 import grid_shift

        return grid_shift(helm[1]).forward(lon_deg, lat_deg)
    X, Y, Z = geodetic_to_xyz(lon_deg, lat_deg, a, e2)
    return _xyz_to_geodetic(*helmert_forward(X, Y, Z, helm), A_WGS84, E2)


def wgs84_to_datum(lon_deg, lat_deg, a: float, e2: float, helm):
    """WGS84 geodetic -> source-datum geodetic (degrees). The target-side
    geodetic conversion uses Bowring with the SOURCE ellipsoid. An NTv2
    helm tag iterates the grid shift (the Guide's inverse)."""
    if _is_ntv2(helm):
        from .sources.ntv2 import grid_shift

        return grid_shift(helm[1]).inverse(lon_deg, lat_deg)
    X, Y, Z = geodetic_to_xyz(lon_deg, lat_deg, A_WGS84, E2)
    return _xyz_to_geodetic(*helmert_inverse(X, Y, Z, helm), a, e2)


def _datum_sql(lon_expr: str, lat_expr: str, a: float, e2: float, helm):
    """(lon_sql, lat_sql): SQL mirror of datum_to_wgs84 with the same op
    order. Stage values are textually substituted — the chain stays small
    because every stage is closed-form (callers put cells in a CTE so x/y
    appear once)."""
    L = _flit
    tx, ty, tz, rx, ry, rz, m = _helm_consts(helm)
    phs = f"(({lat_expr}) * {L(_RAD)})"
    lms = f"(({lon_expr}) * {L(_RAD)})"
    nu = f"({L(a)} / sqrt(1.0 - {L(e2)} * sin({phs}) * sin({phs})))"
    gx = f"({nu} * cos({phs}) * cos({lms}))"
    gy = f"({nu} * cos({phs}) * sin({lms}))"
    gz = f"({nu} * {L(1.0 - e2)} * sin({phs}))"
    wx = f"({L(tx)} + {L(m)} * ({gx} - {L(rz)} * {gy} + {L(ry)} * {gz}))"
    wy = f"({L(ty)} + {L(m)} * ({L(rz)} * {gx} + {gy} - {L(rx)} * {gz}))"
    wz = f"({L(tz)} + {L(m)} * ({L(-ry)} * {gx} + {L(rx)} * {gy} + {gz}))"
    pr = f"sqrt({wx} * {wx} + {wy} * {wy})"
    th = f"atan2({wz} * {L(A_WGS84)}, {pr} * {L(_B_WGS84)})"
    phi = (
        f"atan2({wz} + {L(EP2 * _B_WGS84)} * sin({th}) * sin({th}) * sin({th}), "
        f"{pr} - {L(E2 * A_WGS84)} * cos({th}) * cos({th}) * cos({th}))"
    )
    return (f"(atan2({wy}, {wx}) * {L(_DEG)})", f"({phi} * {L(_DEG)})")


# -- transverse Mercator on any ellipsoid ------------------------------------
#
# The UTM zones (EPSG:326xx/327xx, WGS84) and EPSG:27700 (British National
# Grid: TM on Airy 1830, OSGB36 datum via the published towgs84 7-param
# Helmert) are the registered instances; any +proj=tmerc string resolves
# here. Snyder 1987 eq. 8-9..8-25 with per-ellipsoid series constants and
# the lat_0 meridional-arc offset M0.

@dataclass(frozen=True)
class EtmParams(_Datum):
    k0: float
    lat0: float
    lon0: float
    fe: float
    fn: float


def _etm_consts(p: EtmParams):
    """(c0, footpoint series, ep2, M0) of a TM parameter set."""
    c0, _c2, _c4, _c6, foot = _tm_consts(p.e2)
    m0 = _meridian_arc(p.a, p.e2, p.lat0 * _RAD, math.sin)
    return c0, foot, p.e2 / (1.0 - p.e2), m0


def etm_forward(lon, lat, p: EtmParams):
    """(lon, lat) degrees IN THE PROJECTION'S DATUM -> grid (x, y)."""
    _c0, _foot, ep2, m0 = _etm_consts(p)
    phi = np.asarray(lat, dtype=np.float64) * _RAD
    lam = (np.asarray(lon, dtype=np.float64) - p.lon0) * _RAD
    sinp = np.sin(phi)
    cosp = np.cos(phi)
    tanp = np.tan(phi)
    N = p.a / np.sqrt(1.0 - p.e2 * sinp * sinp)
    T = tanp * tanp
    C = ep2 * cosp * cosp
    Aa = cosp * lam
    M = _meridian_arc(p.a, p.e2, phi, np.sin)
    x = p.fe + p.k0 * N * (
        Aa
        + (1.0 - T + C) * Aa ** 3 / 6.0
        + (5.0 - 18.0 * T + T * T + 72.0 * C - 58.0 * ep2) * Aa ** 5 / 120.0
    )
    y = p.fn + p.k0 * (
        M - m0
        + N * tanp * (
            Aa * Aa / 2.0
            + (5.0 - T + 9.0 * C + 4.0 * C * C) * Aa ** 4 / 24.0
            + (61.0 - 58.0 * T + T * T + 600.0 * C - 330.0 * ep2) * Aa ** 6 / 720.0
        )
    )
    return x, y


def etm_inverse(x, y, p: EtmParams):
    """Grid (x, y) -> (lon, lat) degrees in the projection's datum.
    Operation order mirrors etm_inverse_sql EXACTLY."""
    c0, foot, ep2, m0 = _etm_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    M = m0 + (y - p.fn) / p.k0
    phi1 = _series(M / (p.a * c0), foot)
    sin1 = np.sin(phi1)
    cos1 = np.cos(phi1)
    tan1 = np.tan(phi1)
    C1 = ep2 * cos1 * cos1
    T1 = tan1 * tan1
    N1 = p.a / np.sqrt(1.0 - p.e2 * sin1 * sin1)
    R1 = p.a * (1.0 - p.e2) / (1.0 - p.e2 * sin1 * sin1) ** 1.5
    D = (x - p.fe) / (N1 * p.k0)
    lat = (
        phi1
        - (N1 * tan1 / R1) * (
            D * D / 2.0
            - (5.0 + 3.0 * T1 + 10.0 * C1 - 4.0 * C1 * C1 - 9.0 * ep2) * D ** 4 / 24.0
            + (61.0 + 90.0 * T1 + 298.0 * C1 + 45.0 * T1 * T1 - 252.0 * ep2 - 3.0 * C1 * C1)
            * D ** 6 / 720.0
        )
    ) * _DEG
    lon = p.lon0 + (
        (
            D
            - (1.0 + 2.0 * T1 + C1) * D ** 3 / 6.0
            + (5.0 - 2.0 * C1 + 28.0 * T1 - 3.0 * C1 * C1 + 8.0 * ep2 + 24.0 * T1 * T1)
            * D ** 5 / 120.0
        )
        / cos1
    ) * _DEG
    return lon, lat


def etm_inverse_sql(x_expr: str, y_expr: str, p: EtmParams):
    """(lon_sql, lat_sql) in the projection's DATUM — the SQL mirror of
    etm_inverse."""
    c0, foot, ep2, m0 = _etm_consts(p)
    L = _flit
    a = L(p.a)
    deg = L(_DEG)
    mu = f"(({L(m0)} + (({y_expr}) - {L(p.fn)}) / {L(p.k0)}) / ({a} * {L(c0)}))"
    phi1 = _series_sql(mu, foot)
    c1 = f"({L(ep2)} * cos({phi1}) * cos({phi1}))"
    t1 = f"(tan({phi1}) * tan({phi1}))"
    n1 = f"({a} / sqrt(1.0 - {L(p.e2)} * sin({phi1}) * sin({phi1})))"
    r1 = f"({a} * {L(1.0 - p.e2)} / pow(1.0 - {L(p.e2)} * sin({phi1}) * sin({phi1}), 1.5))"
    d = f"((({x_expr}) - {L(p.fe)}) / ({n1} * {L(p.k0)}))"
    lat = (
        f"(({phi1} - ({n1} * tan({phi1}) / {r1}) * ({d} * {d} / 2.0"
        f" - (5.0 + 3.0 * {t1} + 10.0 * {c1} - 4.0 * {c1} * {c1} - 9.0 * {L(ep2)})"
        f" * pow({d}, 4) / 24.0"
        f" + (61.0 + 90.0 * {t1} + 298.0 * {c1} + 45.0 * {t1} * {t1}"
        f" - {L(252.0 * ep2)} - 3.0 * {c1} * {c1}) * pow({d}, 6) / 720.0)) * {deg})"
    )
    lon = (
        f"({L(p.lon0)} + (({d} - (1.0 + 2.0 * {t1} + {c1}) * pow({d}, 3) / 6.0"
        f" + (5.0 - 2.0 * {c1} + 28.0 * {t1} - 3.0 * {c1} * {c1} + {L(8.0 * ep2)}"
        f" + 24.0 * {t1} * {t1}) * pow({d}, 5) / 120.0) / cos({phi1})) * {deg})"
    )
    return lon, lat


# -- Swiss oblique Mercator (EPSG method 9814, Rosenmund) ---------------------
#
# EPSG:2056 (CH1903+ / LV95) and EPSG:21781 (CH1903 / LV03): the double
# projection Bessel-1841 -> conformal sphere -> rotated (oblique)
# equatorial Mercator, the swisstopo published formulation. The inverse
# closes through the standard inverse-conformal-latitude series (the same
# series family ps_inverse uses), so the SQL mirror needs no iteration.

@dataclass(frozen=True)
class SwissParams(_Datum):
    lat0: float
    lon0: float
    fe: float
    fn: float


_SWISS_LAT0 = 46.0 + 57.0 / 60.0 + 8.66 / 3600.0   # Bern: 46°57'08.66"N
_SWISS_LON0 = 7.0 + 26.0 / 60.0 + 22.5 / 3600.0    # Bern: 7°26'22.50"E
# CH1903(+) -> WGS84: the published 3-param geocentric translation
_SWISS_HELM = (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)


def _swiss_consts(p: SwissParams):
    """(alpha, rsph, b0, K, e) — the conformal-sphere constants."""
    e = math.sqrt(p.e2)
    phi0 = p.lat0 * _RAD
    alpha = math.sqrt(1.0 + p.e2 / (1.0 - p.e2) * math.cos(phi0) ** 4)
    rsph = p.a * math.sqrt(1.0 - p.e2) / (1.0 - p.e2 * math.sin(phi0) ** 2)
    b0 = math.asin(math.sin(phi0) / alpha)
    psi0 = math.atanh(math.sin(phi0)) - e * math.atanh(e * math.sin(phi0))
    K = math.atanh(math.sin(b0)) - alpha * psi0
    return alpha, rsph, b0, K, e


def swiss_forward(lon, lat, p: SwissParams):
    """Datum geodetic (lon, lat) degrees -> Swiss grid (E, N) meters."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    alpha, rsph, b0, K, e = _swiss_consts(p)
    phi = lat * _RAD
    sinp = np.sin(phi)
    # ellipsoid -> conformal sphere (atanh written as explicit logs so the
    # SQL mirror shares the exact op sequence)
    psi = 0.5 * np.log((1.0 + sinp) / (1.0 - sinp)) \
        - e * 0.5 * np.log((1.0 + e * sinp) / (1.0 - e * sinp))
    S = alpha * psi + K
    es = np.exp(2.0 * S)
    sinb = (es - 1.0) / (es + 1.0)  # tanh(S)
    cosb = np.sqrt(1.0 - sinb * sinb)
    l = alpha * ((lon - p.lon0) * _RAD)
    sinl = np.sin(l)
    cosl = np.cos(l)
    sb0, cb0 = math.sin(b0), math.cos(b0)
    # rotate the projection center to the pseudo-equator
    sinbb = cb0 * sinb - sb0 * cosb * cosl
    lbar = np.arctan2(cosb * sinl, cb0 * cosb * cosl + sb0 * sinb)
    E = p.fe + rsph * lbar
    N = p.fn + rsph * (0.5 * np.log((1.0 + sinbb) / (1.0 - sinbb)))
    return E, N


def swiss_inverse(x, y, p: SwissParams):
    """Swiss grid (E, N) -> datum geodetic (lon, lat) degrees. Operation
    order mirrors swiss_inverse_sql EXACTLY."""
    alpha, rsph, b0, K, e = _swiss_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lbar = (x - p.fe) / rsph
    ex = np.exp(2.0 * ((y - p.fn) / rsph))
    sinbb = (ex - 1.0) / (ex + 1.0)
    cosbb = np.sqrt(1.0 - sinbb * sinbb)
    sinlb = np.sin(lbar)
    coslb = np.cos(lbar)
    sb0, cb0 = math.sin(b0), math.cos(b0)
    sinb = cb0 * sinbb + sb0 * cosbb * coslb
    cosb = np.sqrt(1.0 - sinb * sinb)
    l = np.arctan2(cosbb * sinlb, cb0 * cosbb * coslb - sb0 * sinbb)
    lon_s = p.lon0 + (l / alpha) * _DEG
    psi = (0.5 * np.log((1.0 + sinb) / (1.0 - sinb)) - K) / alpha
    ep = np.exp(2.0 * psi)
    sinchi = (ep - 1.0) / (ep + 1.0)
    phi = _series(np.arcsin(sinchi), _chi_series(p.e2))
    return lon_s, phi * _DEG


def swiss_inverse_sql(x_expr: str, y_expr: str, p: SwissParams):
    """(lon_sql, lat_sql) in the projection's DATUM (CH1903) — mirror of
    swiss_inverse. Chain _datum_sql on top for WGS84 (do it from a CTE so
    the big strings bind once per stage)."""
    alpha, rsph, b0, K, e = _swiss_consts(p)
    L = _flit
    sb0, cb0 = L(math.sin(b0)), L(math.cos(b0))
    lbar = f"((({x_expr}) - {L(p.fe)}) / {L(rsph)})"
    ex = f"exp(2.0 * ((({y_expr}) - {L(p.fn)}) / {L(rsph)}))"
    sinbb = f"(({ex} - 1.0) / ({ex} + 1.0))"
    cosbb = f"sqrt(1.0 - {sinbb} * {sinbb})"
    sinb = f"({cb0} * {sinbb} + {sb0} * {cosbb} * cos({lbar}))"
    cosb = f"sqrt(1.0 - {sinb} * {sinb})"
    l = f"atan2({cosbb} * sin({lbar}), {cb0} * {cosbb} * cos({lbar}) - {sb0} * {sinbb})"
    lon = f"({L(p.lon0)} + ({l} / {L(alpha)}) * {L(_DEG)})"
    psi = f"((0.5 * ln((1.0 + {sinb}) / (1.0 - {sinb})) - {L(K)}) / {L(alpha)})"
    ep = f"exp(2.0 * {psi})"
    chi = f"asin(({ep} - 1.0) / ({ep} + 1.0))"
    return lon, f"({_series_sql(chi, _chi_series(p.e2))} * {L(_DEG)})"


# -- Lambert cylindrical equal area (EPSG method 9835; Snyder §10) ------------
#
# EPSG:6933 — NSIDC EASE-Grid 2.0 Global, the SMAP / AMSR passive-microwave
# product grid (lat_ts = 30 on WGS84). SEPARABLE: x depends only on lon and
# y only on lat, so the warp uses 1-D axis transforms (and aggregating
# resamplers stay available, unlike the conic/oblique families).

@dataclass(frozen=True)
class CeaParams(_Datum):
    lat_ts: float
    lon0: float
    fe: float
    fn: float


def _cea_consts(p: CeaParams):
    e = math.sqrt(p.e2)
    ts = p.lat_ts * _RAD
    k0 = math.cos(ts) / math.sqrt(1.0 - p.e2 * math.sin(ts) ** 2)
    qp = float(_laea_q(np.asarray(_HALF_PI), e, p.e2))
    return e, k0, qp, _authalic_series(p.e2)


def cea_forward(lon, lat, p: CeaParams):
    e, k0, _qp, _ = _cea_consts(p)
    lam = (np.asarray(lon, dtype=np.float64) - p.lon0) * _RAD
    phi = np.asarray(lat, dtype=np.float64) * _RAD
    x = p.fe + p.a * k0 * lam
    y = p.fn + p.a * _laea_q(phi, e, p.e2) / (2.0 * k0)
    return x, y


def cea_inverse(x, y, p: CeaParams):
    """Operation order mirrors cea_inverse_sql EXACTLY."""
    _e, k0, qp, auth = _cea_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = p.lon0 + (x - p.fe) / (p.a * k0) * _DEG
    q = (y - p.fn) * (2.0 * k0) / p.a
    phi = _series(np.arcsin(np.clip(q / qp, -1.0, 1.0)), auth)
    return lon, phi * _DEG


def cea_inverse_sql(x_expr: str, y_expr: str, p: CeaParams):
    _e, k0, qp, auth = _cea_consts(p)
    L = _flit
    lon = f"({L(p.lon0)} + (({x_expr}) - {L(p.fe)}) / {L(p.a * k0)} * {L(_DEG)})"
    q = f"((({y_expr}) - {L(p.fn)}) * {L(2.0 * k0)} / {L(p.a)})"
    return lon, f"({_series_sql(f'asin({q} / {L(qp)})', auth)} * {L(_DEG)})"


# -- Equidistant cylindrical (EPSG method 1028; Plate Carrée) -----------------
#
# EPSG:4087 WGS 84 / World Equidistant Cylindrical — the "unprojected
# meters" grid of many tiling systems and global mosaics. SEPARABLE like
# CEA: x = fe + ν(φts)·cosφts·λ depends only on lon, y = fn + M(φ) − M(φ0)
# (meridional arc, same _tm_consts series as tmerc) only on lat; the
# footpoint-latitude series gives a closed-form, iteration-free inverse
# that the SQL mirror replays term for term.

@dataclass(frozen=True)
class EqcParams(_Datum):
    lat_ts: float
    lat0: float
    lon0: float
    fe: float
    fn: float


def _eqc_consts(p: EqcParams):
    c0, _c2, _c4, _c6, foot = _tm_consts(p.e2)
    ts = p.lat_ts * _RAD
    nu_cos = p.a / math.sqrt(1.0 - p.e2 * math.sin(ts) ** 2) * math.cos(ts)
    m0 = _meridian_arc(p.a, p.e2, p.lat0 * _RAD, math.sin)
    return nu_cos, m0, c0, foot


def eqc_forward(lon, lat, p: EqcParams):
    nu_cos, m0, _c0, _foot = _eqc_consts(p)
    lam = (np.asarray(lon, dtype=np.float64) - p.lon0) * _RAD
    phi = np.asarray(lat, dtype=np.float64) * _RAD
    x = p.fe + nu_cos * lam
    return x, p.fn + _meridian_arc(p.a, p.e2, phi, np.sin) - m0


def eqc_inverse(x, y, p: EqcParams):
    """Operation order mirrors eqc_inverse_sql EXACTLY."""
    nu_cos, m0, c0, foot = _eqc_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = p.lon0 + (x - p.fe) / nu_cos * _DEG
    phi = _series((m0 + (y - p.fn)) / (p.a * c0), foot)
    return lon, phi * _DEG


def eqc_inverse_sql(x_expr: str, y_expr: str, p: EqcParams):
    nu_cos, m0, c0, foot = _eqc_consts(p)
    L = _flit
    lon = f"({L(p.lon0)} + (({x_expr}) - {L(p.fe)}) / {L(nu_cos)} * {L(_DEG)})"
    mu = f"(({L(m0)} + (({y_expr}) - {L(p.fn)})) / {L(p.a * c0)})"
    return lon, f"({_series_sql(mu, foot)} * {L(_DEG)})"


# -- Modified azimuthal equidistant (EPSG method 9832) ------------------------
#
# The Micronesia island grids (Guam-successor zones; EPSG:3295 Yap).
# Closed-form series both directions (EPSG GN7-2 formulas), so the SQL
# mirror is iteration-free. True distance from the projection center
# along any azimuth — the defining property the tests pin.

@dataclass(frozen=True)
class AeqdParams(_Datum):
    lat0: float
    lon0: float
    fe: float
    fn: float


def aeqd_forward(lon, lat, p: AeqdParams):
    """Datum geodetic degrees -> grid (E, N) (EPSG 9832 forward series)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    e2 = p.e2
    phi0 = p.lat0 * _RAD
    s0, c0 = math.sin(phi0), math.cos(phi0)
    nu0 = p.a / math.sqrt(1.0 - e2 * s0 * s0)
    phi = lat * _RAD
    dl = (lon - p.lon0) * _RAD
    sinp, cosp = np.sin(phi), np.cos(phi)
    nu = p.a / np.sqrt(1.0 - e2 * sinp * sinp)
    psi = np.arctan((1.0 - e2) * np.tan(phi) + e2 * nu0 * s0 / (nu * cosp))
    sps, cps = np.sin(psi), np.cos(psi)
    alpha = np.arctan2(np.sin(dl), c0 * np.tan(psi) - s0 * np.cos(dl))
    sa, ca = np.sin(alpha), np.cos(alpha)
    G = math.sqrt(e2) * s0 / math.sqrt(1.0 - e2)
    H = math.sqrt(e2) * c0 * ca / math.sqrt(1.0 - e2)
    s = np.where(
        np.abs(sa) < 1e-12,
        np.arcsin(np.clip(c0 * sps - s0 * cps, -1.0, 1.0)) * np.sign(ca + (ca == 0)),
        np.arcsin(np.sin(dl) * cps / np.where(np.abs(sa) < 1e-12, 1.0, sa)),
    )
    H2 = H * H
    c = nu0 * s * (
        1.0 - s * s * H2 * (1.0 - H2) / 6.0
        + (s ** 3 / 8.0) * G * H * (1.0 - 2.0 * H2)
        + (s ** 4 / 120.0) * (H2 * (4.0 - 7.0 * H2) - 3.0 * G * G * (1.0 - 7.0 * H2))
        - (s ** 5 / 48.0) * G * H
    )
    return p.fe + c * sa, p.fn + c * ca


def aeqd_inverse(x, y, p: AeqdParams):
    """Grid -> datum geodetic degrees. Operation order mirrors
    aeqd_inverse_sql EXACTLY."""
    e2 = p.e2
    phi0 = p.lat0 * _RAD
    s0, c0 = math.sin(phi0), math.cos(phi0)
    nu0 = p.a / math.sqrt(1.0 - e2 * s0 * s0)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dx = x - p.fe
    dy = y - p.fn
    cp = np.sqrt(dx * dx + dy * dy)
    alpha = np.arctan2(dx, dy)
    ca = np.cos(alpha)
    # constants factored exactly as the SQL mirror factors them
    A = (-e2 * c0 * c0 / (1.0 - e2)) * ca * ca
    B = (3.0 * e2 * s0 * c0 / (1.0 - e2)) * (1.0 - A) * ca
    D = cp / nu0
    J = D - A * (1.0 + A) * D ** 3 / 6.0 - B * (1.0 + 3.0 * A) * D ** 4 / 24.0
    K = 1.0 - A * J * J / 2.0 - B * J ** 3 / 6.0
    sinJ, cosJ = np.sin(J), np.cos(J)
    PSI = np.arcsin(np.clip(s0 * cosJ + c0 * sinJ * ca, -1.0, 1.0))
    lam = p.lon0 + np.arcsin(np.sin(alpha) * sinJ / np.cos(PSI)) * _DEG
    phi = np.arctan(
        (1.0 - e2 * K * s0 / np.sin(PSI)) * np.tan(PSI) / (1.0 - e2)
    ) * _DEG
    return lam, phi


def aeqd_inverse_sql(x_expr: str, y_expr: str, p: AeqdParams):
    """(lon_sql, lat_sql) in the projection's datum — mirror of
    aeqd_inverse."""
    e2 = p.e2
    phi0 = p.lat0 * _RAD
    s0, c0 = math.sin(phi0), math.cos(phi0)
    nu0 = p.a / math.sqrt(1.0 - e2 * s0 * s0)
    L = _flit
    dx = f"(({x_expr}) - {L(p.fe)})"
    dy = f"(({y_expr}) - {L(p.fn)})"
    cp = f"sqrt({dx} * {dx} + {dy} * {dy})"
    alpha = f"atan2({dx}, {dy})"
    ca = f"cos({alpha})"
    A = f"({L(-e2 * c0 * c0 / (1.0 - e2))} * {ca} * {ca})"
    B = f"({L(3.0 * e2 * s0 * c0 / (1.0 - e2))} * (1.0 - {A}) * {ca})"
    D = f"({cp} / {L(nu0)})"
    J = (f"({D} - {A} * (1.0 + {A}) * pow({D}, 3) / 6.0"
         f" - {B} * (1.0 + 3.0 * {A}) * pow({D}, 4) / 24.0)")
    K = f"(1.0 - {A} * {J} * {J} / 2.0 - {B} * pow({J}, 3) / 6.0)"
    PSI = f"asin({L(s0)} * cos({J}) + {L(c0)} * sin({J}) * {ca})"
    lon = f"({L(p.lon0)} + asin(sin({alpha}) * sin({J}) / cos({PSI})) * {L(_DEG)})"
    lat = (f"(atan((1.0 - {L(e2)} * {K} * {L(s0)} / sin({PSI}))"
           f" * tan({PSI}) / {L(1.0 - e2)}) * {L(_DEG)})")
    return lon, lat


# -- Hotine oblique Mercator variant B (EPSG method 9815; Snyder §9) ----------
#
# The skew-axis national grids: Timbalai/RSO Borneo (EPSG:29873), Alaska
# zone 1, Malaysia RSO. Variant B anchors false coordinates at the
# PROJECTION CENTER (Ec, Nc) with the u_c offset; proj4's +proj=omerc
# default. The inverse closes through the inverse conformal-latitude
# series, so the SQL mirror needs no iteration.

@dataclass(frozen=True)
class HomParams(_Datum):
    latc: float   # latitude of projection center (deg)
    lonc: float   # longitude of projection center (deg)
    alphac: float  # azimuth of the initial line at the center (deg)
    gammac: float  # angle from the rectified grid to the skew grid (deg)
    k0: float
    ec: float     # false easting at the center
    nc: float     # false northing at the center


def _hom_consts(p: HomParams):
    """Snyder eq. 9-1..9-12 / EPSG 9815 setup scalars."""
    e = math.sqrt(p.e2)
    phic = p.latc * _RAD
    sinc = math.sin(phic)
    B = math.sqrt(1.0 + p.e2 * math.cos(phic) ** 4 / (1.0 - p.e2))
    A = p.a * B * p.k0 * math.sqrt(1.0 - p.e2) / (1.0 - p.e2 * sinc * sinc)
    t0 = math.tan(math.pi / 4.0 - phic / 2.0) / (
        (1.0 - e * sinc) / (1.0 + e * sinc)) ** (e / 2.0)
    D = B * math.sqrt(1.0 - p.e2) / (
        math.cos(phic) * math.sqrt(1.0 - p.e2 * sinc * sinc))
    D2 = max(D * D, 1.0)
    sign = 1.0 if p.latc >= 0 else -1.0
    F = D + math.sqrt(D2 - 1.0) * sign
    H = F * t0 ** B
    G = (F - 1.0 / F) / 2.0
    gamma0 = math.asin(math.sin(p.alphac * _RAD) / D)
    lam0 = p.lonc * _RAD - math.asin(G * math.tan(gamma0)) / B
    # variant B center offset along the skew u axis
    uc = (A / B) * math.atan2(math.sqrt(D2 - 1.0), math.cos(p.alphac * _RAD)) * sign
    return e, B, A, H, gamma0, lam0, uc


def hom_forward(lon, lat, p: HomParams):
    """Datum geodetic degrees -> grid (E, N)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    e, B, A, H, gamma0, lam0, uc = _hom_consts(p)
    phi = lat * _RAD
    sinp = np.sin(phi)
    t = np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - e * sinp) / (1.0 + e * sinp)) ** (e / 2.0)
    Q = H / t ** B
    S = (Q - 1.0 / Q) / 2.0
    T = (Q + 1.0 / Q) / 2.0
    dl = lon * _RAD - lam0
    # wrap to (-pi, pi] so B*dl stays in the principal branch
    dl = np.where(dl > np.pi, dl - 2 * np.pi, dl)
    dl = np.where(dl < -np.pi, dl + 2 * np.pi, dl)
    V = np.sin(B * dl)
    sg0, cg0 = math.sin(gamma0), math.cos(gamma0)
    U = (-V * cg0 + S * sg0) / T
    v = A * np.log((1.0 - U) / (1.0 + U)) / (2.0 * B)
    u = A * np.arctan2(S * cg0 + V * sg0, np.cos(B * dl)) / B - uc
    gc = p.gammac * _RAD
    E = p.ec + v * math.cos(gc) + u * math.sin(gc)
    N = p.nc + u * math.cos(gc) - v * math.sin(gc)
    return E, N


def hom_inverse(x, y, p: HomParams):
    """Grid (E, N) -> datum geodetic degrees. Operation order mirrors
    hom_inverse_sql EXACTLY."""
    e, B, A, H, gamma0, lam0, uc = _hom_consts(p)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    gc = p.gammac * _RAD
    dx = x - p.ec
    dy = y - p.nc
    v = dx * math.cos(gc) - dy * math.sin(gc)
    u = dy * math.cos(gc) + dx * math.sin(gc) + uc
    Q = np.exp(-B * v / A)
    S = (Q - 1.0 / Q) / 2.0
    T = (Q + 1.0 / Q) / 2.0
    V = np.sin(B * u / A)
    sg0, cg0 = math.sin(gamma0), math.cos(gamma0)
    U = (V * cg0 + S * sg0) / T
    t = (H / np.sqrt((1.0 + U) / (1.0 - U))) ** (1.0 / B)
    phi = _series(np.pi / 2.0 - 2.0 * np.arctan(t), _chi_series(p.e2))
    lam = lam0 - np.arctan2(S * cg0 - V * sg0, np.cos(B * u / A)) / B
    return lam * _DEG, phi * _DEG


def hom_inverse_sql(x_expr: str, y_expr: str, p: HomParams):
    """(lon_sql, lat_sql) in the projection's DATUM — mirror of
    hom_inverse (chain _datum_sql on top)."""
    e, B, A, H, gamma0, lam0, uc = _hom_consts(p)
    L = _flit
    gc = p.gammac * _RAD
    dx = f"(({x_expr}) - {L(p.ec)})"
    dy = f"(({y_expr}) - {L(p.nc)})"
    v = f"({dx} * {L(math.cos(gc))} - {dy} * {L(math.sin(gc))})"
    u = f"({dy} * {L(math.cos(gc))} + {dx} * {L(math.sin(gc))} + {L(uc)})"
    Q = f"exp({L(-1.0)} * {L(B)} * {v} / {L(A)})"
    S = f"(({Q} - 1.0 / {Q}) / 2.0)"
    T = f"(({Q} + 1.0 / {Q}) / 2.0)"
    V = f"sin({L(B)} * {u} / {L(A)})"
    sg0, cg0 = L(math.sin(gamma0)), L(math.cos(gamma0))
    U = f"(({V} * {cg0} + {S} * {sg0}) / {T})"
    t = f"pow({L(H)} / sqrt((1.0 + {U}) / (1.0 - {U})), {L(1.0 / B)})"
    chi = f"({L(math.pi / 2.0)} - 2.0 * atan({t}))"
    lat = f"({_series_sql(chi, _chi_series(p.e2))} * {L(_DEG)})"
    lon = (
        f"(({L(lam0)} - atan2({S} * {cg0} - {V} * {sg0}, "
        f"cos({L(B)} * {u} / {L(A)})) / {L(B)}) * {L(_DEG)})"
    )
    return lon, lat


# -- the family table -----------------------------------------------------------
#
# Every SRS resolves to (family, params) here and nowhere else. A family row
# carries its dynamic-key codec and its datum-local kernels, so normalize,
# is_separable and every transform entry point below dispatch on the row,
# never on a family name.

@dataclass(frozen=True, eq=False)
class Family:
    """One projection family.

    prefix       dynamic-key prefix ("PS" -> "PS:..."); None for the
                 families reached only through EPSG codes (4326, 3857)
    params       the parameter dataclass a dynamic key parses into
    forward      (lon, lat, p) -> (x, y), geodetic in the projection's datum
    inverse      (x, y, p) -> (lon, lat), geodetic in the projection's datum
    inverse_sql  (x_sql, y_sql, p) -> (lon_sql, lat_sql): the SQL mirror of
                 inverse the DuckDB oracle replays (chain _datum_sql when
                 p.helm is set)
    separable    x depends only on lon and y only on lat (without a
                 datum stage, which mixes the two)
    key          dynamic-key field spec: ((params field, (encode, decode)),
                 ...) in key order; a params ``helm`` rides as an optional
                 suffix
    pole         p -> (x, y, lat) of the pole the projection maps to a
                 point, for bbox_to_wgs84's full-longitude case

    A params ``helm`` is the datum stage: the entry points (_to_grid and
    _to_wgs84) apply it around the kernels, which never read it. The UTM
    zones are ETM rows of ``_KNOWN``, not a family of their own. A key's
    fields keep their position and encoding forever (keys are persisted);
    fields a family gains are appended.
    """

    prefix: str | None
    params: type | None
    forward: Callable
    inverse: Callable
    inverse_sql: Callable | None = None
    separable: bool = False
    key: tuple = ()
    pole: Callable | None = None


_F = (repr, float)  # repr round-trips every float64
_E17 = ("{:.17e}".format, float)  # so does 17-digit E-notation
_HEMI = (lambda south: "S" if south else "N", lambda v: v == "S")


def _spec(names: str, **codecs) -> tuple:
    return tuple((n, codecs.get(n, _F)) for n in names.split())


def _lonlat(a, b, p):
    return np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)


WGS84 = Family(None, None, _lonlat, _lonlat, separable=True)
WEBMERC = Family(
    None, None,
    lambda lon, lat, p: (lon_to_x(lon), lat_to_y(lat)),
    lambda x, y, p: (x_to_lon(x), y_to_lat(y)),
    separable=True,
)
PS = Family("PS", PolarPS, ps_forward, ps_inverse, ps_inverse_sql,
            key=_spec("lat_ts lon0 fe fn south a e2", south=_HEMI),
            pole=lambda p: (p.fe, p.fn, -90.0 if p.south else 90.0))
LAEA = Family("LAEA", LaeaParams, laea_forward, laea_inverse, laea_inverse_sql,
              key=_spec("lat0 lon0 fe fn e2 a", e2=_E17))
SINU = Family("SINU", SinuParams, sinu_forward, sinu_inverse, sinu_inverse_sql,
              key=_spec("r lon0 fe fn"))
LCC = Family("LCC", LccParams, lcc_forward, lcc_inverse, lcc_inverse_sql,
             key=_spec("lat1 lat2 lat0 lon0 fe fn e2 a", e2=_E17))
AEA = Family("AEA", AeaParams, aea_forward, aea_inverse, aea_inverse_sql,
             key=_spec("lat1 lat2 lat0 lon0 fe fn e2 a", e2=_E17))
ETM = Family("ETM", EtmParams, etm_forward, etm_inverse, etm_inverse_sql,
             key=_spec("a e2 k0 lat0 lon0 fe fn"))
SOMERC = Family("SOMERC", SwissParams, swiss_forward, swiss_inverse, swiss_inverse_sql,
                key=_spec("a e2 lat0 lon0 fe fn"))
HOM = Family("HOM", HomParams, hom_forward, hom_inverse, hom_inverse_sql,
             key=_spec("a e2 latc lonc alphac gammac k0 ec nc"))
CEA = Family("CEA", CeaParams, cea_forward, cea_inverse, cea_inverse_sql,
             separable=True, key=_spec("lat_ts lon0 fe fn a e2"))
AEQD = Family("AEQD", AeqdParams, aeqd_forward, aeqd_inverse, aeqd_inverse_sql,
              key=_spec("lat0 lon0 fe fn a e2"))
EQC = Family("EQC", EqcParams, eqc_forward, eqc_inverse, eqc_inverse_sql,
             separable=True, key=_spec("lat_ts lat0 lon0 fe fn a e2"))

_BY_PREFIX = {f.prefix: f for f in (PS, LAEA, SINU, LCC, AEA, ETM, SOMERC, HOM,
                                    CEA, AEQD, EQC)}

# the datum fields of each +ellps, for the registry entries below
_AE = {name: dict(zip(("a", "e2"), _ellps(name))) for name in _ELLPS}

# the known EPSG entries: code -> (family, params), the EPSG registry values
_KNOWN: dict = {
    "EPSG:4326": (WGS84, None),
    "EPSG:3857": (WEBMERC, None),
    # WGS 84 / UTM zones 1..60 N (326xx) and S (327xx)
    **{f"EPSG:32{6 + s}{z:02d}": (ETM, EtmParams(
        k0=K0, lat0=0.0, lon0=-183.0 + 6.0 * z, fe=FE, fn=FN_SOUTH if s else 0.0,
        **_AE["wgs84"])) for s in (0, 1) for z in range(1, 61)},
    # WGS84 Antarctic Polar Stereographic
    "EPSG:3031": (PS, PolarPS(lat_ts=-71.0, lon0=0.0, fe=0.0, fn=0.0, south=True,
                              **_AE["wgs84"])),
    # NSIDC Sea Ice Polar Stereographic North
    "EPSG:3413": (PS, PolarPS(lat_ts=70.0, lon0=-45.0, fe=0.0, fn=0.0, south=False,
                              **_AE["wgs84"])),
    # ETRS89-extended / LAEA Europe (the ESA CCI / EEA reference grid)
    "EPSG:3035": (LAEA, LaeaParams(lat0=52.0, lon0=10.0, fe=4321000.0, fn=3210000.0,
                                   **_AE["grs80"])),
    # RGF93 / Lambert-93 (GRS80 ellipsoid)
    "EPSG:2154": (LCC, LccParams(lat1=49.0, lat2=44.0, lat0=46.5, lon0=3.0, fe=700000.0,
                                 fn=6600000.0, **_AE["grs80"])),
    # NAD83 / Conus Albers (GRS80)
    "EPSG:5070": (AEA, AeaParams(lat1=29.5, lat2=45.5, lat0=23.0, lon0=-96.0, fe=0.0,
                                 fn=0.0, **_AE["grs80"])),
    # OSGB36 / British National Grid
    "EPSG:27700": (ETM, EtmParams(k0=0.9996012717, lat0=49.0, lon0=-2.0, fe=400000.0,
                                  fn=-100000.0, helm=_OSGB_HELM, **_AE["airy"])),
    # CH1903+ / LV95 and CH1903 / LV03
    "EPSG:2056": (SOMERC, SwissParams(lat0=_SWISS_LAT0, lon0=_SWISS_LON0, fe=2600000.0,
                                      fn=1200000.0, helm=_SWISS_HELM, **_AE["bessel"])),
    "EPSG:21781": (SOMERC, SwissParams(lat0=_SWISS_LAT0, lon0=_SWISS_LON0, fe=600000.0,
                                       fn=200000.0, helm=_SWISS_HELM, **_AE["bessel"])),
    # NSIDC EASE-Grid 2.0 Global
    "EPSG:6933": (CEA, CeaParams(lat_ts=30.0, lon0=0.0, fe=0.0, fn=0.0, **_AE["wgs84"])),
    # WGS 84 / World Equidistant Cylindrical
    "EPSG:4087": (EQC, EqcParams(lat_ts=0.0, lat0=0.0, lon0=0.0, fe=0.0, fn=0.0,
                                 **_AE["wgs84"])),
    # Guam 1963 / Yap Islands (Clarke 1866)
    "EPSG:3295": (AEQD, AeqdParams(
        lat0=9.0 + 32.0 / 60.0 + 48.15 / 3600.0, lon0=138.0 + 10.0 / 60.0 + 7.48 / 3600.0,
        fe=40000.0, fn=60000.0, **_AE["clrk66"])),
    # Timbalai 1948 / RSO Borneo (m), the EPSG worked-example instance:
    # Everest 1830 (1967 definition), Timbalai->WGS84 3-param shift
    "EPSG:29873": (HOM, HomParams(
        a=6377298.556, e2=_e2_of(6377298.556, 300.8017),
        latc=4.0, lonc=115.0,
        alphac=53.0 + 18.0 / 60.0 + 56.9537 / 3600.0,
        gammac=53.0 + 7.0 / 60.0 + 48.3685 / 3600.0,
        k0=0.99984, ec=590476.87, nc=442857.65,
        helm=(-679.0, 669.0, -48.0, 0.0, 0.0, 0.0, 0.0),
    )),
}
_CODE_OF: dict = {}  # (family, params) -> EPSG code: proj4 canonicalization
for _code, _hit in _KNOWN.items():
    _CODE_OF.setdefault(_hit, _code)
_ALIASES = {"WGS84": "EPSG:4326", "CRS84": "EPSG:4326",
            "EPSG:900913": "EPSG:3857", "WEBMERCATOR": "EPSG:3857"}

# dynamic key -> (family, params). Keys are SELF-DESCRIBING: executor
# python workers import srs.py fresh, so a key missing here is parsed again
_PARSED: dict = {}


def _dynamic_key(fam: Family, p) -> str:
    parts = [fam.prefix] + [enc(getattr(p, name)) for name, (enc, _) in fam.key]
    if p.helm is not None:
        parts.append(_helm_key(p.helm))
    return ":".join(parts)


def _parse_key(fam: Family, key: str):
    """Params of a dynamic key; ValueError when it is malformed."""
    parts = key.split(":")
    n = 1 + len(fam.key)
    if len(parts) < n or len(parts) > n and "helm" not in fam.params.__dataclass_fields__:
        raise ValueError(f"malformed dynamic SRS key {key!r}")
    kw = {name: dec(v) for (name, (_, dec)), v in zip(fam.key, parts[1:n])}
    if len(parts) > n:
        kw["helm"] = _helm_from_parts(parts, n)
    return fam.params(**kw)


def _proj4_params(s: str):
    """(family, params) of a proj4 string: each +proj's kv -> params, with
    the ellipsoid and datum of _proj4_datum. The reference feeds any user
    SRS string to GDAL (src/view.h:703-711); this resolves the families
    the kernels implement and raises for the rest."""
    kv = _proj4_kv(s)
    proj = kv.get("proj")
    a, e2, helm = _proj4_datum(kv, s)

    def num(name, default=0.0):
        return float(kv.get(name, default))

    if (kv.get("units", "m") != "m" or num("to_meter", 1.0) != 1.0
            or kv.get("pm", "greenwich") not in ("greenwich", "0")):
        raise ValueError(f"only metres on the Greenwich meridian are supported: {s!r}")
    if proj in ("longlat", "merc", "sinu") and helm is not None:
        raise ValueError(f"+proj={proj} takes no datum shift: {s!r}")
    if proj == "longlat":
        return WGS84, None  # no projection math reads its ellipsoid
    if proj == "merc":
        if (a, e2) != (R, 0.0) or any(num(k) for k in ("lat_ts", "lon_0", "x_0", "y_0")) \
                or num("k", kv.get("k_0", 1.0)) != 1.0:
            raise ValueError(f"only the spherical web Mercator (EPSG:3857) is supported: {s!r}")
        return WEBMERC, None
    if proj == "sinu":
        # spherical form (the MODIS grid); the ellipsoidal series is not
        # implemented
        if e2 != 0.0:
            raise ValueError(f"+proj=sinu needs a sphere (+R=, or +a= alone): {s!r}")
        return SINU, SinuParams(r=a, lon0=num("lon_0"), fe=num("x_0"), fn=num("y_0"))
    if proj == "utm":
        # a zone is the tmerc parameter set PROJ derives from it
        zone = int(str(kv.get("zone", 0)))
        if not 1 <= zone <= 60:
            raise ValueError(f"UTM zone {zone} out of range in {s!r}")
        proj = "tmerc"
        kv.update(k=K0, lat_0=0.0, lon_0=-183.0 + 6.0 * zone, x_0=FE,
                  y_0=FN_SOUTH if kv.get("south") else 0.0)
    k0 = num("k", kv.get("k_0", 1.0))
    base = dict(lon0=num("lon_0"), fe=num("x_0"), fn=num("y_0"), a=a, e2=e2, helm=helm)
    if proj == "stere" and num("lat_0") in (90.0, -90.0) and k0 == 1.0:
        return PS, PolarPS(lat_ts=num("lat_ts", kv["lat_0"]), south=num("lat_0") < 0, **base)
    if proj == "laea":
        return LAEA, LaeaParams(lat0=num("lat_0"), **base)
    if proj in ("aea", "lcc"):
        fam, cls = (AEA, AeaParams) if proj == "aea" else (LCC, LccParams)
        return fam, cls(lat1=num("lat_1"), lat2=num("lat_2", kv.get("lat_1", 0.0)),
                        lat0=num("lat_0"), **base)
    if proj == "eqc":
        return EQC, EqcParams(lat_ts=num("lat_ts"), lat0=num("lat_0"), **base)
    if proj == "cea":
        return CEA, CeaParams(lat_ts=num("lat_ts"), **base)
    if proj == "aeqd":
        return AEQD, AeqdParams(lat0=num("lat_0"), **base)
    if proj == "tmerc":
        return ETM, EtmParams(k0=k0, lat0=num("lat_0"), **base)
    if proj == "somerc" and k0 == 1.0:
        return SOMERC, SwissParams(lat0=num("lat_0"), **base)
    if proj == "omerc" and not kv.get("no_uoff"):
        alpha = num("alpha")
        return HOM, HomParams(latc=num("lat_0"), lonc=num("lonc"), alphac=alpha,
                              gammac=num("gamma", alpha), k0=k0, ec=base["fe"],
                              nc=base["fn"], a=a, e2=e2, helm=helm)
    raise ValueError(f"unsupported proj4 SRS {s!r} (non-polar or variant A (+k) stere, "
                     f"somerc with k_0 != 1 and omerc variant A (+no_uoff) included)")


_WKT_EPSG_RE = re.compile(
    r"""(?:AUTHORITY\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]|ID\s*\[\s*"EPSG"\s*,\s*(\d+)\s*\])""",
    re.IGNORECASE,
)


def normalize(srs: str) -> str:
    raw = str(srs).strip()
    if raw in _KNOWN or raw in _PARSED:
        return raw
    if raw.startswith("+"):
        # a known EPSG parameter set canonicalizes to its code, any other
        # becomes a dynamic key
        hit = _proj4_params(raw)
        code = _CODE_OF.get(hit)
        if code is None:
            code = _dynamic_key(*hit)
            _PARSED[code] = hit
        return code
    if "[" in raw:
        # WKT1/WKT2: the LAST EPSG authority entry is the CRS's own code
        hits = _WKT_EPSG_RE.findall(raw)
        if hits:
            code = hits[-1][0] or hits[-1][1]
            return normalize(f"EPSG:{code}")
        raise ValueError(f"WKT without an EPSG authority is unsupported: {raw[:60]}...")
    head, colon, _ = raw.partition(":")
    fam = _BY_PREFIX.get(head) if colon else None
    if fam is not None:
        try:
            _PARSED[raw] = (fam, _parse_key(fam, raw))
        except ValueError:
            raise ValueError(f"malformed dynamic SRS key {raw!r}") from None
        return raw
    s = raw.upper().replace(" ", "")
    s = _ALIASES.get(s, s)
    if s in _KNOWN:
        return s
    raise ValueError(
        f"unsupported SRS {srs!r}: give one of the EPSG codes 4326, 3857, "
        f"326xx/327xx (UTM), 3031, 3413, 3035, 2154, 5070, 27700, 2056, 21781, 6933, 4087, "
        f"3295 or 29873, its WKT, or a longlat/merc/utm/tmerc/stere/laea/aea/lcc/sinu/"
        f"somerc/omerc/aeqd/eqc/cea proj4 string. A proj4 string resolves exactly or "
        f"raises: its ellipsoid is +ellps, +R or +a with +b/+rf/+f (WGS84 if none), its "
        f"datum +towgs84, one NTv2 .gsb +nadgrids or +datum=WGS84, NAD83 (GRS80, no "
        f"shift) or OSGB36 (Airy + the OSGB36 Helmert), and it is an EPSG code only when "
        f"its ellipsoid and datum are that code's")


def resolve(srs: str):
    """(family, params) of any supported SRS string — the one lookup
    is_separable and every transform entry point go through."""
    key = normalize(srs)
    return _KNOWN.get(key) or _PARSED[key]


def _helm(p):
    """The datum stage of params ``p`` (None for 4326 and 3857)."""
    return None if p is None else p.helm


def _separable(fam: Family, p) -> bool:
    return fam.separable and _helm(p) is None


def is_separable(srs: str) -> bool:
    """True iff x depends only on lon and y only on lat (1-D axis transforms
    suffice): 4326, 3857, cylindrical equal area (EPSG:6933 EASE-Grid 2.0)
    and equidistant cylindrical (EPSG:4087 Plate Carrée), each without a
    datum stage."""
    return _separable(*resolve(srs))


# -- generic transform surface -------------------------------------------------

_BBOX_SAMPLES = 9  # points per rectangle edge in bbox_to_wgs84


def _to_grid(fam: Family, p, lon, lat):
    """WGS84 (lon, lat) -> grid (x, y): the datum stage, when the params
    carry a helm, then the family's forward kernel."""
    if _helm(p) is not None:
        lon, lat = wgs84_to_datum(np.asarray(lon, dtype=np.float64),
                                  np.asarray(lat, dtype=np.float64), p.a, p.e2, p.helm)
    return fam.forward(lon, lat, p)


def _to_wgs84(fam: Family, p, x, y):
    """Grid (x, y) -> WGS84 (lon, lat): the family's inverse kernel, then
    the datum stage when the params carry a helm."""
    lon, lat = fam.inverse(x, y, p)
    if _helm(p) is None:
        return lon, lat
    return datum_to_wgs84(lon, lat, p.a, p.e2, p.helm)


def _axis_lonlat(fam: Family, p, xs, ys):
    # separable: lon depends on x alone and lat on y alone, so the other
    # coordinate can be a scalar zero
    return _to_wgs84(fam, p, xs, 0.0)[0], _to_wgs84(fam, p, 0.0, ys)[1]


def axis_to_wgs84(xs: np.ndarray, ys: np.ndarray, srs: str):
    """1-D axis vectors in a SEPARABLE ``srs`` -> (lon, lat) vectors."""
    fam, p = resolve(srs)
    if not _separable(fam, p):
        raise ValueError(f"{srs} is not separable; use grid_to_wgs84")
    return _axis_lonlat(fam, p, xs, ys)


def grid_to_wgs84(xs: np.ndarray, ys: np.ndarray, srs: str):
    """1-D axis vectors -> 2-D (LON, LAT) grids of shape (len(ys), len(xs)),
    valid for any supported SRS (the non-separable warp path)."""
    fam, p = resolve(srs)
    if _separable(fam, p):
        lon, lat = _axis_lonlat(fam, p, xs, ys)
        return np.broadcast_to(lon[None, :], (len(ys), len(xs))), np.broadcast_to(
            lat[:, None], (len(ys), len(xs))
        )
    X = np.broadcast_to(np.asarray(xs, dtype=np.float64)[None, :], (len(ys), len(xs)))
    Y = np.broadcast_to(np.asarray(ys, dtype=np.float64)[:, None], (len(ys), len(xs)))
    return _to_wgs84(fam, p, X, Y)


def from_wgs84(lon, lat, srs: str):
    """(lon, lat) -> coords in ``srs`` (vectorized)."""
    return _to_grid(*resolve(srs), lon, lat)


def points_to_wgs84(x, y, srs: str):
    """Point-wise (x, y in srs) -> (lon, lat) (vectorized; the inverse of
    from_wgs84 for arbitrary point sets, not axis grids)."""
    return _to_wgs84(*resolve(srs), np.asarray(x, dtype=np.float64),
                     np.asarray(y, dtype=np.float64))


def bbox_to_wgs84(left, right, bottom, top, srs: str):
    """Conservative 4326 bbox of a rectangle in ``srs``.

    Separable SRS: corners map to corners (exact). Non-separable: sample
    _BBOX_SAMPLES points per edge, take extremes, pad by the max adjacent
    sample gap — a superset bbox (the per-cell inside test downstream stays
    exact; the reference transforms the query rect the same way,
    src/image_collection.cpp:1326)."""
    fam, p = resolve(srs)
    if _separable(fam, p):
        lon0, lat0 = _to_wgs84(fam, p, left, bottom)
        lon1, lat1 = _to_wgs84(fam, p, right, top)
        return float(lon0), float(lon1), float(lat0), float(lat1)
    t = np.linspace(0.0, 1.0, _BBOX_SAMPLES)
    xs = left + (right - left) * t
    ys = bottom + (top - bottom) * t
    ex = np.concatenate([xs, xs, np.full_like(ys, left), np.full_like(ys, right)])
    ey = np.concatenate([np.full_like(xs, bottom), np.full_like(xs, top), ys, ys])
    lon, lat = _to_wgs84(fam, p, ex, ey)
    pole = fam.pole(p) if fam.pole is not None else None
    if pole is not None and left <= pole[0] <= right and bottom <= pole[1] <= top:
        # rectangle contains the pole: every longitude occurs; latitudes
        # reach the pole itself (edge sampling would miss both)
        if pole[2] < 0:
            return -180.0, 180.0, -90.0, float(lat.max())
        return -180.0, 180.0, float(lat.min()), 90.0
    # pad by the curvature bound: between two edge samples the extremum can
    # exceed the sampled max by at most ~the sample spread; one full gap is
    # a safe over-estimate at these scales
    pad_lon = (lon.max() - lon.min()) / (_BBOX_SAMPLES - 1)
    pad_lat = (lat.max() - lat.min()) / (_BBOX_SAMPLES - 1)
    return (
        float(lon.min() - pad_lon),
        float(lon.max() + pad_lon),
        float(lat.min() - pad_lat),
        float(lat.max() + pad_lat),
    )
