"""One ellipsoid-and-datum parser for every proj4 family.

Every ``+proj`` the parser accepts, crossed with each way of naming an
ellipsoid and datum, either raises ValueError or resolves to the
``(a, e2, helm)`` the string names, and becomes an EPSG code only when
that code has the same ellipsoid and datum. For every string that
resolves, the numpy inverse (``points_to_wgs84``) and its SQL mirror run
in DuckDB (``inverse_sql``, chained with ``_datum_sql`` when the params
carry a Helmert datum stage) agree to 1e-12 degrees, the tolerance of the
other SQL-mirror tests.

The expected ellipsoids are computed here from the published (a, 1/f)
values, not read from srs.py.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark import srs


def _ell(a: float, inv_f: float) -> tuple:
    f = 1.0 / inv_f
    return a, f * (2.0 - f)


WGS84 = _ell(6378137.0, 298.257223563)
GRS80 = _ell(6378137.0, 298.257222101)
INTL = _ell(6378388.0, 297.0)
BESSEL = _ell(6377397.155, 299.1528128)
AIRY = _ell(6377563.396, 299.3249646)
OSGB36 = (446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)
SHIFT = (100.0, -50.0, 25.0, 0.0, 0.0, 0.0, 0.0)

# +proj -> (proj4 string without ellipsoid or datum, lon range, lat range)
BASES = {
    "longlat": ("+proj=longlat", (-10.0, 10.0), (40.0, 50.0)),
    "merc": ("+proj=merc", (-10.0, 10.0), (40.0, 50.0)),
    "utm": ("+proj=utm +zone=32", (6.0, 12.0), (35.0, 60.0)),
    "tmerc": ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
              "+y_0=-100000", (-7.0, 2.0), (49.5, 59.0)),
    "stere": ("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45", (-180.0, 180.0), (60.0, 88.0)),
    "laea": ("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000",
             (-10.0, 30.0), (35.0, 70.0)),
    "aea": ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96",
            (-125.0, -67.0), (24.0, 50.0)),
    "lcc": ("+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 +x_0=700000 "
            "+y_0=6600000", (-5.0, 9.0), (41.0, 51.0)),
    "sinu": ("+proj=sinu +lon_0=20", (-150.0, 170.0), (-80.0, 80.0)),
    "somerc": ("+proj=somerc +lat_0=46.9524055555556 +lon_0=7.4395833333333 "
               "+x_0=600000 +y_0=200000", (5.9, 10.5), (45.8, 47.8)),
    "omerc": ("+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
              "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 +y_0=442857.65",
              (109.5, 119.0), (0.8, 7.5)),
    "aeqd": ("+proj=aeqd +lat_0=9.5467 +lon_0=138.1687 +x_0=40000 +y_0=60000",
             (137.0, 139.5), (8.2, 10.8)),
    "eqc": ("+proj=eqc +lat_ts=30 +lon_0=10", (-170.0, 170.0), (-80.0, 80.0)),
    "cea": ("+proj=cea +lat_ts=30", (-170.0, 170.0), (-80.0, 80.0)),
}

# variant -> (ellipsoid and datum keys, the (a, e2, helm) they name)
VARIANTS = {
    "none": ("", (*WGS84, None)),  # no ellipsoid given: WGS84
    "wgs84": ("+ellps=WGS84", (*WGS84, None)),
    "grs80": ("+ellps=GRS80", (*GRS80, None)),
    "intl": ("+ellps=intl", (*INTL, None)),
    "bessel": ("+ellps=bessel", (*BESSEL, None)),
    "towgs84": ("+ellps=WGS84 +towgs84=100,-50,25", (*WGS84, SHIFT)),
    "osgb36": ("+datum=OSGB36", (*AIRY, OSGB36)),
    "sphere": ("+R=6371000", (6371000.0, 0.0, None)),
}

RAISES = "raises"


def _expected(proj: str, variant: str):
    a, e2, helm = VARIANTS[variant][1]
    if proj == "longlat":  # the datum stage has no params to ride in
        return RAISES if helm is not None else "EPSG:4326"
    if proj == "merc":  # only EPSG:3857's R = 6378137 sphere is supported
        return RAISES
    if proj == "sinu":  # the spherical form only, and no datum stage
        return RAISES if e2 != 0.0 or helm is not None else (a, e2, helm)
    return a, e2, helm


@pytest.fixture(scope="module")
def con():
    import duckdb

    c = duckdb.connect()
    yield c
    c.close()


def _sql_parity(key: str, lon_rng, lat_rng, con) -> None:
    """points_to_wgs84 == the SQL mirror in DuckDB, to 1e-12 degrees."""
    fam, p = srs.resolve(key)
    rng = np.random.default_rng(zlib.crc32(key.encode()))
    lon = rng.uniform(*lon_rng, 64)
    lat = rng.uniform(*lat_rng, 64)
    x, y = srs.from_wgs84(lon, lat, key)
    lon_np, lat_np = srs.points_to_wgs84(x, y, key)
    lon_s, lat_s = fam.inverse_sql("x", "y", p)
    dlon, dlat = ("lon0d", "lat0d") if p.helm is None else srs._datum_sql(
        "lon0d", "lat0d", p.a, p.e2, p.helm)
    con.register("pts", pd.DataFrame({"i": np.arange(x.size), "x": x, "y": y}))
    try:
        out = con.execute(
            f"WITH s AS (SELECT i, {lon_s} AS lon0d, {lat_s} AS lat0d FROM pts) "
            f"SELECT {dlon} AS lon, {dlat} AS lat FROM s ORDER BY i").fetchnumpy()
    finally:
        con.unregister("pts")
    assert np.abs(out["lon"] - lon_np).max() <= 1e-12
    assert np.abs(out["lat"] - lat_np).max() <= 1e-12


@pytest.mark.parametrize("variant", list(VARIANTS))
@pytest.mark.parametrize("proj", list(BASES))
def test_every_family_reads_one_ellipsoid_and_datum(proj, variant, con):
    base, lon_rng, lat_rng = BASES[proj]
    s = f"{base} {VARIANTS[variant][0]}".strip()
    want = _expected(proj, variant)
    if want == RAISES:
        with pytest.raises(ValueError):
            srs.normalize(s)
        return
    key = srs.normalize(s)
    if proj == "longlat":
        assert key == want
        return
    fam, p = srs.resolve(key)
    # the sinusoidal sphere's radius is its a
    got = (p.r, 0.0, p.helm) if fam is srs.SINU else (p.a, p.e2, p.helm)
    assert got == want, (s, key)
    if not key.startswith("EPSG:"):  # the key alone gives the params back
        srs._PARSED.pop(key)
        assert srs.resolve(key) == (fam, p)
    _sql_parity(key, lon_rng, lat_rng, con)


def test_codes_only_on_their_own_ellipsoid_and_datum():
    """The cross product's EPSG hits: each only where the string names the
    code's ellipsoid and datum."""
    hits = {}
    for proj, (base, _, _) in BASES.items():
        for variant, (suffix, _) in VARIANTS.items():
            try:
                key = srs.normalize(f"{base} {suffix}".strip())
            except ValueError:
                continue
            if key.startswith("EPSG:"):
                hits[proj, variant] = key
    assert hits == {
        **{("longlat", v): "EPSG:4326"
           for v in ("none", "wgs84", "grs80", "intl", "bessel", "sphere")},
        ("utm", "none"): "EPSG:32632", ("utm", "wgs84"): "EPSG:32632",
        ("tmerc", "osgb36"): "EPSG:27700",
        ("stere", "none"): "EPSG:3413", ("stere", "wgs84"): "EPSG:3413",
        ("laea", "grs80"): "EPSG:3035",
        ("aea", "grs80"): "EPSG:5070",
        ("lcc", "grs80"): "EPSG:2154",
        ("cea", "none"): "EPSG:6933", ("cea", "wgs84"): "EPSG:6933",
    }


# The strings that resolved to a wrong ellipsoid or datum before the one
# parser: each raises now or resolves to its true (a, e2, helm).
WRONG_BEFORE = [
    ("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 +ellps=bessel", (*BESSEL, None)),
    ("+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=intl", (*INTL, None)),
    ("+proj=laea +lat_0=52 +lon_0=10 +a=6378388 +rf=297", (*INTL, None)),
    ("+proj=laea +lat_0=52 +lon_0=10 +R=6371000", (6371000.0, 0.0, None)),
    ("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=intl", (*INTL, None)),
    ("+proj=utm +zone=32 +ellps=intl +towgs84=-87,-98,-121",
     (*INTL, (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0))),
    ("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +datum=NAD27", RAISES),
    ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 +y_0=-100000 "
     "+ellps=airy +datum=OSGB36", (*AIRY, OSGB36)),
    ("+proj=longlat +ellps=bessel +towgs84=674.374,15.056,405.346", RAISES),
    ("+proj=eqc +ellps=WGS84 +towgs84=100,0,0", (*WGS84, (100.0, 0, 0, 0, 0, 0, 0))),
    ("+proj=cea +lat_ts=30 +ellps=WGS84 +towgs84=100,0,0",
     (*WGS84, (100.0, 0, 0, 0, 0, 0, 0))),
    ("+proj=sinu +R=6371007.181 +towgs84=1,2,3", RAISES),
]


@pytest.mark.parametrize("s,want", WRONG_BEFORE, ids=range(len(WRONG_BEFORE)))
def test_wrong_before_now_exact_or_raises(s, want):
    if want == RAISES:
        with pytest.raises(ValueError):
            srs.normalize(s)
        return
    key = srs.normalize(s)
    p = srs.resolve(key)[1]
    assert (p.a, p.e2, p.helm) == want
    if p.helm is not None and srs.resolve(key)[0].separable:
        # a datum stage mixes lon and lat: no 1-D axis path
        assert not srs.is_separable(key)
        with pytest.raises(ValueError, match="not separable"):
            srs.axis_to_wgs84(np.zeros(2), np.zeros(2), key)


@pytest.mark.parametrize("s", [
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +datum=NAD27",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +datum=OSGB36 +ellps=WGS84",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +datum=OSGB36 +towgs84=1,2,3",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +datum=NAD83 +towgs84=1,2,3",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +nadgrids=conus",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +nadgrids=@a.gsb,@b.gsb",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=intl +a=6378137",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +rf=297",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=krass",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +towgs84=1,2",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +units=us-ft",
    "+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +pm=paris",
    "+proj=longlat +datum=OSGB36",
    "+proj=stere +lat_0=90 +lat_ts=90 +lon_0=0 +k=0.994 +x_0=2000000 +y_0=2000000",
    "+proj=merc +a=6378137 +b=6378137 +lon_0=10",
    "+proj=merc +a=6378137 +b=6378137 +towgs84=1,2,3",
    "+proj=sinu +R=6371007.181 +datum=OSGB36",
])
def test_unsupported_datum_or_parameter_raises(s):
    with pytest.raises(ValueError):
        srs.normalize(s)


def test_agreeing_datum_keys_and_null_grids():
    """+datum may repeat its own ellipsoid and shift; @null and all-zero
    shifts are no shift; a geographic string on any ellipsoid without a
    shift is EPSG:4326; a grid path keeps its case."""
    osgb = ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
            "+y_0=-100000 ")
    assert srs.normalize(osgb + "+ellps=airy +datum=OSGB36") == "EPSG:27700"
    assert srs.normalize(osgb + "+datum=OSGB36 +ellps=airy "
                         "+towgs84=446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894"
                         ) == "EPSG:27700"
    assert srs.normalize("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 "
                         "+x_0=0 +y_0=0 +datum=NAD83 +units=m +no_defs") == "EPSG:5070"
    assert srs.normalize("+proj=utm +zone=33 +datum=WGS84 +towgs84=0,0,0") == "EPSG:32633"
    assert srs.normalize("+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 "
                         "+y_0=0 +k=1 +units=m +nadgrids=@null +wktext") == "EPSG:3857"
    assert srs.normalize("+proj=longlat +datum=NAD83") == "EPSG:4326"
    assert srs.normalize("+proj=longlat +ellps=bessel") == "EPSG:4326"
    key = srs.normalize("+proj=utm +zone=33 +ellps=GRS80")
    assert key.startswith("ETM:")
    p = srs.resolve(key)[1]
    assert (p.a, p.e2, p.lon0, p.k0, p.helm) == (*GRS80, 15.0, 0.9996, None)
    p = srs.resolve(srs.normalize(osgb + "+ellps=clrk66 +nadgrids=@/Grids/NTv2_0.GSB"))[1]
    assert p.helm == ("ntv2", "/Grids/NTv2_0.GSB")
