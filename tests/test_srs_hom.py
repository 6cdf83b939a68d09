"""Hotine oblique Mercator variant B (EPSG method 9815; Snyder 1987 §9):
EPSG:29873 Timbalai 1948 / RSO Borneo. Validation: the EPSG Guidance
Note 7-2 worked example (sub-cm), conformality, roundtrip, SQL-mirror
parity, proj4 omerc dynamic keys, and the driver-suite member margins."""

import math
from dataclasses import replace

import numpy as np

from gdalcubes_cpp_spark import srs

RSO = srs.resolve("EPSG:29873")[1]
RSO_NODATUM = replace(RSO, helm=None)


def test_epsg_worked_example():
    """EPSG GN7-2 method 9815: Timbalai geodetic 5°23'14.1129\"N
    115°48'19.8196\"E -> E 679245.73 N 596562.78."""
    lat = 5 + 23 / 60 + 14.1129 / 3600
    lon = 115 + 48 / 60 + 19.8196 / 3600
    E, N = srs.hom_forward(lon, lat, RSO_NODATUM)
    assert abs(float(E) - 679245.73) < 0.01
    assert abs(float(N) - 596562.78) < 0.01
    # and back
    lo, la = srs.hom_inverse(E, N, RSO_NODATUM)
    assert abs(float(lo) - lon) < 1e-6
    assert abs(float(la) - lat) < 1e-6


def test_roundtrip_wgs84():
    lon = np.linspace(109.5, 119.0, 12)
    lat = np.linspace(0.8, 7.5, 9)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.from_wgs84(LON, LAT, "EPSG:29873")
    lo, la = srs.points_to_wgs84(x, y, "EPSG:29873")
    # inverse-conformal series truncation ~3e-8 deg (~3 mm) on Everest
    assert np.abs(lo - LON).max() < 1e-6
    assert np.abs(la - LAT).max() < 1e-6


def test_conformality():
    h = 1e-6
    for lon, lat in [(115.0, 4.0), (110.0, 2.0), (118.0, 6.0)]:
        x0, y0 = (float(v) for v in srs.hom_forward(lon, lat, RSO_NODATUM))
        x1, y1 = (float(v) for v in srs.hom_forward(lon + h, lat, RSO_NODATUM))
        x2, y2 = (float(v) for v in srs.hom_forward(lon, lat + h, RSO_NODATUM))
        c = math.cos(math.radians(lat))
        u = ((x1 - x0) / c, (y1 - y0) / c)
        v = (x2 - x0, y2 - y0)
        nu, nv = math.hypot(*u), math.hypot(*v)
        assert abs(u[0] * v[0] + u[1] * v[1]) / (nu * nv) < 1e-4, (lon, lat)
        phi = math.radians(lat)
        w2 = 1.0 - RSO.e2 * math.sin(phi) ** 2
        assert abs(nv / nu - (1.0 - RSO.e2) / w2) < 1e-4, (lon, lat)


def test_scale_on_initial_line():
    """Defining property: the scale factor equals k0 AT the projection
    center (the initial line's anchor point)."""
    h = 1e-7
    lon, lat = RSO.lonc, RSO.latc
    x0, y0 = (float(v) for v in srs.hom_forward(lon, lat, RSO_NODATUM))
    x1, y1 = (float(v) for v in srs.hom_forward(lon + h, lat, RSO_NODATUM))
    phi = math.radians(lat)
    nu = RSO.a / math.sqrt(1.0 - RSO.e2 * math.sin(phi) ** 2)
    ground = nu * math.cos(phi) * math.radians(h)
    k = math.hypot(x1 - x0, y1 - y0) / ground
    assert abs(k - RSO.k0) < 1e-6


def test_sql_mirror_duckdb():
    import duckdb

    xs = np.linspace(200000.0, 900000.0, 15)
    ys = np.linspace(150000.0, 900000.0, 12)
    X, Y = np.meshgrid(xs, ys)
    lon_np, lat_np = srs.points_to_wgs84(X.ravel(), Y.ravel(), "EPSG:29873")
    lon_s, lat_s = srs.hom_inverse_sql("x", "y", RSO)
    dlon, dlat = srs._datum_sql("lon0d", "lat0d", RSO.a, RSO.e2, RSO.helm)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({x!r}, {y!r})" for x, y in zip(X.ravel(), Y.ravel()))
                + ") v(x, y)")
    out = con.execute(
        f"WITH s AS (SELECT x, y, {lon_s} AS lon0d, {lat_s} AS lat0d FROM t) "
        f"SELECT {dlon} AS lon, {dlat} AS lat FROM s"
    ).fetchnumpy()
    assert np.abs(out["lon"] - lon_np).max() < 1e-12
    assert np.abs(out["lat"] - lat_np).max() < 1e-12


def test_proj4_and_dynamic_key():
    k = srs.normalize(
        "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
        "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 +y_0=442857.65 "
        "+a=6377298.556 +rf=300.8017 +towgs84=-679,669,-48"
    )
    assert k == "EPSG:29873"
    k2 = srs.normalize("+proj=omerc +lat_0=47.5 +lonc=14 +alpha=45 +k=1 +ellps=grs80")
    assert k2.startswith("HOM:")
    srs._PARSED.pop(k2)  # fresh-executor semantics
    assert srs.normalize(k2) == k2
    x, y = srs.from_wgs84(np.array([14.5]), np.array([47.8]), k2)
    lo, la = srs.points_to_wgs84(x, y, k2)
    assert abs(float(lo[0]) - 14.5) < 1e-6 and abs(float(la[0]) - 47.8) < 1e-6
    import pytest

    with pytest.raises(ValueError, match="variant A"):
        srs.normalize("+proj=omerc +lat_0=4 +lonc=115 +alpha=53 +no_uoff")
