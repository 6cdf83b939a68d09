"""Albers equal-area conic 2SP (EPSG method 9822; Snyder 1987 §14) —
EPSG:5070 NAD83/Conus Albers, the NLCD / NASS CDL national grid.
Validation: origin anchor, equal-area Jacobian (the defining property),
true scale at BOTH standard parallels, roundtrip, proj4 dispatch."""

import math

import numpy as np

from gdalcubes_cpp_spark import srs

P = srs.resolve("EPSG:5070")[1]


def test_aea_origin_anchor():
    x, y = srs.aea_forward(-96.0, 23.0, P)
    assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6


def test_aea_equal_area_jacobian():
    """Defining property: numeric Jacobian determinant equals the
    ellipsoidal area element everywhere (ratio 1 to ~1e-7)."""
    h = 1e-6
    for lon, lat in [(-96.0, 23.0), (-120.0, 40.0), (-75.0, 45.0), (-96.0, 37.5)]:
        x1, y1 = srs.aea_forward(lon, lat, P)
        x2, y2 = srs.aea_forward(lon + h, lat, P)
        x3, y3 = srs.aea_forward(lon, lat + h, P)
        J = abs(
            (float(x2) - float(x1)) * (float(y3) - float(y1))
            - (float(x3) - float(x1)) * (float(y2) - float(y1))
        )
        phi = math.radians(lat)
        area = (
            P.a ** 2 * (1 - P.e2) * math.cos(phi)
            / (1 - P.e2 * math.sin(phi) ** 2) ** 2 * math.radians(h) ** 2
        )
        assert abs(J / area - 1.0) < 1e-6, (lon, lat)


def test_aea_true_scale_at_both_parallels():
    for sp in (29.5, 45.5):
        h = 1e-7
        x1, y1 = srs.aea_forward(-96.0, sp, P)
        x2, y2 = srs.aea_forward(-96.0 + h, sp, P)
        d_map = math.hypot(float(x2) - float(x1), float(y2) - float(y1))
        m = math.cos(math.radians(sp)) / math.sqrt(
            1.0 - P.e2 * math.sin(math.radians(sp)) ** 2
        )
        assert abs(d_map / (P.a * m * math.radians(h)) - 1.0) < 1e-6


def test_aea_roundtrip():
    lon = np.linspace(-125.0, -66.0, 20)
    lat = np.linspace(24.0, 50.0, 14)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.aea_forward(LON, LAT, P)
    lo, la = srs.aea_inverse(x, y, P)
    assert np.abs(lo - LON).max() < 1e-12
    assert np.abs(la - LAT).max() < 5e-8  # authalic series truncation


def test_aea_proj4_and_dispatch():
    got = srs.normalize(
        "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +ellps=GRS80"
    )
    assert got == "EPSG:5070"
    novel = srs.normalize("+proj=aea +lat_1=50 +lat_2=58 +lat_0=40 +lon_0=-100")
    assert novel.startswith("AEA:")
    assert srs.normalize(novel) == novel
    assert not srs.is_separable("EPSG:5070")
    xs = np.array([-2000000.0, 0.0, 2000000.0])
    ys = np.array([500000.0, 1500000.0, 3000000.0])
    LON, LAT = srs.grid_to_wgs84(xs, ys, "EPSG:5070")
    X, Y = srs.from_wgs84(LON, LAT, "EPSG:5070")
    assert np.abs(X - xs[None, :]).max() < 1e-2
    assert np.abs(Y - ys[:, None]).max() < 1e-2
    l, r, b, t = srs.bbox_to_wgs84(
        -2000000.0, 2000000.0, 500000.0, 3000000.0, "EPSG:5070"
    )
    assert l < LON.min() and r > LON.max() and b < LAT.min() and t > LAT.max()


def test_aea_sql_mirror_duckdb():
    """aea_inverse_sql replays the numpy kernel in DuckDB to libm ulps."""
    import duckdb

    lon_sql, lat_sql = srs.aea_inverse_sql("x", "y", P)
    xs = np.linspace(-2.2e6, 2.2e6, 25)
    ys = np.linspace(3.0e5, 3.2e6, 25)
    X, Y = np.meshgrid(xs, ys)
    lo_np, la_np = srs.aea_inverse(X, Y, P)
    rows = duckdb.connect().execute(
        f"SELECT {lon_sql} AS lon, {lat_sql} AS lat "
        f"FROM (SELECT unnest(?) AS x, unnest(?) AS y)",
        [X.ravel().tolist(), Y.ravel().tolist()],
    ).fetchnumpy()
    assert np.abs(rows["lon"] - lo_np.ravel()).max() < 1e-12
    assert np.abs(rows["lat"] - la_np.ravel()).max() < 1e-12
