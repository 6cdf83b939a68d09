"""Transverse-Mercator / UTM SRS support (srs.py) — validated against an
INDEPENDENT Krueger-series implementation (different algorithm, implemented
here), numerical meridian-arc integration, round-trips, and the SQL mirror
(the DuckDB oracle path), all through the public transform surface: a UTM
zone is an ETM row of the family table. Reference parity: the reference
accepts any GDAL SRS (src/warp.cpp:33-55, src/view.h:703-711); its flagship
collection formats are UTM-zone products (formats/Sentinel2_L2A.json)."""

import math

import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark import srs
from gdalcubes_cpp_spark.view import CubeView


def krueger_forward(lon, lat, lon0):
    """Independent check: Krueger 6th-order series (Karney 2011 formulation,
    en.wikipedia.org/wiki/Transverse_Mercator:_Redfearn_series alternative)
    — sub-micrometer accurate in-zone, NOT the Snyder series srs.py uses."""
    a = 6378137.0
    f = 1 / 298.257223563
    n = f / (2 - f)
    A = a / (1 + n) * (1 + n ** 2 / 4 + n ** 4 / 64 + n ** 6 / 256)
    alpha = [
        0,
        1 / 2 * n - 2 / 3 * n ** 2 + 5 / 16 * n ** 3 + 41 / 180 * n ** 4
        - 127 / 288 * n ** 5 + 7891 / 37800 * n ** 6,
        13 / 48 * n ** 2 - 3 / 5 * n ** 3 + 557 / 1440 * n ** 4
        + 281 / 630 * n ** 5 - 1983433 / 1935360 * n ** 6,
        61 / 240 * n ** 3 - 103 / 140 * n ** 4 + 15061 / 26880 * n ** 5
        + 167603 / 181440 * n ** 6,
        49561 / 161280 * n ** 4 - 179 / 168 * n ** 5 + 6601661 / 7257600 * n ** 6,
        34729 / 80640 * n ** 5 - 3418889 / 1995840 * n ** 6,
        212378941 / 319334400 * n ** 6,
    ]
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - lon0)
    e = math.sqrt(f * (2 - f))
    t = np.sinh(np.arctanh(np.sin(phi)) - e * np.arctanh(e * np.sin(phi)))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xi = xi_p + sum(alpha[j] * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p) for j in range(1, 7))
    eta = eta_p + sum(alpha[j] * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p) for j in range(1, 7))
    return 500000.0 + 0.9996 * A * eta, 0.9996 * A * xi


def test_tm_forward_vs_krueger():
    lons = np.array([12.0, 13.5, 15.0, 16.7, 17.99, 12.01])
    lats = np.array([0.5, 46.0, 60.0, 75.0, 46.0, -35.0])
    xs, ys = srs.from_wgs84(lons, lats, "EPSG:32633")
    xk, yk = krueger_forward(lons, lats, 15.0)
    assert np.abs(xs - xk).max() < 0.002  # < 2 mm in-zone
    assert np.abs(ys - yk).max() < 0.002


def test_tm_central_meridian_anchors():
    # on the CM: easting exactly FE, northing = k0 * meridian arc, where the
    # arc comes from numerically integrating a(1-e2)/(1-e2 sin^2)^{3/2}
    x, y = srs.from_wgs84(15.0, 60.0, "EPSG:32633")
    assert x == 500000.0
    g = np.linspace(0, math.radians(60.0), 2_000_001)
    arc = np.trapz(srs.A_WGS84 * (1 - srs.E2) / (1 - srs.E2 * np.sin(g) ** 2) ** 1.5, g)
    assert abs(y - 0.9996 * arc) < 0.002
    # equator origin
    x0, y0 = srs.from_wgs84(15.0, 0.0, "EPSG:32633")
    assert x0 == 500000.0 and abs(y0) < 1e-9


def test_tm_roundtrip_and_south():
    rng = np.random.RandomState(0)
    lon = rng.uniform(11.5, 18.5, 500)
    lat = rng.uniform(-79, 84, 500)
    x, y = srs.from_wgs84(lon, lat, "EPSG:32633")
    lo, la = srs.points_to_wgs84(x, y, "EPSG:32633")
    assert np.abs(lo - lon).max() < 1e-7
    assert np.abs(la - lat).max() < 1e-7
    # south zone false northing (EPSG:327xx)
    x, y = srs.from_wgs84(173.0, -41.3, "EPSG:32760")
    assert y > 0  # false northing applied
    assert srs.resolve("EPSG:32760")[1].lon0 == -183 + 6 * 60
    lo, la = srs.points_to_wgs84(np.array([x]), np.array([y]), "EPSG:32760")
    assert abs(lo[0] - 173.0) < 1e-7 and abs(la[0] - (-41.3)) < 1e-7


def test_normalize_and_params():
    assert srs.normalize("epsg:32633") == "EPSG:32633"
    fam, p = srs.resolve("EPSG:32633")
    assert fam is srs.ETM and (p.lon0, p.fn) == (15.0, 0.0)
    assert (p.a, p.e2, p.k0, p.lat0, p.fe, p.helm) == (
        srs.A_WGS84, srs.E2, 0.9996, 0.0, 500000.0, None)
    p = srs.resolve("EPSG:32701")[1]
    assert (p.lon0, p.fn) == (-177.0, 10000000.0)
    assert not srs.is_separable("EPSG:32633")
    assert srs.is_separable("EPSG:3857")
    with pytest.raises(ValueError):
        srs.normalize("EPSG:32661")  # UPS, unsupported
    with pytest.raises(ValueError):
        srs.normalize("EPSG:25832")


def test_normalize_utm_tmerc():
    """A WGS84 +proj=tmerc string with a UTM zone's parameters resolves to
    that zone's EPSG code, as +proj=utm does; other tmerc parameter sets
    stay dynamic ETM keys."""
    assert srs.normalize("+proj=tmerc +lat_0=0 +lon_0=15 +k=0.9996 "
                         "+x_0=500000 +y_0=0 +datum=WGS84 +units=m") == "EPSG:32633"
    assert srs.normalize("+proj=tmerc +lat_0=0 +lon_0=-177 +k=0.9996 "
                         "+x_0=500000 +y_0=10000000 +ellps=WGS84") == "EPSG:32701"
    assert srs.normalize("+proj=utm +zone=33") == "EPSG:32633"
    for other in ("+proj=tmerc +lat_0=0 +lon_0=16 +k=0.9996 +x_0=500000",
                  "+proj=tmerc +lat_0=0 +lon_0=15 +k=0.9996 +x_0=500000 +ellps=grs80",
                  "+proj=tmerc +lat_0=0 +lon_0=15 +k=0.9996 +x_0=500000 "
                  "+towgs84=1,2,3"):
        assert srs.normalize(other).startswith("ETM:"), other


def test_tm_inverse_sql_mirrors_numpy():
    """The SQL emission (DuckDB oracle path) agrees with numpy to < 1e-12
    degrees — driver queries keep footprint edges on a 0.01-degree grid so
    libm-ulp disagreement can never flip a coverage decision."""
    import duckdb

    rng = np.random.RandomState(1)
    lon = rng.uniform(12, 18, 300)
    lat = rng.uniform(40, 70, 300)
    X, Y = srs.from_wgs84(lon, lat, "EPSG:32633")
    fam, p = srs.resolve("EPSG:32633")
    lon_sql, lat_sql = fam.inverse_sql("x", "y", p)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x!r}, {y!r})" for x, y in zip(X, Y))
        + ") t(x, y)"
    )
    df = con.execute(f"SELECT {lon_sql} AS lon, {lat_sql} AS lat FROM pts").df()
    lo, la = srs.points_to_wgs84(X, Y, "EPSG:32633")
    assert np.abs(df["lon"].values - lo).max() < 1e-12
    assert np.abs(df["lat"].values - la).max() < 1e-12


def test_bbox_transforms_conservative():
    """bbox_to_wgs84 must COVER the true image of the rectangle
    (dense-grid probe)."""
    rng = np.random.RandomState(2)
    for _ in range(20):
        l = rng.uniform(300000, 600000)
        b = rng.uniform(4800000, 5400000)
        r = l + rng.uniform(1e4, 2e5)
        t = b + rng.uniform(1e4, 2e5)
        g = np.linspace(0, 1, 25)
        GX, GY = np.meshgrid(l + (r - l) * g, b + (t - b) * g)
        lon, lat = srs.points_to_wgs84(GX, GY, "EPSG:32633")
        lo0, lo1, la0, la1 = srs.bbox_to_wgs84(l, r, b, t, "EPSG:32633")
        assert lo0 <= lon.min() and lo1 >= lon.max()
        assert la0 <= lat.min() and la1 >= lat.max()


def _utm_meta_images(spark, n=60, seed=5):
    rows = []
    rng = np.random.RandomState(seed)
    for k in range(n):
        l = 12.0 + rng.uniform(0, 4.5)
        b = 46.0 + rng.uniform(0, 2.5)
        rows.append((
            f"{k}",
            pd.Timestamp("2020-01-15") + pd.Timedelta(days=int(rng.randint(0, 80))),
            round(l, 2), round(l + rng.uniform(0.3, 1.2), 2),
            round(b, 2), round(b + rng.uniform(0.3, 1.0), 2),
        ))
    pdf = pd.DataFrame(rows, columns=["image_id", "ts", "left", "right", "bottom", "top"])
    return spark.createDataFrame(pdf.assign(w=16, h=16)), pdf


UTM_VIEW = dict(
    srs="EPSG:32633", left=350000.0, right=650000.0,
    bottom=5090000.0, top=5430000.0, nx=30, ny=34,
    t0="2020-01-01", nt=3, dt="P1M", aggregation="mean",
    resampling="near", chunk_size=(2, 17, 15),
)


def test_utm_build_strategies_and_oracle(spark):
    """EPSG:32633 cube build (conservative view-coord windows at the scan)
    agrees exactly with the per-cell inverse-TM numpy oracle."""
    from gdalcubes_cpp_spark.operators.build import build_cube

    from .oracle_np import dense_cube

    v = CubeView.create(**UTM_VIEW)
    imgs, pdf = _utm_meta_images(spark)
    vf = lambda i: (float(int(i) % 7), float(int(i) % 5))
    want = dense_cube(pdf, v, value_fn=vf)
    mo = np.isfinite(want)
    assert mo.any()
    got = build_cube(imgs, v, bands=("B1", "B2"), value_fn=vf).collect_dense()
    assert (np.isnan(got) == np.isnan(want)).all()
    assert (got[mo] == want[mo]).all()


def test_utm_build_real_decode(spark):
    """Real PNG decode through the 2-D (non-separable) warp path: engine ==
    per-cell numpy gather with the same inverse-TM grid."""
    from gdalcubes_cpp_spark import codecs, synth
    from gdalcubes_cpp_spark.operators.build import build_cube, warp_plane

    v = CubeView.create(**{**UTM_VIEW, "nt": 1, "chunk_size": (1, 17, 15)})
    # re-footprint some synth images into the UTM-zone window
    pdf = synth.images_pdf(30)
    rng = np.random.RandomState(9)
    pdf["left"] = np.round(12.0 + rng.uniform(0, 4, len(pdf)), 2)
    pdf["right"] = np.round(pdf["left"] + rng.uniform(0.4, 1.4, len(pdf)), 2)
    pdf["bottom"] = np.round(46.0 + rng.uniform(0, 2.2, len(pdf)), 2)
    pdf["top"] = np.round(pdf["bottom"] + rng.uniform(0.4, 1.2, len(pdf)), 2)
    pdf["ts"] = pd.Timestamp("2020-01-10")
    imgs = spark.createDataFrame(pdf)
    got = build_cube(imgs, v, bands=("B1", "B2")).collect_dense()

    xs = v.left + (np.arange(v.nx) + 0.5) * v.dx
    ys = v.top - (np.arange(v.ny) + 0.5) * v.dy
    LON, LAT = srs.grid_to_wgs84(xs, ys, v.srs)
    sums = np.zeros((2, 1, v.ny, v.nx))
    cnts = np.zeros_like(sums)
    for _, r in pdf.sort_values("image_id").iterrows():
        raw = codecs.decode(r["bytes"], r["fmt"])
        for bd in range(2):
            p = warp_plane(
                raw[:, :, bd], (r["left"], r["right"], r["bottom"], r["top"]),
                LON, LAT, "near",
            )
            mm = ~np.isnan(p)
            sums[bd, 0][mm] += p[mm]
            cnts[bd, 0][mm] += 1
    with np.errstate(invalid="ignore"):
        want = sums / cnts
    assert (np.isnan(got) == np.isnan(want)).all()
    mo = np.isfinite(want)
    assert mo.any()
    assert np.allclose(got[mo], want[mo], atol=1e-9)


def test_driver_utm_margin():
    """The cube_utm_mean driver query's robustness invariant: every cell
    center's lon/lat stays >= 1e-6 degrees away from the 0.01-degree grid
    that all footprint edges sit on — cross-engine libm disagreement
    (~1e-14 deg) can never flip a coverage decision."""
    from gdalcubes_cpp_spark.benchqueries import V_UTM

    xs = V_UTM.left + (np.arange(V_UTM.nx) + 0.5) * V_UTM.dx
    ys = V_UTM.top - (np.arange(V_UTM.ny) + 0.5) * V_UTM.dy
    LON, LAT = srs.grid_to_wgs84(xs, ys, V_UTM.srs)

    def margin(vals):
        return (np.abs(vals * 100 - np.round(vals * 100)) / 100).min()

    assert margin(LON.ravel()) > 1e-6
    assert margin(LAT.ravel()) > 1e-6
