"""Spherical sinusoidal SRS (Snyder 1987 §30) — the MODIS native grid.
Validation discipline mirrors test_srs_tm / test_srs_polar: defining
geometric invariants + public-constant anchors + SQL-mirror parity +
an end-to-end cube build vs the numpy coverage oracle."""

import math

import numpy as np

from gdalcubes_cpp_spark import srs

MODIS = srs.SinuParams(r=srs.MODIS_SINU_R, lon0=0.0, fe=0.0, fn=0.0)


def test_sinu_roundtrip():
    lon = np.linspace(-170.0, 170.0, 41)
    lat = np.linspace(-85.0, 85.0, 35)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.sinu_forward(LON, LAT, MODIS)
    lo, la = srs.sinu_inverse(x, y, MODIS)
    assert np.abs(lo - LON).max() < 1e-11
    assert np.abs(la - LAT).max() < 1e-11


def test_sinu_modis_grid_anchors():
    """Published MODIS sinusoidal grid constants (independent of our
    formulas): the grid spans x = ±20015109.354 m (= πR) and one 10°
    tile is 1111950.5196666666 m wide at the equator."""
    # both published constants are rounded (the grid doc truncates at mm),
    # so they anchor to ~1e-3 m — far tighter than any formula error mode
    x, _ = srs.sinu_forward(180.0, 0.0, MODIS)
    assert abs(float(x) - 20015109.354) < 2e-3
    xt, _ = srs.sinu_forward(10.0, 0.0, MODIS)
    assert abs(float(xt) - 1111950.5196666666) < 2e-4


def test_sinu_defining_invariants():
    """Equal-area (|J| = R²cos φ per unit radian²), equally-spaced
    parallels (y = Rφ), true-scale central meridian."""
    h = 1e-6
    for lon, lat in [(0.0, 0.0), (45.0, 30.0), (-120.0, -55.0), (10.0, 80.0)]:
        x1, y1 = srs.sinu_forward(lon, lat, MODIS)
        x2, y2 = srs.sinu_forward(lon + h, lat, MODIS)
        x3, y3 = srs.sinu_forward(lon, lat + h, MODIS)
        J = abs(
            (float(x2) - float(x1)) * (float(y3) - float(y1))
            - (float(x3) - float(x1)) * (float(y2) - float(y1))
        )
        area = MODIS.r ** 2 * math.cos(math.radians(lat)) * math.radians(h) ** 2
        assert abs(J / area - 1.0) < 1e-5, (lon, lat)
    # parallels: y depends on lat alone and is linear in φ
    _, y = srs.sinu_forward(77.0, 42.0, MODIS)
    assert abs(float(y) - MODIS.r * math.radians(42.0)) < 1e-6
    # central meridian: x = fe exactly
    x, _ = srs.sinu_forward(0.0, 63.0, MODIS)
    assert float(x) == 0.0


def test_sinu_sql_mirror_duckdb():
    """sinu_inverse_sql replays the numpy kernel in DuckDB to libm ulps."""
    import duckdb

    lon_sql, lat_sql = srs.sinu_inverse_sql("x", "y", MODIS)
    xs = np.linspace(-9e6, 9e6, 25)
    ys = np.linspace(-7e6, 7e6, 25)
    X, Y = np.meshgrid(xs, ys)
    lo_np, la_np = srs.sinu_inverse(X, Y, MODIS)
    rows = duckdb.connect().execute(
        f"SELECT {lon_sql} AS lon, {lat_sql} AS lat "
        f"FROM (SELECT unnest(?) AS x, unnest(?) AS y)",
        [X.ravel().tolist(), Y.ravel().tolist()],
    ).fetchnumpy()
    assert np.abs(rows["lon"] - lo_np.ravel()).max() < 1e-12
    assert np.abs(rows["lat"] - la_np.ravel()).max() < 1e-12


def test_sinu_proj4_and_dispatch():
    key = srs.normalize("+proj=sinu +R=6371007.181 +nadgrids=@null +wktext")
    assert key.startswith("SINU:")
    assert srs.normalize(key) == key  # self-describing, idempotent
    assert not srs.is_separable(key)
    # fresh-process parse: dispatch works from the string alone
    p = srs.resolve(key)[1]
    assert p == MODIS
    xs = np.array([-1111950.0, 0.0, 2223901.0])
    ys = np.array([4447802.0, 0.0, -3335851.0])
    LON, LAT = srs.grid_to_wgs84(xs, ys, key)
    X, Y = srs.from_wgs84(LON, LAT, key)
    assert np.abs(X - xs[None, :]).max() < 1e-6
    assert np.abs(Y - ys[:, None]).max() < 1e-6
    l, r, b, t = srs.bbox_to_wgs84(0.0, 2223901.0, -3335851.0, 4447802.0, key)
    assert l < LON[:, 1].min() and r > LON[:, 2].max()
    assert b < LAT.min() and t > LAT.max()


def test_driver_sinu_margin():
    """cube_sinu_mean robustness invariant: every cell center's lon/lat is
    >= 1e-6 degrees clear of the 0.01-degree footprint-edge grid."""
    from gdalcubes_cpp_spark.benchqueries import V_SINU

    xs = V_SINU.left + (np.arange(V_SINU.nx) + 0.5) * V_SINU.dx
    ys = V_SINU.top - (np.arange(V_SINU.ny) + 0.5) * V_SINU.dy
    LON, LAT = srs.grid_to_wgs84(xs, ys, V_SINU.srs)

    def margin(vals):
        return (np.abs(vals * 100 - np.round(vals * 100)) / 100).min()

    assert margin(LON.ravel()) > 1e-6
    assert margin(LAT.ravel()) > 1e-6


def test_sinu_cube_build(spark):
    """End-to-end: a metadata cube built in a MODIS-sinusoidal view matches
    the per-cell numpy coverage oracle (pattern of test_laea_cube_build)."""
    from gdalcubes_cpp_spark.benchqueries import images_meta
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    # images_meta footprints live in lon [-50, 42], lat [-40, 34.5]; this
    # window sits at lon ~5..25, lat ~10..25 — densely populated
    v = CubeView.create(
        srs="+proj=sinu +R=6371007.181", left=600000.0, right=2600000.0,
        bottom=1150000.0, top=2750000.0, nx=18, ny=16,
        t0="1995-01-01", nt=8, dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(4, 8, 9),
    )
    imgs = images_meta(spark, "/root/testdata/sf0.001").cache()
    got = build_cube(
        imgs, v, bands=("B1", "B2"),
        value_fn=lambda i: (float(int(i) % 97), float(int(i) % 89)),
    ).df
    rows = got.collect()
    assert len(rows) > 0
    xs = v.left + (np.arange(v.nx) + 0.5) * v.dx
    ys = v.top - (np.arange(v.ny) + 0.5) * v.dy
    LON, LAT = srs.grid_to_wgs84(xs, ys, v.srs)
    pdf = imgs.toPandas()
    months = (
        pdf["ts"].dt.year.to_numpy() * 12 + pdf["ts"].dt.month.to_numpy()
        - (1995 * 12 + 1)
    ) // 3
    sums = np.zeros((v.nt, v.ny, v.nx))
    cnts = np.zeros_like(sums)
    for i, r in pdf.iterrows():
        it = int(months[i])
        if not (0 <= it < v.nt):
            continue
        mm = (
            (LON >= r["left"]) & (LON < r["right"])
            & (LAT > r["bottom"]) & (LAT <= r["top"])
        )
        sums[it][mm] += r["val1"]
        cnts[it][mm] += 1
    for row in rows:
        it, iy, ix = row["it"], row["iy"], row["ix"]
        assert cnts[it, iy, ix] > 0
        assert abs(row["B1"] - sums[it, iy, ix] / cnts[it, iy, ix]) < 1e-9
    assert len(rows) == int((cnts > 0).sum())
