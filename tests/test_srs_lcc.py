"""Lambert conformal conic 2SP (EPSG method 9802; Snyder 1987 §15) —
EPSG:2154 Lambert-93. Validation: EPSG-registry origin anchor, true scale
at BOTH standard parallels, conformality (isotropic numeric Jacobian),
roundtrip, SQL-mirror parity, margin audit, end-to-end cube build."""

import math

import numpy as np

from gdalcubes_cpp_spark import srs

P93 = srs.resolve("EPSG:2154")[1]


def test_lcc_origin_anchor():
    """EPSG registry: the false origin (3°E, 46.5°N) maps EXACTLY to the
    false easting/northing (700000, 6600000)."""
    x, y = srs.lcc_forward(3.0, 46.5, P93)
    assert abs(float(x) - 700000.0) < 1e-6
    assert abs(float(y) - 6600000.0) < 1e-6


def test_lcc_true_scale_at_both_parallels():
    """Defining property of the 2SP form: scale factor is 1 at BOTH
    standard parallels (44° and 49°) and > 1 outside/between-minimum —
    pins n and aF independently of our own constants."""
    def scale_along_parallel(lat):
        h = 1e-7
        x1, y1 = srs.lcc_forward(2.0, lat, P93)
        x2, y2 = srs.lcc_forward(2.0 + h, lat, P93)
        d_map = math.hypot(float(x2) - float(x1), float(y2) - float(y1))
        phi = math.radians(lat)
        m = math.cos(phi) / math.sqrt(1.0 - P93.e2 * math.sin(phi) ** 2)
        return d_map / (P93.a * m * math.radians(h))

    assert abs(scale_along_parallel(44.0) - 1.0) < 1e-7
    assert abs(scale_along_parallel(49.0) - 1.0) < 1e-7
    assert scale_along_parallel(46.5) < 1.0  # minimum between the parallels
    assert scale_along_parallel(42.0) > 1.0
    assert scale_along_parallel(51.0) > 1.0


def test_lcc_conformality():
    """Conformal: the numeric Jacobian is a scaled rotation (columns
    orthogonal, equal length) everywhere."""
    h = 1e-6
    for lon, lat in [(3.0, 46.5), (-4.0, 43.0), (8.0, 50.0), (1.0, 48.85)]:
        x0, y0 = (float(v) for v in srs.lcc_forward(lon, lat, P93))
        x1, y1 = (float(v) for v in srs.lcc_forward(lon + h, lat, P93))
        x2, y2 = (float(v) for v in srs.lcc_forward(lon, lat + h, P93))
        # d/dlon scaled by cos(lat) to compare equal ground distances
        c = math.cos(math.radians(lat))
        u = ((x1 - x0) / c, (y1 - y0) / c)
        v = (x2 - x0, y2 - y0)
        dot = u[0] * v[0] + u[1] * v[1]
        nu, nv = math.hypot(*u), math.hypot(*v)
        assert abs(dot) / (nu * nv) < 1e-4, (lon, lat)
        # ellipsoid: |d/dlat| / |d/dlon per ground| = M / (N cos-normalized)
        phi = math.radians(lat)
        w2 = 1.0 - P93.e2 * math.sin(phi) ** 2
        ratio_ell = (1.0 - P93.e2) / w2  # M / N
        assert abs(nv / nu - ratio_ell) < 1e-4, (lon, lat)


def test_lcc_roundtrip():
    lon = np.linspace(-5.0, 10.0, 16)
    lat = np.linspace(41.0, 51.0, 11)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.lcc_forward(LON, LAT, P93)
    lo, la = srs.lcc_inverse(x, y, P93)
    assert np.abs(lo - LON).max() < 1e-9
    assert np.abs(la - LAT).max() < 1e-9  # conformal-series truncation ~1e-11


def test_lcc_sql_mirror_duckdb():
    """lcc_inverse_sql replays the numpy kernel in DuckDB to libm ulps."""
    import duckdb

    lon_sql, lat_sql = srs.lcc_inverse_sql("x", "y", P93)
    xs = np.linspace(1.0e5, 1.3e6, 25)
    ys = np.linspace(6.0e6, 7.2e6, 25)
    X, Y = np.meshgrid(xs, ys)
    lo_np, la_np = srs.lcc_inverse(X, Y, P93)
    rows = duckdb.connect().execute(
        f"SELECT {lon_sql} AS lon, {lat_sql} AS lat "
        f"FROM (SELECT unnest(?) AS x, unnest(?) AS y)",
        [X.ravel().tolist(), Y.ravel().tolist()],
    ).fetchnumpy()
    assert np.abs(rows["lon"] - lo_np.ravel()).max() < 1e-11
    assert np.abs(rows["lat"] - la_np.ravel()).max() < 1e-11


def test_lcc_proj4_and_dispatch():
    got = srs.normalize(
        "+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
        "+x_0=700000 +y_0=6600000 +ellps=GRS80"
    )
    assert got == "EPSG:2154"  # known parameter set canonicalizes
    novel = srs.normalize("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96")
    assert novel.startswith("LCC:")
    assert srs.normalize(novel) == novel  # self-describing dynamic key
    assert not srs.is_separable("EPSG:2154")
    xs = np.array([500000.0, 700000.0, 900000.0])
    ys = np.array([6300000.0, 6600000.0, 6900000.0])
    LON, LAT = srs.grid_to_wgs84(xs, ys, "EPSG:2154")
    X, Y = srs.from_wgs84(LON, LAT, "EPSG:2154")
    assert np.abs(X - xs[None, :]).max() < 1e-4
    assert np.abs(Y - ys[:, None]).max() < 1e-4
    l, r, b, t = srs.bbox_to_wgs84(500000.0, 900000.0, 6300000.0, 6900000.0, "EPSG:2154")
    assert l < LON.min() and r > LON.max() and b < LAT.min() and t > LAT.max()


def test_driver_lcc_margin():
    """cube_lcc_mean robustness invariant: cell centers >= 1e-5 degrees
    clear of the 0.01-degree footprint-edge grid."""
    from gdalcubes_cpp_spark.benchqueries import V_LCC

    xs = V_LCC.left + (np.arange(V_LCC.nx) + 0.5) * V_LCC.dx
    ys = V_LCC.top - (np.arange(V_LCC.ny) + 0.5) * V_LCC.dy
    LON, LAT = srs.grid_to_wgs84(xs, ys, V_LCC.srs)

    def margin(vals):
        return (np.abs(vals * 100 - np.round(vals * 100)) / 100).min()

    assert margin(LON.ravel()) > 1e-5
    assert margin(LAT.ravel()) > 1e-5


def test_lcc_cube_build(spark):
    """End-to-end: a metadata cube built in an EPSG:2154 view matches the
    per-cell numpy coverage oracle (pattern of test_laea_cube_build)."""
    from gdalcubes_cpp_spark.benchqueries import images_meta
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    # images_meta footprints: lon [-50, 42], lat [-40, 34.5] — pick a
    # southern LCC window (lat ~20..30 is inside the cone's domain)
    v = CubeView.create(
        srs="EPSG:2154", left=200000.0, right=1000000.0,
        bottom=3600000.0, top=4400000.0, nx=16, ny=14,
        t0="1995-01-01", nt=8, dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(4, 7, 8),
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
