"""Non-WGS84 datums (r3 VERDICT next #4/#5): 7-param position-vector
Helmert (EPSG method 9606), EPSG:27700 British National Grid (TM on Airy
1830 + OSGB36 towgs84), and the Swiss oblique Mercator EPSG:2056/21781
(method 9814 Rosenmund, Bessel 1841 + CH1903 3-param shift).

Validation anchors (all published):
- the Ordnance Survey worked example from 'A guide to coordinate systems
  in Great Britain' (OSGB36 geodetic <-> grid, sub-mm);
- the EPSG Guidance Note 7-2 position-vector worked example (WGS72->WGS84);
- the swisstopo reference-point worked example (Rigi, CH1903 geodetic ->
  LV03 grid, sub-mm).
"""

import math
from dataclasses import replace

import numpy as np

from gdalcubes_cpp_spark import srs

OSGB = srs.resolve("EPSG:27700")[1]
LV95 = srs.resolve("EPSG:2056")[1]
LV03 = srs.resolve("EPSG:21781")[1]


def test_osgb_os_worked_example():
    """OS guide: OSGB36 52°39'27.2531\"N 1°43'4.5177\"E ->
    E 651409.903 N 313177.270 (the projection alone, no datum)."""
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    x, y = srs.etm_forward(lon, lat, OSGB)
    assert abs(float(x) - 651409.903) < 1e-3
    assert abs(float(y) - 313177.270) < 1e-3


def test_helmert_epsg_worked_example():
    """EPSG GN7-2 method 9606 example: XYZ (3657660.66, 255768.55,
    5201382.11) under (0,0,4.5m, 0,0,0.554\", 0.219ppm) ->
    (3657660.78, 255778.43, 5201387.75)."""
    helm = (0.0, 0.0, 4.5, 0.0, 0.0, 0.554, 0.219)
    X, Y, Z = srs.helmert_forward(
        np.float64(3657660.66), np.float64(255768.55), np.float64(5201382.11), helm
    )
    assert abs(float(X) - 3657660.78) < 0.01
    assert abs(float(Y) - 255778.43) < 0.01
    assert abs(float(Z) - 5201387.75) < 0.01
    # the inverse is the EXACT linear-map inverse -> float-precision roundtrip
    X2, Y2, Z2 = srs.helmert_inverse(X, Y, Z, helm)
    assert abs(float(X2) - 3657660.66) < 1e-8
    assert abs(float(Y2) - 255768.55) < 1e-8
    assert abs(float(Z2) - 5201382.11) < 1e-8


def test_swiss_rigi_worked_example():
    """swisstopo 'Formulas and constants' reference point (CH1903 geodetic
    47°03'28.956559\" / 8°29'11.111279\" -> LV03 679520.05 / 212273.44)."""
    p = replace(LV03, helm=None)  # the projection alone, CH1903 geodetic in
    lat = 47 + 3 / 60 + 28.956559 / 3600
    lon = 8 + 29 / 60 + 11.111279 / 3600
    E, N = srs.swiss_forward(lon, lat, p)
    assert abs(float(E) - 679520.05) < 1e-2
    assert abs(float(N) - 212273.44) < 1e-2
    # LV95 = LV03 + (2000000, 1000000) by construction
    E95, N95 = srs.swiss_forward(lon, lat, replace(LV95, helm=None))
    assert abs(float(E95) - float(E) - 2000000.0) < 1e-6
    assert abs(float(N95) - float(N) - 1000000.0) < 1e-6


def test_swiss_origin_anchor():
    p = replace(LV95, helm=None)
    E, N = srs.swiss_forward(p.lon0, p.lat0, p)
    assert abs(float(E) - 2600000.0) < 1e-6
    assert abs(float(N) - 1200000.0) < 1e-6


def test_osgb_datum_shift_magnitude():
    """OSGB36 vs WGS84 geodetic over Great Britain differs by the textbook
    ~65-150 m — the Helmert is wired in the right direction and size."""
    lon = np.linspace(-6.0, 1.8, 10)
    lat = np.linspace(50.0, 58.5, 9)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.from_wgs84(LON, LAT, "EPSG:27700")
    lo36, la36 = srs.etm_inverse(x, y, OSGB)  # the kernel alone: OSGB36
    lo84, la84 = srs.points_to_wgs84(x, y, "EPSG:27700")
    m = np.hypot(
        (lo84 - lo36) * 111320.0 * np.cos(np.radians(la84)),
        (la84 - la36) * 110574.0,
    )
    assert 50.0 < m.min() and m.max() < 160.0


def test_roundtrips_wgs84():
    lon = np.linspace(-6.0, 1.8, 10)
    lat = np.linspace(50.0, 58.5, 9)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = srs.from_wgs84(LON, LAT, "EPSG:27700")
    lo, la = srs.points_to_wgs84(x, y, "EPSG:27700")
    assert np.abs(lo - LON).max() < 1e-6  # TM series truncation, ~cm
    assert np.abs(la - LAT).max() < 1e-6
    lon = np.linspace(6.0, 10.5, 12)
    lat = np.linspace(45.8, 47.8, 9)
    LON, LAT = np.meshgrid(lon, lat)
    for key in ("EPSG:2056", "EPSG:21781"):
        x, y = srs.from_wgs84(LON, LAT, key)
        lo, la = srs.points_to_wgs84(x, y, key)
        assert np.abs(lo - LON).max() < 1e-7
        assert np.abs(la - LAT).max() < 1e-7


def test_swiss_conformality():
    """The double projection is conformal: numeric Jacobian is a scaled
    rotation everywhere in the domain."""
    p = replace(LV95, helm=None)
    h = 1e-6
    for lon, lat in [(7.44, 46.95), (6.1, 46.2), (9.8, 47.6), (8.5, 47.38)]:
        x0, y0 = (float(v) for v in srs.swiss_forward(lon, lat, p))
        x1, y1 = (float(v) for v in srs.swiss_forward(lon + h, lat, p))
        x2, y2 = (float(v) for v in srs.swiss_forward(lon, lat + h, p))
        c = math.cos(math.radians(lat))
        u = ((x1 - x0) / c, (y1 - y0) / c)
        v = (x2 - x0, y2 - y0)
        dot = u[0] * v[0] + u[1] * v[1]
        nu, nv = math.hypot(*u), math.hypot(*v)
        assert abs(dot) / (nu * nv) < 1e-4, (lon, lat)
        phi = math.radians(lat)
        w2 = 1.0 - p.e2 * math.sin(phi) ** 2
        assert abs(nv / nu - (1.0 - p.e2) / w2) < 1e-4, (lon, lat)


def test_sql_mirror_duckdb():
    """etm_inverse_sql + _datum_sql and swiss_inverse_sql + _datum_sql
    replay the numpy transforms in DuckDB to libm ulps."""
    import duckdb

    con = duckdb.connect()

    def parity(key, xs, ys):
        fam, p = srs.resolve(key)
        X, Y = np.meshgrid(xs, ys)
        lon_np, lat_np = srs.points_to_wgs84(X.ravel(), Y.ravel(), key)
        lon_s, lat_s = fam.inverse_sql("x", "y", p)
        dlon, dlat = srs._datum_sql("lon0d", "lat0d", p.a, p.e2, p.helm)
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM (VALUES "
                    + ",".join(f"({x!r}, {y!r})" for x, y in zip(X.ravel(), Y.ravel()))
                    + ") v(x, y)")
        out = con.execute(
            f"WITH s AS (SELECT x, y, {lon_s} AS lon0d, {lat_s} AS lat0d FROM t) "
            f"SELECT {dlon} AS lon, {dlat} AS lat FROM s"
        ).fetchnumpy()
        assert np.abs(out["lon"] - lon_np).max() < 1e-12
        assert np.abs(out["lat"] - lat_np).max() < 1e-12

    parity("EPSG:27700",
           np.linspace(1.30e6, 1.85e6, 15), np.linspace(-250000.0, 90000.0, 12))
    parity("EPSG:2056",
           np.linspace(3.0e6, 3.4e6, 15), np.linspace(1.15e6, 1.55e6, 12))


def test_driver_view_margins():
    """Placement audit for the driver suite members: every cell center is
    >= 1e-5 deg clear of the 0.01-deg footprint-edge grid."""
    from gdalcubes_cpp_spark.benchqueries import (
        V_AEQD, V_CEA, V_EQC, V_HOM, V_OSGB, V_SWISS,
    )

    for v in (V_OSGB, V_SWISS, V_HOM, V_CEA, V_AEQD, V_EQC):
        xs = v.left + (np.arange(v.nx) + 0.5) * v.dx
        ys = v.top - (np.arange(v.ny) + 0.5) * v.dy
        LON, LAT = srs.grid_to_wgs84(xs, ys, v.srs)  # works for separable too
        g = 0.01
        m = min(
            np.abs(LON / g - np.round(LON / g)).min(),
            np.abs(LAT / g - np.round(LAT / g)).min(),
        ) * g
        assert m >= 1e-5, v.srs


def test_normalize_and_proj4():
    """EPSG codes, canonical proj4 (incl. +towgs84), and dynamic
    self-describing keys all resolve; dynamic keys parse on a fresh
    lookup (executor-import semantics)."""
    k = srs.normalize(
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
        "+y_0=-100000 +ellps=airy "
        "+towgs84=446.448,-125.157,542.06,0.1502,0.247,0.8421,-20.4894"
    )
    assert k == "EPSG:27700"
    k2 = srs.normalize("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=grs80")
    assert k2.startswith("ETM:")
    srs._PARSED.pop(k2)  # simulate a fresh executor import
    assert srs.normalize(k2) == k2
    x, y = srs.from_wgs84(np.array([9.5]), np.array([48.0]), k2)
    lo, la = srs.points_to_wgs84(x, y, k2)
    assert abs(float(lo[0]) - 9.5) < 1e-9 and abs(float(la[0]) - 48.0) < 1e-7
    k3 = srs.normalize(
        "+proj=somerc +lat_0=46.9524055555556 +lon_0=7.4395833333333 "
        "+x_0=600000 +y_0=200000 +ellps=bessel +towgs84=674.374,15.056,405.346"
    )
    assert k3.startswith("SOMERC:")
    srs._PARSED.pop(k3)
    assert srs.normalize(k3) == k3
    assert not srs.is_separable("EPSG:27700")
    assert not srs.is_separable("EPSG:2056")


def test_cube_build_end_to_end(spark):
    """Both datum views build real cubes over the shared 4326 footprints
    (the driver members run the same; this pins the kernel path)."""
    from gdalcubes_cpp_spark.benchqueries import (
        V_OSGB,
        V_SWISS,
        images_meta_utm,
        _value_fn,
    )
    from gdalcubes_cpp_spark.operators.build import build_cube

    for v in (V_OSGB, V_SWISS):
        df = build_cube(
            images_meta_utm(spark, "/root/testdata/sf0.001"), v,
            bands=("B1", "B2"), value_fn=_value_fn,
        ).df
        assert df.count() > 100


def test_cea_ease_grid():
    """EPSG:6933 (EASE-Grid 2.0 Global, Lambert cylindrical equal area):
    x anchored to the published NSIDC grid constant (x(180°) =
    17367530.45 m), equal-area Jacobian invariant, separability,
    roundtrip, SQL parity."""
    import duckdb

    p = srs.resolve("EPSG:6933")[1]
    x, _ = srs.cea_forward(180.0, 0.0, p)
    assert abs(float(x) - 17367530.45) < 0.01  # Brodzik et al. 2012 constant
    assert srs.is_separable("EPSG:6933")
    # equal-area: |dx/dlon * dy/dlat| == ellipsoid area element
    h = 1e-7
    for lat in (0.0, 30.0, -52.0, 75.0):
        x0, y0 = (float(v) for v in srs.cea_forward(10.0, lat, p))
        x1, _ = (float(v) for v in srs.cea_forward(10.0 + h, lat, p))
        _, y2 = (float(v) for v in srs.cea_forward(10.0, lat + h, p))
        jac = abs((x1 - x0) * (y2 - y0)) / math.radians(h) ** 2
        phi = math.radians(lat)
        w2 = 1.0 - p.e2 * math.sin(phi) ** 2
        want = p.a ** 2 * (1.0 - p.e2) * math.cos(phi) / w2 ** 2
        assert abs(jac / want - 1.0) < 1e-5, lat
    lon = np.linspace(-179.0, 179.0, 15)
    lat = np.linspace(-85.0, 85.0, 11)
    LON, LAT = np.meshgrid(lon, lat)
    xx, yy = srs.from_wgs84(LON, LAT, "EPSG:6933")
    lo, la = srs.points_to_wgs84(xx, yy, "EPSG:6933")
    assert np.abs(lo - LON).max() < 1e-12  # x<->lon is exact linear
    assert np.abs(la - LAT).max() < 1e-6   # authalic series truncation
    lon_s, lat_s = srs.cea_inverse_sql("x", "y", p)
    con = duckdb.connect()
    pts = list(zip(xx.ravel()[::7], yy.ravel()[::7]))
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({a!r},{b!r})" for a, b in pts) + ") v(x,y)")
    out = con.execute(f"SELECT {lon_s} AS lon, {lat_s} AS lat FROM t").fetchnumpy()
    lo2, la2 = srs.cea_inverse(np.array([a for a, _ in pts]),
                               np.array([b for _, b in pts]), p)
    assert np.abs(out["lon"] - lo2).max() < 1e-12
    assert np.abs(out["lat"] - la2).max() < 1e-12
    # proj4 + dynamic key
    assert srs.normalize("+proj=cea +lat_ts=30 +ellps=wgs84") == "EPSG:6933"
    k = srs.normalize("+proj=cea +lat_ts=10 +ellps=grs80")
    assert k.startswith("CEA:")
    srs._PARSED.pop(k)
    assert srs.normalize(k) == k


def test_aeqd_yap():
    """Modified azimuthal equidistant (EPSG 9832, EPSG:3295 Yap):
    the EPSG GN7-2 worked example to sub-mm, roundtrip, the defining
    true-distance-from-center property vs numeric meridian-arc
    integration, SQL parity, proj4 dynamic keys."""
    import duckdb

    p = srs.resolve("EPSG:3295")[1]
    lat = 9 + 35 / 60 + 47.493 / 3600
    lon = 138 + 11 / 60 + 34.908 / 3600
    E, N = srs.aeqd_forward(lon, lat, p)
    assert abs(float(E) - 42665.90) < 0.01
    assert abs(float(N) - 65509.82) < 0.01
    lon_g = np.linspace(137.0, 139.5, 9)
    lat_g = np.linspace(8.2, 10.8, 8)
    LON, LAT = np.meshgrid(lon_g, lat_g)
    x, y = srs.aeqd_forward(LON, LAT, p)
    lo, la = srs.aeqd_inverse(x, y, p)
    assert np.abs(lo - LON).max() < 1e-9
    assert np.abs(la - LAT).max() < 1e-9
    # true distance along the meridian == the geodesic (meridian arc)
    lat2 = p.lat0 + 0.5
    E2_, N2_ = srs.aeqd_forward(p.lon0, lat2, p)
    d = float(np.hypot(E2_ - p.fe, N2_ - p.fn))
    phis = np.linspace(p.lat0, lat2, 20001) * np.pi / 180.0
    M = p.a * (1 - p.e2) / (1 - p.e2 * np.sin(phis) ** 2) ** 1.5
    assert abs(d - float(np.trapz(M, phis))) < 1e-3
    # SQL mirror parity
    lon_s, lat_s = srs.aeqd_inverse_sql("x", "y", p)
    con = duckdb.connect()
    pts = list(zip(np.asarray(x).ravel()[::5], np.asarray(y).ravel()[::5]))
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({a!r},{b!r})" for a, b in pts) + ") v(x,y)")
    out = con.execute(f"SELECT {lon_s} AS lon, {lat_s} AS lat FROM t").fetchnumpy()
    lo2, la2 = srs.aeqd_inverse(np.array([a for a, _ in pts]),
                                np.array([b for _, b in pts]), p)
    assert np.abs(out["lon"] - lo2).max() < 1e-12
    assert np.abs(out["lat"] - la2).max() < 1e-12
    # proj4 dynamic key, fresh-executor semantics
    k = srs.normalize("+proj=aeqd +lat_0=47.5 +lon_0=14.2 +ellps=grs80")
    assert k.startswith("AEQD:")
    srs._PARSED.pop(k)
    assert srs.normalize(k) == k


def test_eqc_worked_example_and_roundtrip():
    """Equidistant cylindrical (EPSG method 1028, EPSG:4087): the EPSG
    GN7-2 worked example — 55N 10E -> E 1,113,194.91 / N 6,097,230.31 m
    — to the cm; dense roundtrip to sub-mm."""
    p = srs.resolve("EPSG:4087")[1]
    x, y = srs.eqc_forward(10.0, 55.0, p)
    assert abs(float(x) - 1113194.91) < 0.01
    assert abs(float(y) - 6097230.31) < 0.01
    rng = np.random.RandomState(9)
    lon = rng.uniform(-179, 179, 400)
    lat = rng.uniform(-84, 84, 400)
    X, Y = srs.eqc_forward(lon, lat, p)
    lo, la = srs.eqc_inverse(X, Y, p)
    assert np.abs(lo - lon).max() < 1e-9
    # footpoint series truncation ~4e-9 deg (sub-mm on the meridian)
    assert np.abs(la - lat).max() < 1e-8


def test_eqc_sql_mirror_parity():
    """eqc_inverse_sql replayed in DuckDB == numpy to ~1e-9 deg."""
    import duckdb

    p = srs.resolve("EPSG:4087")[1]
    xs = np.linspace(-1.9e7, 1.9e7, 15)
    ys = np.linspace(-9.0e6, 9.0e6, 12)
    lon_sql, lat_sql = srs.eqc_inverse_sql("g.x", "g.y", p)
    rows = duckdb.sql(
        f"SELECT {lon_sql} AS lon, {lat_sql} AS lat FROM "
        f"(SELECT unnest(?) AS x, unnest(?) AS y) g",
        params=[list(np.repeat(xs, len(ys))), list(np.tile(ys, len(xs)))],
    ).fetchall()
    lo_np, la_np = srs.eqc_inverse(np.repeat(xs, len(ys)), np.tile(ys, len(xs)), p)
    got = np.array(rows)
    assert np.abs(got[:, 0] - lo_np).max() < 1e-9
    assert np.abs(got[:, 1] - la_np).max() < 1e-9


def test_eqc_separable_axis_transform():
    """EPSG:4087 takes the separable 1-D axis path; axis transforms agree
    with the point-wise inverse; proj4 +proj=eqc canonicalizes; dynamic
    EQC: keys self-describe across a fresh import."""
    assert srs.is_separable("EPSG:4087")
    xs = np.linspace(-2.0e6, 2.0e6, 7)
    ys = np.linspace(-1.0e6, 3.0e6, 5)
    lon, lat = srs.axis_to_wgs84(xs, ys, "EPSG:4087")
    lo2, la2 = srs.points_to_wgs84(xs, np.zeros_like(xs), "EPSG:4087")
    assert np.allclose(lon, lo2, atol=1e-12)
    assert srs.normalize("+proj=eqc +ellps=WGS84") == "EPSG:4087"
    k = srs.normalize("+proj=eqc +lat_ts=30 +lon_0=10 +x_0=100 +ellps=grs80")
    assert k.startswith("EQC:")
    srs._PARSED.pop(k)  # fresh-executor semantics
    assert srs.normalize(k) == k
    x, y = srs.from_wgs84(np.array([12.0]), np.array([48.0]), k)
    lo, la = srs.points_to_wgs84(x, y, k)
    assert abs(float(lo[0]) - 12.0) < 1e-9 and abs(float(la[0]) - 48.0) < 1e-7
    # bbox: separable corners-exact
    l, r, b, t = srs.bbox_to_wgs84(-1113194.9, 1113194.9, -1113194.9,
                                   1113194.9, "EPSG:4087")
    assert abs(l + 10.0) < 1e-6 and abs(r - 10.0) < 1e-6
