"""Golden digests of every SRS transform surface.

For each known EPSG code and one dynamic key per family (plus a WGS84
``+towgs84`` tmerc and an NTv2 ``+nadgrids`` tmerc) this hashes the
float64 outputs of ``from_wgs84``, ``points_to_wgs84``,
``grid_to_wgs84`` and ``bbox_to_wgs84`` on a seeded point set, and the
DuckDB-evaluated SQL mirror (``resolve(s)[0].inverse_sql``, chained with
``_datum_sql`` when the params carry a Helmert datum). A refactor of
srs.py that keeps every digest keeps every transform bit-identical.

The digests pin the numpy and DuckDB builds' libm (x86-64, numpy 1.26,
DuckDB 1.0). On another platform regenerate the table with
``python -m tests.test_srs_golden`` on a tree known to be correct.
"""

from __future__ import annotations

import hashlib
import tempfile
import zlib

import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark import srs

SURFACES = ("from_wgs84", "points_to_wgs84", "grid_to_wgs84", "bbox_to_wgs84",
            "inverse_sql")

_WORLD = ((-179.0, 179.0), (-85.0, 85.0))


def _utm(south: bool) -> list:
    lat = (-80.0, -0.5) if south else (0.5, 80.0)
    return [(f"EPSG:32{7 if south else 6}{z:02d}",
             (-186.0 + 6.0 * z, -180.0 + 6.0 * z), lat) for z in range(1, 61)]


# label -> [(srs string, lon range, lat range), ...]; "{gsb}" is the path
# of the NTv2 grid the module fixture writes
CASES = {
    "EPSG:4326": [("EPSG:4326", (-179.0, 179.0), (-89.0, 89.0))],
    "EPSG:3857": [("EPSG:3857", *_WORLD)],
    "EPSG:326xx": _utm(False),
    "EPSG:327xx": _utm(True),
    "EPSG:3031": [("EPSG:3031", (-180.0, 180.0), (-89.0, -60.0))],
    "EPSG:3413": [("EPSG:3413", (-180.0, 180.0), (60.0, 89.0))],
    "EPSG:3035": [("EPSG:3035", (-10.0, 30.0), (35.0, 70.0))],
    "EPSG:2154": [("EPSG:2154", (-5.0, 9.0), (41.0, 51.0))],
    "EPSG:5070": [("EPSG:5070", (-125.0, -67.0), (24.0, 50.0))],
    "EPSG:27700": [("EPSG:27700", (-7.0, 2.0), (49.5, 59.0))],
    "EPSG:2056": [("EPSG:2056", (5.9, 10.5), (45.8, 47.8))],
    "EPSG:21781": [("EPSG:21781", (5.9, 10.5), (45.8, 47.8))],
    "EPSG:6933": [("EPSG:6933", *_WORLD)],
    "EPSG:4087": [("EPSG:4087", *_WORLD)],
    "EPSG:3295": [("EPSG:3295", (137.0, 139.5), (8.2, 10.8))],
    "EPSG:29873": [("EPSG:29873", (109.5, 119.0), (0.8, 7.5))],
    "PS": [("+proj=stere +lat_0=90 +lat_ts=75 +lon_0=-30 +x_0=1000 +y_0=-2000",
            (-180.0, 180.0), (60.0, 88.0))],
    "LAEA": [("+proj=laea +lat_0=45 +lon_0=-100 +x_0=10 +y_0=20",
              (-130.0, -70.0), (25.0, 65.0))],
    "AEA": [("+proj=aea +lat_1=20 +lat_2=60 +lat_0=40 +lon_0=-96 +ellps=grs80",
             (-130.0, -60.0), (20.0, 60.0))],
    "LCC": [("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 +x_0=100 +y_0=50",
             (-120.0, -75.0), (25.0, 50.0))],
    "SINU": [("+proj=sinu +lon_0=20 +R=6371000 +x_0=5 +y_0=7",
              (-150.0, 170.0), (-80.0, 80.0))],
    "ETM": [("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=grs80",
             (6.0, 12.0), (35.0, 60.0))],
    "ETM+helm": [("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=intl "
                  "+towgs84=-87,-98,-121", (6.0, 12.0), (35.0, 60.0))],
    "ETM+wgs84+helm": [("+proj=tmerc +lat_0=30 +lon_0=15 +k=0.9999 +x_0=200000 "
                        "+y_0=-50000 +ellps=wgs84 "
                        "+towgs84=-87,-98,-121,0.1,0.2,0.3,1.5",
                        (12.0, 18.0), (25.0, 45.0))],
    "ETM+ntv2": [("+proj=tmerc +lat_0=0 +lon_0=-75 +k=0.9996 +x_0=500000 +y_0=0 "
                  "+ellps=clrk66 +nadgrids={gsb} +units=m",
                  (-77.5, -74.5), (45.2, 46.8))],
    "SOMERC": [("+proj=somerc +lat_0=46.5 +lon_0=8 +x_0=100 +y_0=200 +ellps=bessel",
                (5.0, 11.0), (44.0, 49.0))],
    "HOM": [("+proj=omerc +lat_0=45 +lonc=-130 +alpha=30 +k=0.9999 +x_0=1000 "
             "+y_0=2000 +ellps=clrk66 +towgs84=1,2,3", (-135.0, -125.0), (42.0, 48.0))],
    "CEA": [("+proj=cea +lat_ts=20 +lon_0=5 +ellps=intl", *_WORLD)],
    "AEQD": [("+proj=aeqd +lat_0=-30 +lon_0=140 +x_0=50 +ellps=wgs84 "
              "+towgs84=10,20,30", (135.0, 145.0), (-35.0, -25.0))],
    "EQC": [("+proj=eqc +lat_ts=45 +lat_0=10 +lon_0=-20 +x_0=3 +y_0=4 "
             "+a=6371000 +b=6371000", *_WORLD)],
}

GOLDEN = {
    "EPSG:4326": ("e11d3ec6591f567c", "e11d3ec6591f567c", "e46ee30ee892c444",
                  "3577e51c0cb78980", "e3b0c44298fc1c14"),
    "EPSG:3857": ("3534bf76e6a30098", "556283f6617c0ded", "0831e2707afd8aac",
                  "76d12063fd2beb28", "e3b0c44298fc1c14"),
    "EPSG:326xx": ("c384898d8bafb898", "dfa91de87427ebb3", "c97529a192973836",
                   "0c7c3160e0bd6b23", "f7bd64e0a37d90bb"),
    "EPSG:327xx": ("dbdcb754571e569c", "73ab76528381649a", "9b6c1e866c03750f",
                   "4cd07f9513c04926", "2c5eb63150687e88"),
    "EPSG:3031": ("b0654697220b2642", "9feedd934c1aaa34", "224785890fdc3365",
                  "bc1bb1b2048a70d9", "28f36f249a51c1b9"),
    "EPSG:3413": ("ed8d9e674188e9b1", "841b8ac3b3075ba8", "38a0d6e1340101e3",
                  "00097f716b784fc6", "11773dfb7a0e165c"),
    "EPSG:3035": ("cc6b4320757e44f6", "f43897e67dcc59cb", "b635c3fe8e275048",
                  "439812f417e46ad9", "43b56a39f172d3d7"),
    "EPSG:2154": ("42ad9780addd049f", "dc6ce8224d739836", "52edb1d8d00d5e7c",
                  "553f739d9fe5a7ed", "6a4686f68dba991d"),
    "EPSG:5070": ("8bcd9f0157e25936", "16bf1c46f7a9d275", "6eaf2a8c0cf96d08",
                  "4893be28f076d74d", "403846a015164713"),
    "EPSG:27700": ("4fa6339930b57d75", "8dd29345538dabe8", "0ede21811286aaae",
                   "a434974f944be7a1", "e2ea8e48f88cd059"),
    "EPSG:2056": ("53fe10f52954f793", "ae82909d6ed04d3c", "f3a959143cf15e56",
                  "2bda4a2d3b942c75", "57821fb0cbe044ef"),
    "EPSG:21781": ("f01dabeb2469835f", "289a2526624bbffc", "eda34a66d390f539",
                   "1ea67a7a462dff47", "5ffc1fa4503fc7d2"),
    "EPSG:6933": ("d023d39da059ca8b", "ed28b3af383acfa9", "397c3c4233245b6b",
                  "1a45561b1877f3aa", "15fea001d18e4314"),
    "EPSG:4087": ("45f1ed93a87ca302", "ad2a0d8aaad537c9", "c467ea02e6446102",
                  "ed4b0879b7552c29", "c467ea02e6446102"),
    "EPSG:3295": ("c21857ac4a2c02d5", "3d77f0174d87f5ae", "ca847a3af640d890",
                  "1cbd390d62fc4fe1", "9265ddebc88e192d"),
    "EPSG:29873": ("4207c24783e13800", "7a2c4f5937e39d4f", "13e464b78d0e5c66",
                   "eb0542d68e54fc05", "de9da9ca5d33a959"),
    "PS": ("04c118659f490354", "e52fbe21a814a929", "ec4743c32e08fc39",
           "aba1b0b4f5f600cf", "f838333ea2dfbe0b"),
    "LAEA": ("d551593dac6d751d", "1f637b202c2c17a7", "b9fe916a8e64ac4c",
             "2ac32cccbbea890d", "1a343beb8fc04b3c"),
    "AEA": ("4a4504a480313d14", "93c78f141d937a29", "d5b23018b592db5a",
            "3e18c77e4622489e", "b0f29d66da623757"),
    "LCC": ("c14de1778134b753", "eb5b9b634e4606d7", "fbd441aa3c3b0806",
            "93a0bfe0602238de", "f985b7963b63c3c3"),
    "SINU": ("be40ae931991c2fc", "d4c0bdc83df8c9f3", "43b591a3c7a0cbcf",
             "565f759c88e362e6", "43b591a3c7a0cbcf"),
    "ETM": ("f37cb1294613efaa", "40cc3bb0b7ab4888", "d668757c6bf2f09d",
            "de3e7b073d5217eb", "d668757c6bf2f09d"),
    "ETM+helm": ("442c8b25422d1123", "3e7b3ce5e1f31a1f", "6e44e418db08ece2",
                 "fd16919e69ed468f", "31a4130f5367788c"),
    "ETM+wgs84+helm": ("d6fab008cd47ac68", "d35167e2b1298288", "768123bd54206926",
                       "cdb6fe73e6a282da", "b9eca8dd101fadb9"),
    "ETM+ntv2": ("027b22dc7872e6ca", "a3a7ac3a3a012e34", "f64d153711a6a0af",
                 "d734bfb5d943019e", "e3b0c44298fc1c14"),
    "SOMERC": ("680ad6f844107b48", "b36bbe06534f818d", "7fd3d65170bc7402",
               "7a9ecab7359a749d", "5dc36a0ebc6513e2"),
    "HOM": ("5c42946e94d70157", "269a8a50187caca4", "3759a26f3a01242b",
            "b42e4ffca193925d", "570d56d6c1dba0d1"),
    "CEA": ("2efb306fe384bfa1", "6a62f2da6bfc2714", "dae8cdc078fc9aa3",
            "1f260df75e5481dc", "94dd3ed78acf6c37"),
    "AEQD": ("0596ef6233f7338b", "f566c342217aebf2", "77aaae8e81ac9d53",
             "604518c57bb65e6a", "cb37190975a5bcfa"),
    "EQC": ("5317e3c696362328", "4ab98a6ee20ce984", "892130bd41db61c9",
            "590ee7ecf8daa3c4", "892130bd41db61c9"),
}


def _write_gsb(path: str) -> str:
    from gdalcubes_cpp_spark.sources.ntv2 import write_gsb

    from .test_ntv2 import _subgrid

    write_gsb(path, [_subgrid("COARSE", "NONE", 45 * 3600.0, 47 * 3600.0,
                              74 * 3600.0, 78 * 3600.0, 1800.0, 1800.0)])
    return path


def _digests(members, gsb: str, con) -> dict:
    """Per-surface sha256 (16 hex digits) over the group's members."""
    hs = {s: hashlib.sha256() for s in SURFACES}

    def put(surface, *arrays):
        for a in arrays:
            a = np.ascontiguousarray(a, dtype=np.float64)
            assert np.isfinite(a).all(), surface
            hs[surface].update(a.tobytes())

    for raw, (lo0, lo1), (la0, la1) in members:
        key = srs.normalize(raw.format(gsb=gsb))
        rng = np.random.default_rng(zlib.crc32(raw.encode()))
        lon = rng.uniform(lo0, lo1, 256)
        lat = rng.uniform(la0, la1, 256)
        x, y = srs.from_wgs84(lon, lat, key)
        put("from_wgs84", x, y)
        put("points_to_wgs84", *srs.points_to_wgs84(x, y, key))
        xs = np.linspace(x.min(), x.max(), 17)
        ys = np.linspace(y.max(), y.min(), 13)
        put("grid_to_wgs84", *srs.grid_to_wgs84(xs, ys, key))
        put("bbox_to_wgs84", srs.bbox_to_wgs84(x.min(), x.max(), y.min(), y.max(), key))
        fam, p = srs.resolve(key)
        helm = getattr(p, "helm", None)
        if fam.inverse_sql is None or srs._is_ntv2(helm):
            continue
        lon_s, lat_s = fam.inverse_sql("x", "y", p)
        dlon, dlat = ("lon0d", "lat0d") if helm is None else srs._datum_sql(
            "lon0d", "lat0d", p.a, p.e2, helm)
        X, Y = np.meshgrid(xs, ys)
        con.register("pts", pd.DataFrame({"i": np.arange(X.size), "x": X.ravel(),
                                         "y": Y.ravel()}))
        out = con.execute(
            f"WITH s AS (SELECT i, {lon_s} AS lon0d, {lat_s} AS lat0d FROM pts) "
            f"SELECT {dlon} AS lon, {dlat} AS lat FROM s ORDER BY i").fetchnumpy()
        con.unregister("pts")
        put("inverse_sql", out["lon"], out["lat"])
    return {s: h.hexdigest()[:16] for s, h in hs.items()}


@pytest.fixture(scope="module")
def gsb(tmp_path_factory):
    return _write_gsb(str(tmp_path_factory.mktemp("ntv2") / "shift.gsb"))


@pytest.fixture(scope="module")
def con():
    import duckdb

    c = duckdb.connect()
    yield c
    c.close()


@pytest.mark.parametrize("label", list(CASES))
def test_srs_golden(label, gsb, con):
    got = _digests(CASES[label], gsb, con)
    assert got == dict(zip(SURFACES, GOLDEN[label]))


def _main():
    import duckdb

    with tempfile.TemporaryDirectory() as d:
        gsb = _write_gsb(f"{d}/shift.gsb")
        c = duckdb.connect()
        print("GOLDEN = {")
        for label, members in CASES.items():
            dg = _digests(members, gsb, c)
            print(f'    "{label}": (' + ", ".join(f'"{dg[s]}"' for s in SURFACES) + "),")
        print("}")


if __name__ == "__main__":
    _main()
