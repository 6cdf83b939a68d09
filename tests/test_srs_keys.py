"""The dynamic SRS key contract.

Keys are persisted (netCDF ``srs`` attribute, HDF5 attributes, view JSON,
HDF-EOS scene info) and re-resolved by executor processes that never saw
the proj4 string, so their text is frozen per family and must parse back
to the same parameters in a fresh process."""

from __future__ import annotations

import numpy as np
import pytest

from gdalcubes_cpp_spark import srs

# one proj4 string per dynamic family -> its exact key
GOLDEN = [
    ("+proj=stere +lat_0=90 +lat_ts=75 +lon_0=-30 +x_0=1000 +y_0=-2000",
     "PS:75.0:-30.0:1000.0:-2000.0:N:6378137.0:0.0066943799901413165"),
    ("+proj=laea +lat_0=45 +lon_0=-100 +x_0=10 +y_0=20",
     "LAEA:45.0:-100.0:10.0:20.0:6.69437999014131646e-03:6378137.0"),
    ("+proj=aea +lat_1=20 +lat_2=60 +lat_0=40 +lon_0=-96 +ellps=grs80",
     "AEA:20.0:60.0:40.0:-96.0:0.0:0.0:6.69438002290078694e-03:6378137.0"),
    ("+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 +x_0=100 +y_0=50",
     "LCC:33.0:45.0:39.0:-96.0:100.0:50.0:6.69437999014131646e-03"
     ":6378137.0"),
    ("+proj=sinu +lon_0=20 +R=6371000 +x_0=5 +y_0=7",
     "SINU:6371000.0:20.0:5.0:7.0"),
    ("+proj=tmerc +lat_0=0 +lon_0=9 +k=0.9996 +x_0=500000 +ellps=intl "
     "+towgs84=-87,-98,-121",
     "ETM:6378388.0:0.006722670022333321:0.9996:0.0:9.0:500000.0:0.0"
     ":-87.0:-98.0:-121.0:0.0:0.0:0.0:0.0"),
    ("+proj=somerc +lat_0=46.5 +lon_0=8 +x_0=100 +y_0=200 +ellps=bessel",
     "SOMERC:6377397.155:0.006674372231802145:46.5:8.0:100.0:200.0"),
    ("+proj=omerc +lat_0=45 +lonc=-130 +alpha=30 +k=0.9999 +x_0=1000 "
     "+y_0=2000 +ellps=clrk66 +towgs84=1,2,3",
     "HOM:6378206.4:0.0067686579972889415:45.0:-130.0:30.0:30.0:0.9999"
     ":1000.0:2000.0:1.0:2.0:3.0:0.0:0.0:0.0:0.0"),
    ("+proj=cea +lat_ts=20 +lon_0=5 +ellps=intl",
     "CEA:20.0:5.0:0.0:0.0:6378388.0:0.006722670022333321"),
    ("+proj=aeqd +lat_0=-30 +lon_0=140 +x_0=50 +ellps=wgs84 +towgs84=10,20,30",
     "AEQD:-30.0:140.0:50.0:0.0:6378137.0:0.0066943799901413165"
     ":10.0:20.0:30.0:0.0:0.0:0.0:0.0"),
    ("+proj=eqc +lat_ts=45 +lat_0=10 +lon_0=-20 +x_0=3 +y_0=4 "
     "+a=6371000 +b=6371000",
     "EQC:45.0:10.0:-20.0:3.0:4.0:6371000.0:0.0"),
]

# parameter fields each family writes before the optional datum suffix
N_FIELDS = {"PS": 7, "LAEA": 6, "AEA": 8, "LCC": 8, "SINU": 4, "ETM": 7,
            "SOMERC": 6, "HOM": 9, "CEA": 6, "AEQD": 6, "EQC": 7}


def _ids(cases):
    return [key.split(":")[0] for _, key in cases]


@pytest.mark.parametrize("proj4,key", GOLDEN, ids=_ids(GOLDEN))
def test_golden_dynamic_keys(proj4, key):
    assert srs.normalize(proj4) == key
    assert srs.normalize(key) == key


@pytest.mark.parametrize("proj4,key", GOLDEN, ids=_ids(GOLDEN))
def test_fresh_cache_reresolves(proj4, key):
    """An executor imports srs.py fresh: the key alone must give back the
    same parameters and the same transforms, bit for bit."""
    fam, p = srs.resolve(srs.normalize(proj4))
    lon0, lat0 = srs.points_to_wgs84(*_probe(fam, p), key)
    srs._PARSED.pop(key)
    assert srs.normalize(key) == key
    fam2, p2 = srs.resolve(key)
    assert fam2 is fam and p2 == p
    lon1, lat1 = srs.points_to_wgs84(*_probe(fam, p), key)
    assert np.array_equal(lon0, lon1, equal_nan=True)
    assert np.array_equal(lat0, lat1, equal_nan=True)


def _probe(fam, p):
    # grid points a few km around the family's false origin
    x0 = getattr(p, "fe", getattr(p, "ec", 0.0))
    y0 = getattr(p, "fn", getattr(p, "nc", 0.0))
    g = np.linspace(-5000.0, 5000.0, 5)
    return x0 + 1000.0 + g, y0 + 2000.0 + g[::-1]


# the key of each family whose key gained fields, in its earlier form:
# too short now, so it raises instead of parsing into other parameters
PARENT_FORM = ["PS:75.0:-30.0:1000.0:-2000.0:N",
               "LAEA:45.0:-100.0:10.0:20.0:6.69437999014131646e-03",
               "AEA:20.0:60.0:40.0:-96.0:0.0:0.0:6.69438002290078694e-03",
               "LCC:33.0:45.0:39.0:-96.0:100.0:50.0:6.69437999014131646e-03"]


@pytest.mark.parametrize("key", PARENT_FORM, ids=[k.split(":")[0] for k in PARENT_FORM])
def test_parent_form_key_raises(key):
    with pytest.raises(ValueError, match="malformed"):
        srs.normalize(key)


def test_helm_suffix_only_where_params_have_a_datum():
    """A sphere (SINU) takes no datum suffix, and a Helmert suffix has
    exactly 7 fields."""
    for bad in ("SINU:6371000.0:20.0:5.0:7.0:1.0:2.0:3.0:0.0:0.0:0.0:0.0",
                "CEA:20.0:5.0:0.0:0.0:6378388.0:0.006722670022333321:1.0:2.0:3.0"):
        with pytest.raises(ValueError, match="malformed"):
            srs.normalize(bad)


@pytest.mark.parametrize("proj4,key", GOLDEN, ids=_ids(GOLDEN))
def test_truncated_key_raises(proj4, key):
    prefix = key.split(":")[0]
    short = ":".join(key.split(":")[:N_FIELDS[prefix]])  # one field short
    for bad in (short, prefix + ":"):
        with pytest.raises(ValueError, match="malformed"):
            srs.normalize(bad)
