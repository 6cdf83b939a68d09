"""Equality pin for the vectorized cell_long scan (_scan_batch_flat).

build_cells_long has two physical scan implementations: the per-image loop
(reference shape, always available) and the flat vectorized twin used when
the configuration allows (regular time axis, 'near' or metadata values,
value-predicate masks). They must emit IDENTICAL rows; GDALCUBES_VEC_SCAN=0
pins the loop so both run on the same inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from gdalcubes_cpp_spark.operators.build import (
    RangeMask, ValueMask, build_cells_long, _vec_time_slots,
)
from gdalcubes_cpp_spark.view import CubeView, Duration


# ---------------------------------------------------------------- time slots

@pytest.mark.parametrize("dt_str,t0", [
    ("P1M", "2020-01-01"), ("P3M", "1995-01-01"), ("P2Y", "2001-01-01"),
    ("P1D", "2020-06-01"), ("PT6H", "2020-06-01"), ("PT90S", "2020-06-01"),
])
def test_vec_time_slots_matches_scalar(dt_str, t0):
    v = CubeView.create(left=0, right=10, bottom=0, top=10, nx=10, ny=10,
                        t0=t0, nt=7, dt=dt_str)
    rng = np.random.RandomState(42)
    base = np.datetime64(v.t0, "us")
    # jitter from 3 years before t0 to ~4 periods past the axis end, at
    # second granularity (plus some exact boundary hits)
    span = np.timedelta64(int(4.2 * v.dt.seconds * v.nt) if v.dt.unit not in "YM"
                          else 10 * 366 * 86400, "s")
    offs = (rng.rand(500) * span.astype("timedelta64[s]").astype(np.int64)
            ).astype(np.int64) - 3 * 366 * 86400
    ts = base + offs.astype("timedelta64[s]")
    got = _vec_time_slots(ts, v)
    import pandas as pd

    want = np.array([v.slot_index_of(pd.Timestamp(t).to_pydatetime())
                     for t in ts])
    np.testing.assert_array_equal(got, want)


# ------------------------------------------------------- fast == slow (rows)

def _images(spark, n=400, seed=7, srs_note="4326"):
    import pandas as pd

    rng = np.random.RandomState(seed)
    left = -50.0 + rng.rand(n) * 90.0
    bottom = -40.0 + rng.rand(n) * 72.0
    rows = []
    from gdalcubes_cpp_spark.codecs import encode_png

    for i in range(n):
        w, h = int(rng.randint(4, 20)), int(rng.randint(4, 20))
        px = (rng.rand(h, w, 2) * 255).astype(np.uint8)
        rows.append((
            f"{i:06d}", encode_png(px), w, h, "png",
            float(left[i]), float(left[i] + 0.3 + rng.rand() * 2.0),
            float(bottom[i]), float(bottom[i] + 0.3 + rng.rand() * 2.0),
            dt.datetime(2020, 1, 1) + dt.timedelta(hours=int(rng.randint(0, 24 * 360))),
        ))
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "left double, right double, bottom double, top double, ts timestamp")


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("agg", ["mean", "median", "first", "last"])
def test_fast_equals_loop_bytes_near(spark, agg):
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=120, ny=100,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation=agg, resampling="near", chunk_size=(4, 50, 60))
    imgs = _images(spark, 400)
    os.environ["GDALCUBES_VEC_SCAN"] = "0"
    try:
        slow = _collect_sorted(build_cells_long(imgs, v, ("B1", "B2")))
    finally:
        os.environ["GDALCUBES_VEC_SCAN"] = "1"
    fast = _collect_sorted(build_cells_long(imgs, v, ("B1", "B2")))
    assert fast == slow and len(fast) > 0


@pytest.mark.parametrize("mask", [
    None,
    ValueMask(0, [3.0, 7.0, 11.0]),
    RangeMask(1, 10.0, 60.0),
])
def test_fast_equals_loop_value_fn(spark, mask):
    def vfn(image_id):
        k = int(image_id)
        return (float(k % 97), float(k % 89))

    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=96, ny=96,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="near",
                        chunk_size=(4, 48, 48))
    imgs = _images(spark, 400).drop("bytes")
    os.environ["GDALCUBES_VEC_SCAN"] = "0"
    try:
        slow = _collect_sorted(
            build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn, mask=mask))
    finally:
        os.environ["GDALCUBES_VEC_SCAN"] = "1"
    fast = _collect_sorted(
        build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn, mask=mask))
    assert fast == slow and len(fast) > 0


def test_fast_equals_loop_nonseparable(spark):
    def vfn(image_id):
        k = int(image_id)
        return (float(k % 97), float(k % 89))

    v = CubeView.create(srs="EPSG:32632", left=166021.0, right=766021.0,
                        bottom=4000000.0, top=4600000.0, nx=40, ny=40,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="near",
                        chunk_size=(4, 20, 20))
    # footprints around the UTM 32N lon band so some cells land inside
    import pandas as pd

    rng = np.random.RandomState(3)
    n = 300
    rows = []
    for i in range(n):
        lo = 6.0 + rng.rand() * 6.0
        bo = 36.0 + rng.rand() * 5.0
        rows.append((f"{i:06d}", float(lo), float(lo + 0.2 + rng.rand()),
                     float(bo), float(bo + 0.2 + rng.rand()),
                     dt.datetime(2020, 1, 1) + dt.timedelta(days=int(rng.randint(0, 360)))))
    imgs = spark.createDataFrame(
        rows, "image_id string, left double, right double, bottom double, "
              "top double, ts timestamp")
    os.environ["GDALCUBES_VEC_SCAN"] = "0"
    try:
        slow = _collect_sorted(
            build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn))
    finally:
        os.environ["GDALCUBES_VEC_SCAN"] = "1"
    fast = _collect_sorted(
        build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn))
    assert fast == slow and len(fast) > 0


# ------------------------------------------- view-window pre-filter (JVM side)

@pytest.mark.parametrize("srs,dt_str,t0,nt", [
    ("EPSG:4326", "P1M", "2020-03-15", 3),   # mid-month t0: slot 0 starts 03-01
    ("EPSG:4326", "P1Y", "2020-06-15", 1),   # mid-year t0: slot 0 starts 01-01
    ("EPSG:3857", "P2M", "2020-05-20", 2),
    ("EPSG:4326", "P1D", "2020-04-10", 20),
])
def test_view_window_prefilter_keeps_outputs(spark, monkeypatch, srs, dt_str, t0, nt):
    from gdalcubes_cpp_spark import srs as _srs
    from gdalcubes_cpp_spark.operators import build

    def vfn(image_id):
        k = int(image_id)
        return (float(k % 97), float(k % 89))

    lon0, lon1, lat0, lat1 = -20.0, 20.0, -15.0, 15.0
    ext = dict(left=lon0, right=lon1, bottom=lat0, top=lat1)
    if srs == "EPSG:3857":
        ext = dict(left=float(_srs.lon_to_x(lon0)), right=float(_srs.lon_to_x(lon1)),
                   bottom=float(_srs.lat_to_y(lat0)), top=float(_srs.lat_to_y(lat1)))
    v = CubeView.create(srs=srs, **ext, nx=40, ny=30, t0=t0, nt=nt, dt=dt_str,
                        aggregation="mean", resampling="near", chunk_size=(4, 30, 40))
    rng = np.random.RandomState(11)
    rows = []
    for i in range(600):
        lo = -60.0 + rng.rand() * 120.0
        bo = -50.0 + rng.rand() * 100.0
        rows.append((lo, lo + 0.5 + rng.rand() * 4.0, bo, bo + 0.5 + rng.rand() * 4.0,
                     dt.datetime(2019, 6, 1) + dt.timedelta(hours=int(rng.randint(0, 24 * 730)))))
    # images over the view dated inside slot 0 but BEFORE t0 (and just
    # before slot 0) — a filter on ts >= t0 would drop the former
    start = v.t0.replace(day=1) if dt_str.endswith("M") else (
        v.t0.replace(month=1, day=1) if dt_str.endswith("Y") else v.t0)
    for d in (0, 1, 3, -1):
        t = start + dt.timedelta(days=d) if d >= 0 else start - dt.timedelta(seconds=1)
        rows.append((-5.0 + d, 5.0 + d, -4.0, 6.0, t))
    imgs = spark.createDataFrame(
        [(f"{i:06d}",) + r for i, r in enumerate(rows)],
        "image_id string, left double, right double, bottom double, top double, ts timestamp")

    window = build._view_window(v)
    kept = imgs.where(window).count()
    assert 0 < kept < len(rows)
    filtered = _collect_sorted(build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn))
    monkeypatch.setattr(build, "_view_window", lambda view: None)
    unfiltered = _collect_sorted(build_cells_long(imgs, v, ("B1", "B2"), value_fn=vfn))
    assert filtered == unfiltered and len(filtered) > 0
    assert any(r[0] == 0 for r in filtered)


def test_view_window_skips_labeled_and_other_srs():
    from gdalcubes_cpp_spark.operators.build import _view_window

    labeled = CubeView.create(left=0, right=10, bottom=0, top=10, nx=10, ny=10,
                              time_labels=["2020-01-03", "2020-02-07"])
    utm = CubeView.create(srs="EPSG:32632", left=166021.0, right=766021.0,
                          bottom=4000000.0, top=4600000.0, nx=40, ny=40,
                          t0="2020-01-01", nt=2, dt="P1M")
    assert _view_window(labeled) is None and _view_window(utm) is None
