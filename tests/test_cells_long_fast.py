"""Correctness pins for the cube build's scan (build._scan_batch).

The scan runs the decode → warp → mask step (build._cell_step) on every
configuration: regular and labeled time axes, all 12 resamplers,
value-predicate, band and separate-file masks, separable and
non-separable view SRS. Each case is checked cell for cell against the
numpy oracle tests/oracle_np.dense_cube.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark.operators.build import (
    BandMask, FileMask, RangeMask, ValueMask, build_cells_long, build_cube,
    _vec_time_slots,
)
from gdalcubes_cpp_spark.view import CubeView

from .oracle_np import assert_dense_equal, dense_cube


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
    want = np.array([v.slot_index_of(pd.Timestamp(t).to_pydatetime())
                     for t in ts])
    np.testing.assert_array_equal(got, want)


def test_vec_time_slots_labeled_matches_scalar():
    labels = ["2019-12-31T23:59:59", "2020-01-03", "2020-01-03T00:00:01",
              "2020-02-07T12:30", "2021-06-01"]
    v = CubeView.create(left=0, right=10, bottom=0, top=10, nx=10, ny=10,
                        time_labels=labels)
    hits = np.array([np.datetime64(t, "us") for t in v.time_labels])
    rng = np.random.RandomState(3)
    near = hits[rng.randint(0, len(hits), 300)] + rng.randint(
        -2, 3, 300).astype("timedelta64[s]")
    ts = np.concatenate([hits, near, hits - np.timedelta64(1, "us")])
    got = _vec_time_slots(ts, v)
    want = np.array([v.slot_index_of(pd.Timestamp(t).to_pydatetime())
                     for t in ts])
    np.testing.assert_array_equal(got, want)
    assert (got >= 0).any() and (got == -1).any()


@pytest.mark.parametrize("dt_str,t0,labeled", [
    ("P1M", "2020-01-01", False), ("P2Y", "2001-01-01", False),
    ("P1D", "2020-06-01", False), ("PT90S", "2020-06-01", False),
    ("P1D", "2020-06-01", True),
])
def test_it_expr_matches_vec_time_slots(spark, dt_str, t0, labeled):
    """grid.slot_sql (the JVM slot of the touched-slice set) equals the
    scan's _vec_time_slots on sub-second-jittered timestamps; on a labeled
    axis both match labels exactly, else -1."""
    from pyspark.sql import functions as F

    from gdalcubes_cpp_spark.grid import ChunkGrid

    v = CubeView.create(left=0, right=10, bottom=0, top=10, nx=10, ny=10,
                        t0=t0, nt=7, dt=dt_str)
    rng = np.random.RandomState(5)
    base = np.datetime64(v.t0, "us")
    step = (v.dt.seconds if v.dt.unit not in "YM" else 40 * 86400) * 10**6
    ts = base + rng.randint(-step, 9 * step, 400).astype("timedelta64[us]")
    # exact slot starts, and one microsecond either side of them
    starts = np.array([np.datetime64(v.datetime_at(k), "us") for k in range(v.nt)])
    ts = np.concatenate([ts, starts, starts - np.timedelta64(1, "us"),
                         starts + np.timedelta64(1, "us")])
    if labeled:  # sub-second labels, each hit exactly and 1 us either side
        labels = starts[::2] + np.timedelta64(123456, "us")
        ts = np.concatenate([ts, labels, labels - np.timedelta64(1, "us"),
                             labels + np.timedelta64(1, "us")])
        v = CubeView.create(left=0, right=10, bottom=0, top=10, nx=10, ny=10,
                            time_labels=[t.item() for t in labels])
    df = spark.createDataFrame(pd.DataFrame({"k": np.arange(len(ts)), "ts": ts}))
    got = [r[1] for r in df.select("k", F.expr(ChunkGrid(v).slot_sql("ts"))).orderBy("k").collect()]
    want = _vec_time_slots(ts, v)
    np.testing.assert_array_equal(got, want)
    assert len(set(want[want >= 0].tolist())) >= 4


# ---------------------------------------------- the build == oracle (cells)

def _images_pdf(n=400, seed=7, nch=2, lon0=-50.0, lat0=-40.0,
                lon_span=90.0, lat_span=72.0):
    from gdalcubes_cpp_spark.codecs import encode_png

    rng = np.random.RandomState(seed)
    left = lon0 + rng.rand(n) * lon_span
    bottom = lat0 + rng.rand(n) * lat_span
    rows = []
    for i in range(n):
        w, h = int(rng.randint(4, 20)), int(rng.randint(4, 20))
        px = (rng.rand(h, w, nch) * 255).astype(np.uint8)
        rows.append(dict(
            image_id=f"{i:06d}", bytes=encode_png(px), w=w, h=h, fmt="png",
            left=float(left[i]), right=float(left[i] + 0.3 + rng.rand() * 2.0),
            bottom=float(bottom[i]), top=float(bottom[i] + 0.3 + rng.rand() * 2.0),
            ts=dt.datetime(2020, 1, 1) + dt.timedelta(hours=int(rng.randint(0, 24 * 360))),
        ))
    return pd.DataFrame(rows)


def _vfn(image_id):
    k = int(image_id)
    return (float(k % 97), float(k % 89))


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _cube(imgs, v, **kw):
    return build_cube(imgs, v, bands=("B1", "B2"), **kw).collect_dense()


def _assert_cells_equal(got, want):
    """Same NaN pattern and values to 1e-9 (Spark's avg and the dense
    reference sum in different orders)."""
    assert_dense_equal(got, want)
    assert np.isfinite(got).any()


def _assert_matches_oracle(spark, pdf, v, value_fn=None, mask=None, mask_table=None):
    """The build against the numpy oracle. ``pdf`` and ``mask_table`` are
    pandas; value_fn cases drop the payload."""
    if value_fn is not None:
        pdf = pdf.drop(columns=["bytes", "fmt"])
    want = dense_cube(pdf, v, resampling=v.resampling, aggregation=v.aggregation,
                      value_fn=value_fn, mask=mask, mask_table=mask_table)
    kw = dict(value_fn=value_fn, mask=mask)
    if mask_table is not None:
        kw["mask_table"] = spark.createDataFrame(mask_table)
    imgs = spark.createDataFrame(pdf)
    got = _cube(imgs, v, **kw)
    _assert_cells_equal(got, want)
    return got


@pytest.mark.parametrize("agg", ["mean", "median", "first", "last"])
def test_fast_equals_loop_bytes_near(spark, agg):
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=120, ny=100,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation=agg, resampling="near", chunk_size=(4, 50, 60))
    pdf = _images_pdf(400)
    got = _cube(spark.createDataFrame(pdf), v)
    _assert_cells_equal(got, dense_cube(pdf, v, aggregation=agg))


@pytest.mark.parametrize("mask", [
    None,
    ValueMask(0, [3.0, 7.0, 11.0]),
    RangeMask(1, 10.0, 60.0),
])
def test_fast_equals_loop_value_fn(spark, mask):
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=96, ny=96,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="near",
                        chunk_size=(4, 48, 48))
    _assert_matches_oracle(spark, _images_pdf(400), v, value_fn=_vfn, mask=mask)


_UTM = dict(srs="EPSG:32632", left=166021.0, right=766021.0,
            bottom=4000000.0, top=4600000.0, nx=40, ny=40,
            t0="2020-01-01", t1="2020-12-31", dt="P1M",
            aggregation="mean", chunk_size=(4, 20, 20))
# footprints around the UTM 32N lon band so some cells land inside
_UTM_IMAGES = dict(lon0=6.0, lat0=36.0, lon_span=6.0, lat_span=5.0)


def test_fast_equals_loop_nonseparable(spark):
    v = CubeView.create(**_UTM, resampling="near")
    _assert_matches_oracle(spark, _images_pdf(300, seed=3, **_UTM_IMAGES), v,
                           value_fn=_vfn)


@pytest.mark.parametrize("srs,resampling", [
    ("EPSG:4326", "bilinear"), ("EPSG:4326", "cubic"),
    ("EPSG:4326", "average"), ("EPSG:4326", "mode"),
    ("EPSG:3857", "average"),
])
def test_cell_long_resampling(spark, srs, resampling):
    from gdalcubes_cpp_spark import srs as _srs

    ext = dict(left=-50.0, right=50.0, bottom=-40.0, top=40.0)
    if srs == "EPSG:3857":
        ext = dict(left=float(_srs.lon_to_x(-50.0)), right=float(_srs.lon_to_x(50.0)),
                   bottom=float(_srs.lat_to_y(-40.0)), top=float(_srs.lat_to_y(40.0)))
    # coarse enough that images span several cells and several pixels pool
    # into one cell (the aggregating resamplers' regime)
    v = CubeView.create(srs=srs, **ext, nx=60, ny=50,
                        t0="2020-01-01", t1="2020-12-31", dt="P3M",
                        aggregation="mean", resampling=resampling,
                        chunk_size=(4, 25, 30))
    pdf = _images_pdf(200)
    got = _cube(spark.createDataFrame(pdf), v)
    _assert_cells_equal(got, dense_cube(pdf, v, resampling=resampling))


@pytest.mark.parametrize("value_fn", [False, True])
def test_cell_long_labeled_axis(spark, value_fn):
    pdf = _images_pdf(300)
    ts = sorted(pdf["ts"])
    # labels hit some image timestamps exactly, plus two that hit none;
    # only exact label hits contribute
    labels = [t.to_pydatetime() for t in ts[::7]] + [
        dt.datetime(2019, 6, 1), dt.datetime(2020, 6, 15, 0, 0, 1)]
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=120, ny=100,
                        time_labels=labels, aggregation="mean",
                        resampling="near", chunk_size=(4, 50, 60))
    if value_fn:
        got = _assert_matches_oracle(spark, pdf, v, value_fn=_vfn)
    else:
        got = _cube(spark.createDataFrame(pdf), v)
        _assert_cells_equal(got, dense_cube(pdf, v))
    assert (np.isfinite(got).any(axis=(0, 2, 3))).sum() > 1


def test_cell_long_band_mask(spark):
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=120, ny=100,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="bilinear",
                        chunk_size=(4, 50, 60))
    pdf = _images_pdf(300, nch=3)
    got = _assert_matches_oracle(spark, pdf, v,
                                 mask=BandMask(channel=2, vmin=0.0, vmax=90.0))
    assert np.isnan(got).sum() > np.isnan(
        _cube(spark.createDataFrame(pdf), v)).sum()


@pytest.mark.parametrize("resampling", ["near", "bilinear"])
def test_cell_long_file_mask_bytes(spark, resampling):
    from gdalcubes_cpp_spark.codecs import encode_png

    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=120, ny=100,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling=resampling,
                        chunk_size=(4, 50, 60))
    pdf = _images_pdf(300)
    rng = np.random.RandomState(5)
    # every third image has no mask file; the others a mask at their own size
    mtab = pd.DataFrame(
        [(f"{i:06d}", encode_png(rng.randint(0, 10, (int(rng.randint(2, 9)),
                                                     int(rng.randint(2, 9)), 1)
                                            ).astype(np.uint8)), "png")
         for i in range(300) if i % 3], columns=["image_id", "bytes", "fmt"])
    got = _assert_matches_oracle(spark, pdf, v, mask=FileMask(values=[2, 5, 7]),
                                 mask_table=mtab)
    assert np.isnan(got).sum() > np.isnan(
        _cube(spark.createDataFrame(pdf), v)).sum()


@pytest.mark.parametrize("resampling", ["near", "bilinear"])
def test_cell_long_utm_bytes(spark, resampling):
    v = CubeView.create(**_UTM, resampling=resampling)
    _assert_matches_oracle(spark, _images_pdf(300, **_UTM_IMAGES), v)


@pytest.mark.parametrize("srs", ["EPSG:4326", "EPSG:3857"])
def test_footprint_edges_on_cell_centres(spark, srs):
    """Footprints whose edges lie exactly on cell centres (and on chunk
    edges): a centre on the left/top edge is covered, one on the
    right/bottom edge is not."""
    from gdalcubes_cpp_spark import srs as _srs

    ext = dict(left=-10.0, right=10.0, bottom=-8.0, top=8.0)
    if srs == "EPSG:3857":
        ext = dict(left=float(_srs.lon_to_x(-10.0)), right=float(_srs.lon_to_x(10.0)),
                   bottom=float(_srs.lat_to_y(-8.0)), top=float(_srs.lat_to_y(8.0)))
    v = CubeView.create(srs=srs, **ext, nx=48, ny=40, t0="2020-01-01", nt=2,
                        dt="P1M", aggregation="mean", resampling="near",
                        chunk_size=(2, 16, 20))
    lon, lat = _srs.axis_to_wgs84(v.left + (np.arange(v.nx) + 0.5) * v.dx,
                                  v.top - (np.arange(v.ny) + 0.5) * v.dy, srs)
    lon_e, lat_e = _srs.axis_to_wgs84(v.left + np.arange(v.nx + 1) * v.dx,
                                      v.top - np.arange(v.ny + 1) * v.dy, srs)
    rng = np.random.RandomState(2)
    rows = []
    for k in range(60):
        i0, j0 = rng.randint(0, v.nx - 8), rng.randint(0, v.ny - 8)
        i1, j1 = i0 + rng.randint(1, 8), j0 + rng.randint(1, 8)
        if k % 2:  # edges on cell centres
            l, r, b, t = lon[i0], lon[i1], lat[j1], lat[j0]
        else:  # left/top on chunk edges
            l, t = lon_e[i0 // 20 * 20], lat_e[j0 // 16 * 16]
            r, b = lon[i1], lat[j1]
        rows.append(dict(image_id=f"{k:06d}", left=float(l), right=float(r),
                         bottom=float(b), top=float(t),
                         ts=dt.datetime(2020, 1 + k % 2, 10)))
    pdf = pd.DataFrame(rows).assign(bytes=b"", fmt="png", w=16, h=16)
    _assert_matches_oracle(spark, pdf, v, value_fn=_vfn)


# ------------------------- slice aggregations (count_values, count_images, none)

_SLICE_AGGS = ["count_values", "count_images", "none"]


@pytest.mark.parametrize("agg", _SLICE_AGGS)
def test_slice_aggs_utm(spark, agg):
    """A UTM view: st_join's conservative 4326 chunk boxes touch slices
    whose cells no image covers; the counts still write 0 there."""
    v = CubeView.create(**dict(_UTM, aggregation=agg), resampling="near")
    got = _assert_matches_oracle(spark, _images_pdf(300, seed=3, **_UTM_IMAGES), v,
                                 value_fn=_vfn)
    if agg == "count_values":
        assert (got == 0).any()


@pytest.mark.parametrize("agg", _SLICE_AGGS)
def test_slice_aggs_labeled_axis(spark, agg):
    pdf = _images_pdf(300)
    ts = sorted(pdf["ts"])
    labels = [t.to_pydatetime() for t in ts[::5]] + [dt.datetime(2020, 6, 15, 0, 0, 1)]
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=60, ny=50,
                        time_labels=labels, aggregation=agg,
                        resampling="near", chunk_size=(4, 25, 30))
    _assert_matches_oracle(spark, pdf, v, value_fn=_vfn)


@pytest.mark.parametrize("agg", _SLICE_AGGS)
def test_slice_aggs_file_mask_value(spark, agg):
    """A FileMask mask_value drops the whole image: it lands in no slice."""
    v = CubeView.create(left=-50, right=50, bottom=-40, top=40, nx=60, ny=50,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation=agg, resampling="near", chunk_size=(2, 25, 30))
    pdf = _images_pdf(300)
    mtab = pd.DataFrame({"image_id": pdf["image_id"][::2],
                         "mask_value": np.arange(150) % 4 * 1.0})
    mtab.loc[mtab.index[::7], "mask_value"] = np.nan  # NaN never masks
    fm = FileMask(values=[1.0, 2.0])
    got = _assert_matches_oracle(spark, pdf, v, value_fn=_vfn, mask=fm,
                                 mask_table=mtab)
    plain = dense_cube(pdf.drop(columns=["bytes", "fmt"]), v, aggregation=agg,
                       value_fn=_vfn)
    assert not np.array_equal(got, plain, equal_nan=True)


# ------------------------------------------- view-window pre-filter (JVM side)

@pytest.mark.parametrize("srs,dt_str,t0,nt", [
    ("EPSG:4326", "P1M", "2020-03-15", 3),   # mid-month t0: chunk 0 starts at t0
    ("EPSG:4326", "P1Y", "2020-06-15", 1),   # mid-year t0
    ("EPSG:3857", "P2M", "2020-05-20", 2),
    ("EPSG:4326", "P1D", "2020-04-10", 20),
    ("EPSG:6933", "P1M", "2020-02-01", 2),   # separable CEA: exact corners
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
    elif srs != "EPSG:4326":
        (x0, x1), (y0, y1) = _srs.from_wgs84([lon0, lon1], [lat0, lat1], srs)
        ext = dict(left=float(x0), right=float(x1), bottom=float(y0), top=float(y1))
    v = CubeView.create(srs=srs, **ext, nx=40, ny=30, t0=t0, nt=nt, dt=dt_str,
                        aggregation="mean", resampling="near", chunk_size=(4, 30, 40))
    rng = np.random.RandomState(11)
    rows = []
    for i in range(600):
        lo = -60.0 + rng.rand() * 120.0
        bo = -50.0 + rng.rand() * 100.0
        rows.append((lo, lo + 0.5 + rng.rand() * 4.0, bo, bo + 0.5 + rng.rand() * 4.0,
                     dt.datetime(2019, 6, 1) + dt.timedelta(hours=int(rng.randint(0, 24 * 730)))))
    # images over the view dated in slot 0's month/year but BEFORE t0 (and
    # just before it): they land in no slot, so the window may drop them
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
