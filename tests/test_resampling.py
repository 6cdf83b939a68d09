"""All 12 resampling kernels (src/warp.cpp:159-182, enum src/view.h:111-124)
vs straight-line numpy oracles, plus a full cube build with the 'average'
aggregating resampler against the chunk-iterating oracle."""

import numpy as np
import pytest

from gdalcubes_cpp_spark import synth
from gdalcubes_cpp_spark.operators.build import (
    AGG_RESAMPLERS,
    POINT_RESAMPLERS,
    _sep_kernel_weights,
    build_cube,
    warp_plane,
)
from gdalcubes_cpp_spark.view import CubeView

from . import oracle_np

BOUNDS = (0.0, 16.0, 0.0, 16.0)


@pytest.fixture(scope="module")
def plane():
    return np.random.RandomState(0).randint(0, 255, (16, 16)).astype(np.float64)


# coarse 2x grid: 8x8 target cells of exactly 2x2 source pixels
XS2 = np.arange(8) * 2 + 1.0
YS2 = 16.0 - (np.arange(8) * 2 + 1.0)


@pytest.mark.parametrize("method", AGG_RESAMPLERS)
def test_agg_resamplers_vs_bruteforce(plane, method):
    """Each target cell pools the source pixels whose centers fall in its
    rectangle; oracle = per-cell double loop."""
    got = warp_plane(plane, BOUNDS, XS2, YS2, method)
    sx = np.arange(16) + 0.5
    sy = 16.0 - (np.arange(16) + 0.5)
    want = np.empty((8, 8))
    for i, cy in enumerate(YS2):
        for j, cx in enumerate(XS2):
            vals = plane[np.ix_(
                np.nonzero((sy > cy - 1) & (sy <= cy + 1))[0],
                np.nonzero((sx >= cx - 1) & (sx < cx + 1))[0],
            )].ravel()
            if method == "average":
                want[i, j] = vals.mean()
            elif method == "min":
                want[i, j] = vals.min()
            elif method == "max":
                want[i, j] = vals.max()
            elif method == "mode":
                uq, c = np.unique(vals, return_counts=True)
                want[i, j] = uq[np.argmax(c)]  # tie -> smallest value
            else:
                q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[method]
                want[i, j] = np.quantile(vals, q)  # type-7 'linear'
    assert np.array_equal(got, want), method


@pytest.mark.parametrize("method", ["near", "bilinear", "cubic", "lanczos"])
def test_interpolating_kernels_identity(plane, method):
    """Interpolating kernels reproduce source values at exact pixel centers."""
    cx = np.arange(16) + 0.5
    cy = 16.0 - (np.arange(16) + 0.5)
    got = warp_plane(plane, BOUNDS, cx, cy, method)
    assert np.abs(got - plane).max() < 1e-12, method


@pytest.mark.parametrize("method", ["cubic", "cubicspline", "lanczos"])
def test_kernel_resamplers_vs_direct_eval(plane, method):
    """Separable 4/6-tap kernels vs a direct per-point double loop with the
    same tap weights, edge clamping, and weight renormalization."""
    taps = {"cubic": 2, "cubicspline": 2, "lanczos": 3}[method]
    txs = np.array([0.2, 3.3, 7.7, 12.1, 15.9])
    tys = np.array([15.8, 13.9, 8.2, 2.6, 0.1])
    got = warp_plane(plane, BOUNDS, txs, tys, method)
    want = np.empty((5, 5))
    for i, ty in enumerate(tys):
        for j, tx in enumerate(txs):
            gx, gy = tx - 0.5, (16.0 - ty) - 0.5
            x0, y0 = int(np.floor(gx)), int(np.floor(gy))
            acc = wsum = 0.0
            for dy in range(1 - taps, taps + 1):
                wy = _sep_kernel_weights(np.array([gy - (y0 + dy)]), method)[0]
                for dx in range(1 - taps, taps + 1):
                    wx = _sep_kernel_weights(np.array([gx - (x0 + dx)]), method)[0]
                    acc += wy * wx * plane[min(max(y0 + dy, 0), 15), min(max(x0 + dx, 0), 15)]
                    wsum += wy * wx
            want[i, j] = acc / wsum
    assert np.allclose(got, want, atol=1e-12), method


def test_kernel_weight_properties():
    # interpolating kernels: weight 1 at 0, 0 at other integers
    for m in ("cubic", "lanczos"):
        assert _sep_kernel_weights(np.array([0.0]), m)[0] == pytest.approx(1.0)
        assert abs(_sep_kernel_weights(np.array([1.0]), m)[0]) < 1e-12
        assert abs(_sep_kernel_weights(np.array([2.0]), m)[0]) < 1e-12
    # B-spline partition of unity at any phase
    for phase in (0.0, 0.25, 0.5):
        w = _sep_kernel_weights(np.array([phase + 1, phase, phase - 1, phase - 2]), "cubicspline")
        assert w.sum() == pytest.approx(1.0)


def test_outside_footprint_nan(plane):
    for method in POINT_RESAMPLERS + AGG_RESAMPLERS:
        out = warp_plane(plane, BOUNDS, np.array([-0.1, 16.1]), np.array([8.0]), method)
        assert np.isnan(out).all(), method


def test_agg_requires_1d():
    X, Y = np.meshgrid(XS2, YS2)
    with pytest.raises(ValueError):
        warp_plane(np.zeros((4, 4)), BOUNDS, X, Y, "average")


def test_agg_nearest_fallback(plane):
    """Target finer than source: cells without any source center fall back
    to the nearest-neighbor gather (never silently empty inside the
    footprint)."""
    xs = np.arange(64) * 0.25 + 0.125
    ys = 16.0 - (np.arange(64) * 0.25 + 0.125)
    got = warp_plane(plane, BOUNDS, xs, ys, "average")
    near = warp_plane(plane, BOUNDS, xs, ys, "near")
    assert not np.isnan(got).any()
    assert np.array_equal(got, near)  # 1 source center per 4x4 target block


@pytest.mark.parametrize("layout", ["chunk_kernel", "cell_long"])
def test_build_average_resampling_exact(spark, layout):
    """Full cube build with resampling='average' (the downsampling workhorse,
    src/warp.cpp:167) == the chunk-iterating numpy oracle, on two chunk
    layouts (oracle_np.CHUNK_LAYOUTS)."""
    pdf = synth.images_pdf(120)
    imgs = spark.createDataFrame(pdf)
    v = CubeView.create(
        left=-12, right=-8, bottom=18, top=22, nx=16, ny=16,  # coarse: 0.25 deg
        t0="2020-01-01", t1="2020-12-31", dt="P2M",
        aggregation="mean", resampling="average", chunk_size=(3, 8, 8),
    )
    v = oracle_np.relayout(v, layout)
    got = build_cube(imgs, v).collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="average", aggregation="mean")
    oracle_np.assert_dense_equal(got, want)


def test_build_mode_resampling_exact(spark):
    pdf = synth.images_pdf(60)
    imgs = spark.createDataFrame(pdf)
    v = CubeView.create(
        left=-12, right=-8, bottom=18, top=22, nx=10, ny=10,
        t0="2020-01-01", t1="2020-12-31", dt="P3M",
        aggregation="first", resampling="mode", chunk_size=(2, 5, 10),
    )
    got = build_cube(imgs, v).collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="mode", aggregation="first")
    oracle_np.assert_dense_equal(got, want)


def test_build_cubic_resampling_exact(spark):
    pdf = synth.images_pdf(60)
    imgs = spark.createDataFrame(pdf)
    v = CubeView.create(
        left=-12, right=-8, bottom=18, top=22, nx=48, ny=48,
        t0="2020-01-01", t1="2020-12-31", dt="P3M",
        aggregation="mean", resampling="cubic", chunk_size=(2, 24, 24),
    )
    got = build_cube(imgs, v).collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="cubic", aggregation="mean")
    oracle_np.assert_dense_equal(got, want)


def test_nan_taps_renormalize(plane):
    """r2 ADVICE: a single nodata (NaN) source pixel must drop out of the
    kernel support with its weight (GDAL nodata-masked resampling), not
    poison every output cell the kernel touches."""
    p = plane.astype(float).copy()
    p[8, 8] = np.nan
    xs = np.arange(16) + 0.5        # one target per source pixel, centered
    ys = 16.0 - (np.arange(16) + 0.5)
    for method in ("bilinear", "cubic", "cubicspline", "lanczos"):
        got = warp_plane(p, BOUNDS, xs, ys, method)
        clean = warp_plane(plane.astype(float), BOUNDS, xs, ys, method)
        # away from the NaN pixel: identical to the clean warp
        far = np.ones_like(got, dtype=bool)
        far[4:12, 4:12] = False
        assert np.allclose(got[far], clean[far], equal_nan=True), method
        # near the NaN pixel: finite (renormalized from the valid taps)...
        neigh = got[7:10, 7:10]
        if method == "cubicspline":
            assert np.isfinite(neigh).all(), method
        else:
            # ...except exactly AT it for interpolating kernels, where the
            # sole non-zero-weight tap IS the NaN pixel -> all-invalid -> NaN
            assert np.isnan(got[8, 8]), method
            off = np.ones((3, 3), dtype=bool)
            off[1, 1] = False
            assert np.isfinite(neigh[off]).all(), method
