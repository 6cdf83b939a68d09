"""Derived cube operators (SURVEY.md §2.3) vs numpy — deterministic cubes
with injected NaN gaps, exercising the hard parts: NaN semantics, ddof=1,
type-7 quantiles, avg-of-middles median, cross-chunk fills."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdalcubes_cpp_spark.cube import KEY, Cube
from gdalcubes_cpp_spark.view import CubeView

NT, NY, NX = 8, 6, 5


def make_dense(seed=7):
    """(2, NT, NY, NX) float64 with ~20% NaN gaps, deterministic."""
    rng = np.random.RandomState(seed)
    a = np.round(rng.uniform(0, 100, (2, NT, NY, NX)), 0)  # integer-valued
    gaps = rng.uniform(0, 1, a.shape) < 0.2
    a[gaps] = np.nan
    # one pixel fully empty; one time slice fully empty for band 0
    a[:, :, 0, 0] = np.nan
    a[0, 3] = np.nan
    return a


def cube_from_dense(spark, dense, **viewkw):
    nb, nt, ny, nx = dense.shape
    args = dict(left=0.0, right=float(nx), bottom=0.0, top=float(ny),
                nx=nx, ny=ny, t0="2020-01-01", nt=nt, dt="P1D",
                chunk_size=(4, 4, 4))
    args.update(viewkw)
    v = CubeView.create(**args)
    tt, yy, xx = np.meshgrid(np.arange(nt), np.arange(ny), np.arange(nx), indexing="ij")
    keep = ~np.isnan(dense).all(axis=0)
    pdf = pd.DataFrame({
        "it": tt[keep].astype("int32"), "iy": yy[keep].astype("int32"),
        "ix": xx[keep].astype("int32"),
        "B1": dense[0][keep], "B2": dense[1][keep],
    })
    df = spark.createDataFrame(pdf, schema="it int, iy int, ix int, B1 double, B2 double")
    # NaN -> NULL (sparse-null convention)
    from pyspark.sql import functions as F
    df = df.select("it", "iy", "ix",
                   *[F.when(F.isnan(b) | F.col(b).isNull(), None).otherwise(F.col(b)).alias(b)
                     for b in ("B1", "B2")])
    return Cube(df, v, ("B1", "B2")), v


@pytest.fixture(scope="module")
def dense():
    return make_dense()


@pytest.fixture(scope="module")
def cube(spark, dense):
    c, _ = cube_from_dense(spark, dense)
    c = Cube(c.df.cache(), c.view, c.bands)
    return c


def test_select_rename(cube, dense):
    c = cube.select_bands(["B2"]).rename_bands({"B2": "Z"})
    assert c.bands == ("Z",)
    got = c.collect_dense()
    # selected band matches; NaN pattern may densify rows where B1 existed
    m = np.isfinite(dense[1])
    assert np.allclose(got[0][m], dense[1][m], atol=0)


def test_apply_pixel(cube, dense):
    c = cube.apply_pixel({"ndvi": "(B2 - B1) / (B2 + B1)", "ssum": "B1 + B2"}, keep_bands=True)
    got = c.collect_dense()
    with np.errstate(all="ignore"):
        want_ndvi = (dense[1] - dense[0]) / (dense[1] + dense[0])
        want_sum = dense[0] + dense[1]
    m = np.isfinite(want_ndvi) & np.isfinite(got[2])
    assert np.allclose(got[2][m], want_ndvi[m], atol=1e-12)
    m2 = np.isfinite(want_sum)
    assert np.allclose(got[3][m2], want_sum[m2], atol=0)
    assert c.bands == ("B1", "B2", "ndvi", "ssum")


def test_apply_pixel_coord_vars(cube):
    c = cube.apply_pixel({"cx": "x", "cy": "y", "ct": "it"})
    rows = c.df.limit(50).collect()
    for r in rows:
        assert r["cx"] == pytest.approx(r["ix"] + 0.5)
        assert r["cy"] == pytest.approx(NY - r["iy"] - 0.5)


def test_filter_pixel(cube, dense):
    c = cube.filter_pixel("B1 > 50")
    got = c.collect_dense()
    want = np.where(np.isfinite(dense[0]) & (dense[0] > 50), dense, np.nan)
    m = np.isfinite(want[0])
    assert np.allclose(got[0][m], want[0][m], atol=0)
    assert np.isnan(got[0][~m]).all()


@pytest.mark.parametrize("reducer", ["min", "max", "mean", "median", "sum", "count",
                                     "prod", "var", "sd", "Q1", "Q3"])
def test_reduce_time(cube, dense, reducer):
    c = cube.reduce_time([(reducer, "B1"), (reducer, "B2")])
    got = c.collect_dense()
    fn = {
        "min": np.nanmin, "max": np.nanmax, "mean": np.nanmean,
        "median": np.nanmedian, "sum": np.nansum,
        "count": lambda a, axis: np.isfinite(a).sum(axis=axis).astype(float),
        "prod": np.nanprod,
        "var": lambda a, axis: np.nanvar(a, axis=axis, ddof=1),
        "sd": lambda a, axis: np.nanstd(a, axis=axis, ddof=1),
        "Q1": lambda a, axis: np.nanpercentile(a, 25, axis=axis),
        "Q3": lambda a, axis: np.nanpercentile(a, 75, axis=axis),
    }[reducer]
    with np.errstate(all="ignore"):
        want = np.stack([fn(dense[b], axis=0) for b in range(2)])[:, None]
    if reducer in ("sum", "prod", "count"):
        # engine: cells with zero observations are absent (NaN), numpy returns 0/1
        obs = np.stack([np.isfinite(dense[b]).any(axis=0) for b in range(2)])[:, None]
        want = np.where(obs, want, np.nan)
    if reducer in ("var", "sd"):
        # n=1 -> reference NaN (ddof=1); numpy warns+NaN too
        pass
    m = np.isfinite(want)
    gm = np.isfinite(got)
    assert (m == gm).all(), f"NaN pattern {reducer}"
    assert np.allclose(got[m], want[m], rtol=1e-12, atol=1e-9), reducer


def test_reduce_time_which(spark, cube, dense):
    c = cube.reduce_time([("which_min", "B1"), ("which_max", "B1")])
    got = c.collect_dense()
    v = cube.view
    for iy in range(NY):
        for ix in range(NX):
            col = dense[0][:, iy, ix]
            if np.isfinite(col).any():
                tmin = int(np.nanargmin(col))
                tmax = int(np.nanargmax(col))
                dmin = v.datetime_at(tmin)
                dmax = v.datetime_at(tmax)
                num = lambda d: float(d.strftime("%Y%m%d%H%M%S"))
                assert got[0, 0, iy, ix] == num(dmin), (iy, ix)
                assert got[1, 0, iy, ix] == num(dmax), (iy, ix)
            else:
                assert np.isnan(got[0, 0, iy, ix])


def test_reduce_space(cube, dense):
    c = cube.reduce_space([("mean", "B1"), ("count", "B2")])
    got = c.collect_dense()
    with np.errstate(all="ignore"):
        want_mean = np.nanmean(dense[0].reshape(NT, -1), axis=1)
        want_count = np.isfinite(dense[1].reshape(NT, -1)).sum(axis=1).astype(float)
    for t in range(NT):
        if np.isfinite(want_mean[t]):
            assert got[0, t, 0, 0] == pytest.approx(want_mean[t], abs=1e-9)
        if want_count[t] > 0:
            assert got[1, t, 0, 0] == want_count[t]


def test_aggregate_time(cube, dense):
    c = cube.aggregate_time(fact=3, func="mean")
    got = c.collect_dense()
    assert c.view.nt == 3 and str(c.view.dt) == "P3D"
    with np.errstate(all="ignore"):
        for k in range(3):
            blk = dense[:, 3 * k : 3 * (k + 1)]
            want = np.nanmean(blk, axis=1)
            m = np.isfinite(want)
            assert np.allclose(got[:, k][m], want[m], atol=1e-9)


def test_aggregate_space(cube, dense):
    c = cube.aggregate_space(fact=2, func="max")
    got = c.collect_dense()
    assert c.view.ny == 3 and c.view.nx == 3
    with np.errstate(all="ignore"):
        for gy in range(3):
            for gx in range(3):
                blk = dense[:, :, 2 * gy : 2 * gy + 2, 2 * gx : 2 * gx + 2]
                want = np.nanmax(blk.reshape(2, NT, -1), axis=2)
                m = np.isfinite(want)
                assert np.allclose(got[:, :, gy, gx][m], want[m], atol=0)


def test_window_time_reducer(cube, dense):
    c = cube.window_time((1, 1), reducers=[("mean", "B1")])
    got = c.collect_dense()
    for t in range(NT):
        lo, hi = max(0, t - 1), min(NT, t + 2)
        with np.errstate(all="ignore"):
            want = np.nanmean(dense[0][lo:hi], axis=0)
        m = np.isfinite(want)
        assert np.allclose(got[0, t][m], want[m], atol=1e-9), t


def test_window_time_kernel(cube, dense):
    c = cube.window_time((1, 1), kernel=[-1.0, 2.0, -1.0])
    got = c.collect_dense()
    z = np.nan_to_num(dense[0], nan=0.0)
    for t in range(NT):
        want = 2 * z[t]
        if t > 0:
            want = want - z[t - 1]
        if t < NT - 1:
            want = want - z[t + 1]
        # rows absent in the sparse cube (all-band-NaN) emit nothing; compare
        # where the output has a value
        m = np.isfinite(got[0, t])
        assert np.allclose(got[0, t][m], want[m], atol=1e-9), t


@pytest.mark.parametrize("method", ["linear", "locf", "nocb", "near"])
def test_fill_time(spark, dense, method):
    c, v = cube_from_dense(spark, dense)
    got = c.fill_time(method).collect_dense()
    want = dense.copy()
    for b in range(2):
        for iy in range(NY):
            for ix in range(NX):
                col = want[b, :, iy, ix]
                obs = np.where(np.isfinite(col))[0]
                if len(obs) == 0:
                    continue
                for t in range(NT):
                    if np.isfinite(col[t]):
                        continue
                    prev = obs[obs < t]
                    nxt = obs[obs > t]
                    p = prev[-1] if len(prev) else None
                    n = nxt[0] if len(nxt) else None
                    if method == "locf" and p is not None:
                        col[t] = col[p]
                    elif method == "nocb" and n is not None:
                        col[t] = col[n]
                    elif method == "near":
                        if p is not None and n is not None:
                            col[t] = col[p] if (t - p) <= (n - t) else col[n]
                        elif p is not None:
                            col[t] = col[p]
                        elif n is not None:
                            col[t] = col[n]
                    elif method == "linear" and p is not None and n is not None:
                        col[t] = col[p] + (col[n] - col[p]) * (t - p) / (n - p)
    m = np.isfinite(want)
    gm = np.isfinite(got)
    assert (m == gm).all(), "fill NaN pattern"
    assert np.allclose(got[m], want[m], atol=1e-9)


def test_join_bands(spark, dense):
    c1, _ = cube_from_dense(spark, dense)
    c2, _ = cube_from_dense(spark, dense * 2)
    j = c1.join_bands([c2])  # name conflict -> auto prefixes X1/X2
    assert j.bands == ("X1.B1", "X1.B2", "X2.B1", "X2.B2")
    got = j.collect_dense()
    m = np.isfinite(dense[0])
    assert np.allclose(got[0][m], dense[0][m], atol=0)
    assert np.allclose(got[2][m], dense[0][m] * 2, atol=0)


def test_crop_slice(spark, dense):
    c, v = cube_from_dense(spark, dense)
    cr = c.crop(ix_range=(1, 4), iy_range=(2, 5), it_range=(2, 6))
    assert cr.view.shape == (4, 3, 3)
    got = cr.collect_dense()
    want = dense[:, 2:6, 2:5, 1:4]
    m = np.isfinite(want)
    assert (m == np.isfinite(got)).all()
    assert np.allclose(got[m], want[m], atol=0)
    st = c.slice_time(3)
    assert st.view.nt == 1
    got2 = st.collect_dense()
    m2 = np.isfinite(dense[:, 3:4])
    assert np.allclose(got2[m2], dense[:, 3:4][m2], atol=0)
    sp = c.slice_space(2, 3)
    assert sp.view.nx == 1 and sp.view.ny == 1
    got3 = sp.collect_dense()
    m3 = np.isfinite(dense[:, :, 3:4, 2:3])
    assert np.allclose(got3[m3], dense[:, :, 3:4, 2:3][m3], atol=0)


def test_select_time_labeled(spark, dense):
    c, v = cube_from_dense(spark, dense)
    st = c.select_time([1, 4, 6])
    assert st.view.labeled and st.view.nt == 3
    got = st.collect_dense()
    want = dense[:, [1, 4, 6]]
    m = np.isfinite(want)
    assert (m == np.isfinite(got)).all()
    assert np.allclose(got[m], want[m], atol=0)


def test_write_read_roundtrip(spark, dense, tmp_path):
    from gdalcubes_cpp_spark.sources.collection import read_chunks, write_cube

    c, v = cube_from_dense(spark, dense)
    path = str(tmp_path / "cube")
    write_cube(c, path)
    c2 = read_chunks(spark, path)
    assert c2.view == v and c2.bands == c.bands
    got = c2.collect_dense()
    m = np.isfinite(dense)
    # all-NaN rows absent; every present value must roundtrip exactly
    gm = np.isfinite(got)
    assert np.allclose(got[gm], dense[gm], atol=0)
    assert gm.sum() == m.sum()


def test_fill_space_knn(spark, dense):
    c, v = cube_from_dense(spark, dense)
    got = c.fill_space_knn(k=1).collect_dense()
    want = dense.copy()
    for b in range(2):
        for t in range(NT):
            plane = dense[b, t]
            for iy in range(NY):
                for ix in range(NX):
                    if np.isfinite(plane[iy, ix]):
                        continue
                    best = None
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            sy, sx = iy + dy, ix + dx
                            if 0 <= sy < NY and 0 <= sx < NX and np.isfinite(plane[sy, sx]):
                                key = (max(abs(dy), abs(dx)), sy, sx)
                                if best is None or key < best[0]:
                                    best = (key, plane[sy, sx])
                    if best is not None:
                        want[b, t, iy, ix] = best[1]
    m = np.isfinite(want)
    gm = np.isfinite(got)
    assert (m == gm).all(), "knn fill NaN pattern"
    assert np.allclose(got[m], want[m], atol=0)


def test_window_time_median_prod(spark, dense):
    c, _ = cube_from_dense(spark, dense)
    got = c.window_time((1, 1), reducers=[("median", "B1"), ("prod", "B2")]).collect_dense()
    for t in range(NT):
        lo, hi = max(0, t - 1), min(NT, t + 2)
        with np.errstate(all="ignore"):
            wm = np.nanmedian(dense[0][lo:hi], axis=0)
            wp = np.nanprod(dense[1][lo:hi], axis=0)
        m = np.isfinite(wm)
        assert np.allclose(got[0, t][m], wm[m], atol=1e-9)
        m3 = np.isfinite(got[1, t])
        assert np.allclose(got[1, t][m3], wp[m3], rtol=1e-12)


def test_apply_time_udf(spark, dense):
    """User-defined shape-preserving time kernel (stream_apply_time analog):
    cumulative max along time, NaN positions stay NaN. CHUNK-grain contract:
    fn receives {band: (npix, nt)} matrices for a whole spatial chunk and
    must see MANY pixels per call (the reference streams chunk buffers,
    src/stream.cpp:66-103 — never one call per pixel)."""
    c, _ = cube_from_dense(spark, dense)
    seen_npix = []

    def cummax(mats):
        assert set(mats) == {"B1", "B2"}
        npix, nt = mats["B1"].shape
        assert nt == NT
        seen_npix.append(npix)
        out = {}
        for b, M in mats.items():
            acc = np.fmax.accumulate(np.where(np.isnan(M), -np.inf, M), axis=1)
            out[b] = np.where(np.isnan(M), np.nan, np.where(np.isinf(acc), np.nan, acc))
        return out

    got = c.apply_time(cummax).collect_dense()
    want = dense.copy()
    for b in range(2):
        for iy in range(NY):
            for ix in range(NX):
                col = want[b, :, iy, ix]
                run = np.nan
                for t in range(NT):
                    if np.isfinite(col[t]):
                        run = col[t] if not np.isfinite(run) else max(run, col[t])
                        col[t] = run
                    # NaN inputs stay NaN
    m = np.isfinite(want)
    assert (m == np.isfinite(got)).all()
    assert np.allclose(got[m], want[m], atol=0)


def test_apply_time_udf_chunk_grain(spark, dense):
    """The UDF surface groups by SPATIAL CHUNK, not per pixel: group count
    == chunk-grid columns x rows (r1 VERDICT 'What's wrong' #1)."""
    c, _ = cube_from_dense(spark, dense)
    g = c.grid
    n_groups = (
        c._spatial_chunk_groups().agg(F.count("*")).count()
    )
    n_pixels = c.df.select("iy", "ix").distinct().count()
    assert n_groups == g.ncx * g.ncy
    assert n_groups < n_pixels


def test_reduce_time_udf(spark, dense):
    """User-defined reducer (stream_reduce_time analog): NaN-aware range,
    vectorized over all pixels of a chunk."""
    c, _ = cube_from_dense(spark, dense)

    def vrange(mats):
        with np.errstate(all="ignore"):
            return {"B1_range": np.nanmax(mats["B1"], axis=1) - np.nanmin(mats["B1"], axis=1)}

    got = c.reduce_time_udf(vrange, ["B1_range"]).collect_dense()
    assert got.shape[1] == 1
    with np.errstate(all="ignore"):
        want = np.nanmax(dense[0], axis=0) - np.nanmin(dense[0], axis=0)
    m = np.isfinite(want)
    assert np.allclose(got[0, 0][m], want[m], atol=0)


def test_apply_pixel_udf(spark, dense):
    """stream_apply_pixel analog (src/stream_apply_pixel.h:11-28): per-cell
    band function via one mapInPandas scan (no shuffle at all)."""
    c, _ = cube_from_dense(spark, dense)

    def ndvi(cols):
        with np.errstate(all="ignore"):
            return {"nd": (cols["B2"] - cols["B1"]) / (cols["B2"] + cols["B1"])}

    got = c.apply_pixel_udf(ndvi, ["nd"]).collect_dense()
    with np.errstate(all="ignore"):
        want = (dense[1] - dense[0]) / (dense[1] + dense[0])
    m = np.isfinite(want)
    assert np.allclose(got[0][m], want[m], atol=0)
    # no shuffle: plan has no Exchange before the Python evaluation
    plan = c.apply_pixel_udf(ndvi, ["nd"]).df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInPandas")[-1]
    # keep_bands mirrors the reference flag
    kb = c.apply_pixel_udf(ndvi, ["nd"], keep_bands=True)
    assert kb.bands == ("B1", "B2", "nd")


def test_reduce_space_udf(spark, dense):
    """stream_reduce_space analog (src/stream_reduce_space.h:11-25): one
    user-defined reduction per time slice over all space."""
    c, _ = cube_from_dense(spark, dense)

    def spatial_spread(cols, iy, ix):
        with np.errstate(all="ignore"):
            return {"B1_spread": np.nanmax(cols["B1"]) - np.nanmin(cols["B1"])}

    r = c.reduce_space_udf(spatial_spread, ["B1_spread"])
    assert (r.view.nx, r.view.ny) == (1, 1)
    got = r.collect_dense()
    with np.errstate(all="ignore"):
        want = np.nanmax(dense[0].reshape(NT, -1), axis=1) - np.nanmin(
            dense[0].reshape(NT, -1), axis=1
        )
    m = np.isfinite(want)
    assert np.allclose(got[0, m, 0, 0], want[m], atol=0)




def test_crop_map_snap_modes(spark, dense):
    """crop_map snap modes near/in/out (src/crop.h:98-123): continuous index
    bounds x_min=(left-ref.left)/dx, x_max=-1+(right-ref.left)/dx; near =
    half-away-from-zero round, in = ceil/floor, out = floor/ceil."""
    c, v = cube_from_dense(spark, dense)
    # view: left=0, dx=1 -> left=1.3, right=3.2 gives x_min=1.3, x_max=2.2
    left, right = 1.3, 3.2
    bottom, top = float(v.bottom), float(v.top)
    out = c.crop_map(left, right, bottom, top, snap="out")
    near = c.crop_map(left, right, bottom, top, snap="near")
    inn = c.crop_map(left, right, bottom, top, snap="in")
    # near: [round(1.3), round(2.2)] = [1, 2]; in: [2, 2]; out: [1, 3]
    assert (near.view.nx, inn.view.nx, out.view.nx) == (2, 1, 3)
    assert near.view.left == 1.0 and inn.view.left == 2.0 and out.view.left == 1.0
    # default is the reference's default: near
    assert c.crop_map(left, right, bottom, top).view.nx == 2
    # values survive the crop (spot check against the dense array)
    got = near.collect_dense()
    want = dense[:, :, :, 1:3]
    m = np.isfinite(want)
    assert (m == np.isfinite(got)).all()
    assert np.allclose(got[m], want[m], atol=0)
