"""ST-join exactness (both physical strategies) + cube build vs numpy oracle
for every temporal aggregation method and both resamplings."""

import numpy as np
import pytest

from gdalcubes_cpp_spark import codecs, synth
from gdalcubes_cpp_spark.grid import ChunkGrid
from gdalcubes_cpp_spark.operators import stjoin
from gdalcubes_cpp_spark.operators.build import build_cube, warp_plane
from gdalcubes_cpp_spark.view import CubeView

from . import oracle_np

N = 200


def make_view(**kw):
    args = dict(
        left=-12, right=-8, bottom=18, top=22, nx=64, ny=64,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(4, 32, 32),
    )
    args.update(kw)
    return CubeView.create(**args)


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(synth.images_pdf(N)).cache()


@pytest.fixture(scope="module")
def pdf():
    return synth.images_pdf(N)


def test_stjoin_exact_both_methods(spark, images, pdf):
    v = make_view(left=-55, right=55, bottom=-45, top=45, nx=440, ny=360,
                  chunk_size=(4, 120, 110))
    g = ChunkGrid(v)
    want = oracle_np.st_assignment(pdf, g)
    for method in ("broadcast", "cells"):
        got = sorted(
            (r["image_id"], r["chunk_id"])
            for r in stjoin.assignment(images, g, method=method).collect()
        )
        assert got == want, f"method={method}"


@pytest.mark.parametrize("strategy", ["chunk_kernel", "cell_long", "salted"])
@pytest.mark.parametrize(
    "agg", ["mean", "min", "max", "first", "last", "median", "count_values", "count_images"]
)
def test_build_aggregations_exact(spark, images, pdf, agg, strategy):
    if strategy == "cell_long" and agg.startswith("count"):
        pytest.skip("plane-flip-to-0 semantics need the chunk kernel")
    if strategy == "salted" and agg not in ("mean", "min", "max", "count_values", "count_images"):
        pytest.skip("median/first/last need total order (not saltable)")
    v = make_view(aggregation=agg)
    cube = build_cube(images, v, strategy=strategy)
    got = cube.collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="near", aggregation=agg)
    oracle_np.assert_dense_equal(got, want)


def test_build_bilinear_psnr(spark, images, pdf):
    v = make_view(resampling="bilinear", aggregation="mean")
    got = build_cube(images, v).collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="bilinear", aggregation="mean")
    oracle_np.assert_dense_equal(got, want)  # same kernel both sides: exact
    # and against the NEAREST oracle the values are close (smoothness sanity)
    near = oracle_np.dense_cube(pdf, v, resampling="near", aggregation="mean")
    both = np.isfinite(got) & np.isfinite(near)
    assert codecs.psnr(got[both], near[both]) >= 15  # smoothness sanity only


def test_warp_plane_handcomputed():
    # 2x2 image over [0,2]x[0,2]: values [[1,2],[3,4]] (row 0 = top)
    plane = np.array([[1.0, 2.0], [3.0, 4.0]])
    xs = np.array([0.5, 1.5])
    ys = np.array([1.5, 0.5])  # top row first
    out = warp_plane(plane, (0, 2, 0, 2), xs, ys, "near")
    assert np.array_equal(out, [[1, 2], [3, 4]])
    # bilinear at exact centers = original values
    outb = warp_plane(plane, (0, 2, 0, 2), xs, ys, "bilinear")
    assert np.allclose(outb, [[1, 2], [3, 4]])
    # bilinear midpoint
    mid = warp_plane(plane, (0, 2, 0, 2), np.array([1.0]), np.array([1.0]), "bilinear")
    assert np.allclose(mid, [[2.5]])
    # outside -> NaN
    outn = warp_plane(plane, (0, 2, 0, 2), np.array([-0.1, 2.1]), np.array([1.0]), "near")
    assert np.isnan(outn).all()


def test_all_nan_chunk_emits_no_rows(spark, images):
    # a view far away from every image footprint -> zero rows
    v = make_view(left=150, right=152, bottom=-80, top=-78)
    cube = build_cube(images, v)
    assert cube.df.count() == 0


def test_caption_equality_roundtrip(spark, images):
    """caption survives the pipeline byte-equal (input_hint gate)."""
    v = make_view()
    g = ChunkGrid(v)
    joined = stjoin.st_join(images, g)
    got = joined.select("image_id", "caption").distinct().collect()
    lookup = dict(synth.images_pdf(N)[["image_id", "caption"]].itertuples(index=False))
    assert len(got) > 0
    for r in got:
        assert r["caption"] == lookup[r["image_id"]]


def _meta_imgs(spark, rows):
    """Metadata-only image rows for value_fn builds (no bytes)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "ts", "left", "right", "bottom", "top"])
        .assign(w=16, h=16)
    )


def test_labeled_axis_build_strategies_agree(spark):
    """Off-label timestamps DROP in both build strategies (exact-label slot
    assignment, src/view.h:825-881 index_at_datetime; r1 ADVICE: the two
    paths silently diverged for images between labels)."""
    import pandas as pd

    v = CubeView.create(
        left=0, right=4, bottom=0, top=4, nx=4, ny=4,
        time_labels=["2020-01-05", "2020-02-10", "2020-03-15"],
        aggregation="mean", chunk_size=(2, 4, 4),
    )
    rows = [
        ("1", pd.Timestamp("2020-01-05"), 0.0, 4.0, 0.0, 4.0),  # exact label
        ("2", pd.Timestamp("2020-01-20"), 0.0, 4.0, 0.0, 4.0),  # off-label
        ("3", pd.Timestamp("2020-02-10"), 0.0, 4.0, 0.0, 4.0),  # exact label
    ]
    imgs = _meta_imgs(spark, rows)
    vf = lambda i: (float(int(i)) * 10.0,)
    want = oracle_np.dense_cube(
        pd.DataFrame(rows, columns=["image_id", "ts", "left", "right", "bottom", "top"]),
        v, nb=1, value_fn=vf)
    # slot 0 = image 1 only (off-label image 2 dropped), slot 1 = image 3
    assert (want[0, 0][np.isfinite(want[0, 0])] == 10.0).all()
    assert (want[0, 1][np.isfinite(want[0, 1])] == 30.0).all()
    for strategy in ("chunk_kernel", "cell_long"):
        got = build_cube(imgs, v, bands=("B1",), value_fn=vf, strategy=strategy).collect_dense()
        assert np.array_equal(np.isnan(got), np.isnan(want)), strategy
        assert (got[np.isfinite(want)] == want[np.isfinite(want)]).all(), strategy


@pytest.mark.parametrize("strategy", ["chunk_kernel", "cell_long"])
def test_first_last_numeric_id_order(spark, strategy):
    """first/last order by NUMERIC image id ((len, str) ordering), not
    lexicographic: '2' < '10' numerically though '10' < '2' as strings
    (r1 ADVICE: non-padded ids silently flipped the winner)."""
    import pandas as pd

    rows = [
        ("10", pd.Timestamp("2020-01-02"), 0.0, 4.0, 0.0, 4.0),
        ("2", pd.Timestamp("2020-01-02"), 0.0, 4.0, 0.0, 4.0),
    ]
    imgs = _meta_imgs(spark, rows)
    vf = lambda i: (float(int(i)),)
    for agg, want in (("first", 2.0), ("last", 10.0)):
        v = CubeView.create(
            left=0, right=4, bottom=0, top=4, nx=4, ny=4,
            t0="2020-01-01", nt=2, dt="P1M", aggregation=agg, chunk_size=(2, 4, 4),
        )
        got = build_cube(imgs, v, bands=("B1",), value_fn=vf, strategy=strategy).collect_dense()
        vals = got[0, 0][np.isfinite(got[0, 0])]
        assert (vals == want).all(), f"{agg}/{strategy}"
