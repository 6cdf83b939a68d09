"""ST-join exactness (every join method) + cube build vs numpy oracle for
every temporal aggregation method and both resamplings."""

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
    """Every join method equals the oracle. The input adds footprints with
    a NULL edge, a NaN on each edge or only NaN edges: they join no chunk
    under any method (st_join keeps finite footprints only; Spark orders
    NaN above every double, so a NaN right or top edge would otherwise pass
    the bbox test)."""
    import pyspark.sql.functions as F

    v = make_view(left=-55, right=55, bottom=-45, top=45, nx=440, ny=360,
                  chunk_size=(4, 120, 110))
    g = ChunkGrid(v)
    want = oracle_np.st_assignment(pdf, g)
    nan = F.lit(float("nan"))
    bad = {
        "null_left": {"left": F.lit(None).cast("double")},
        "null_top": {"top": F.lit(None).cast("double")},
        "nan_left": {"left": nan},
        "nan_right": {"right": nan},
        "nan_bottom": {"bottom": nan},
        "nan_top": {"top": nan},
        "all_nan": {"left": nan, "right": nan, "bottom": nan, "top": nan},
    }
    imgs = images
    for k, cols in bad.items():
        imgs = imgs.unionByName(images.limit(1).withColumns({"image_id": F.lit(k), **cols}))
    for method in ("broadcast", "cells", "s2", "hex"):
        got = sorted(
            (r["image_id"], r["chunk_id"])
            for r in stjoin.assignment(imgs, g, method=method).collect()
        )
        assert got == want, f"method={method}"


@pytest.mark.parametrize("srs", ["EPSG:6933", "EPSG:4087", "EPSG:3857"])
def test_chunks_df_separable_rects(spark, srs):
    """A separable view's 4326 chunk rectangles come from its per-axis
    edges: bit-equal to the per-chunk bbox_to_wgs84 (and, for 3857, to
    srs.x_to_lon / srs.y_to_lat of the chunk edges)."""
    from gdalcubes_cpp_spark import srs as S

    (l, r), (b, t) = S.from_wgs84(np.array([-20.0, 20.0]), np.array([-10.0, 15.0]), srs)
    v = CubeView.create(srs=srs, left=float(l), right=float(r), bottom=float(b),
                        top=float(t), nx=50, ny=37, t0="2020-01-01", nt=3,
                        dt="P1M", chunk_size=(2, 16, 16))
    g = ChunkGrid(v)
    got = stjoin.chunks_df(spark, g).orderBy("chunk_id").toPandas()
    assert len(got) == g.count
    for row in got.itertuples():
        bd = g.chunk_bounds(row.chunk_id)
        want = S.bbox_to_wgs84(bd["left"], bd["right"], bd["bottom"], bd["top"], srs)
        if srs == "EPSG:3857":
            want = (S.x_to_lon(bd["left"]), S.x_to_lon(bd["right"]),
                    S.y_to_lat(bd["bottom"]), S.y_to_lat(bd["top"]))
        assert (row.ch_left, row.ch_right, row.ch_bottom, row.ch_top) == want


def test_non_utc_driver_zone_keeps_chunk_times(spark, images, pdf):
    """Chunk and slot times are session-zone SQL, not datetimes converted
    in the driver process's own zone: under TZ=America/New_York (session
    zone UTC) chunks_df's bounds still equal grid.chunk_bounds, an image at
    02:00 on a chunk's first day still joins it, and which_min reports the
    slot start the oracle gives."""
    import os
    import time

    from pyspark.sql import functions as F

    v = make_view(t0="2020-05-01", t1="2020-07-31", chunk_size=(1, 32, 32))
    g = ChunkGrid(v)
    sub = pdf.assign(ts=pdf["ts"].dt.normalize() + np.timedelta64(2, "h"))
    imgs = images.withColumn("ts", F.date_trunc("day", "ts") + F.expr("INTERVAL 2 HOURS"))
    vf = lambda i: (float(int(i[3:]) % 7),)
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        got = stjoin.chunks_df(spark, g).selectExpr(
            "chunk_id", "CAST(ch_t_start AS STRING) AS s", "CAST(ch_t_end AS STRING) AS e"
        ).orderBy("chunk_id").collect()
        pairs = sorted((r["image_id"], r["chunk_id"])
                       for r in stjoin.assignment(imgs, g).collect())
        red = build_cube(imgs, v, bands=("B1",), value_fn=vf).reduce_time(
            [("which_min", "B1")]).collect_dense()
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    for r in got:
        bd = g.chunk_bounds(r["chunk_id"])
        assert (r["s"], r["e"]) == (str(bd["t_start"]), str(bd["t_end"]))
    assert pairs == oracle_np.st_assignment(sub, g)
    dense = oracle_np.dense_cube(sub, v, nb=1, value_fn=vf)[0]
    has = np.isfinite(dense).any(axis=0)
    first = np.nanargmin(np.where(np.isfinite(dense), dense, np.inf), axis=0)
    num = np.vectorize(lambda k: float(v.datetime_at(int(k)).strftime("%Y%m%d%H%M%S")))
    assert has.any()
    np.testing.assert_array_equal(red[0, 0][has], num(first[has]))
    assert np.isnan(red[0, 0][~has]).all()


def test_stjoin_leap_day_yearly_axis(spark):
    """A P1Y axis from Feb 29 steps in 12-month units whose day clamps to
    Feb 28 in common years (2020-02-29, 2021-02-28, ...), as
    view.add_duration does; images on and around those edges land in the
    chunks the numpy oracle names."""
    import pandas as pd

    pdf = synth.images_pdf(N)
    edges = ["2020-02-28", "2020-02-29", "2021-02-28", "2021-03-01",
             "2022-02-28T12:00", "2023-02-28", "2023-03-01", "2021-07-15"]
    pdf["ts"] = pd.to_datetime([edges[i % len(edges)] for i in range(len(pdf))],
                               format="ISO8601")
    images = spark.createDataFrame(pdf)
    v = make_view(left=-55, right=55, bottom=-45, top=45, nx=440, ny=360,
                  t0="2020-02-29", t1=None, nt=3, dt="P1Y",
                  chunk_size=(1, 120, 110))
    g = ChunkGrid(v)
    want = oracle_np.st_assignment(pdf, g)
    assert {cid // (g.ncx * g.ncy) for _iid, cid in want} == {0, 1, 2}
    for method in ("broadcast", "cells"):
        got = sorted(
            (r["image_id"], r["chunk_id"])
            for r in stjoin.assignment(images, g, method=method).collect()
        )
        assert got == want, f"method={method}"


AGGS = ["mean", "min", "max", "first", "last", "median", "count_values",
        "count_images", "none"]


@pytest.mark.parametrize("layout", oracle_np.CHUNK_LAYOUTS)
@pytest.mark.parametrize("agg", AGGS)
def test_build_aggregations_exact(spark, images, pdf, agg, layout):
    """Every aggregation == the numpy oracle, on each chunk layout of
    oracle_np.CHUNK_LAYOUTS (the per-chunk slice aggregations differ by
    layout)."""
    v = oracle_np.relayout(make_view(aggregation=agg), layout)
    got = build_cube(images, v).collect_dense()
    want = oracle_np.dense_cube(pdf, v, resampling="near", aggregation=agg)
    oracle_np.assert_dense_equal(got, want)
    assert np.isfinite(got).any()
    # a value_fn that gives every third image a NaN B1: those values leave
    # the scan as NULL, so no aggregation sees or returns a NaN
    vf = lambda i: (np.nan if int(i[3:]) % 3 == 0 else float(int(i[3:]) % 17),
                    1.0 + int(i[3:]) % 5)
    cube = build_cube(images, v, value_fn=vf)
    assert cube.df.where("isnan(B1) OR isnan(B2)").count() == 0
    got = cube.collect_dense()
    oracle_np.assert_dense_equal(got, oracle_np.dense_cube(pdf, v, aggregation=agg, value_fn=vf))
    if not agg.startswith("count_"):
        assert np.isnan(got[0]).sum() > np.isnan(got[1]).sum()


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
    # a view far away from every image footprint, and one before every
    # image's time -> zero rows, for the slice aggregations too
    for agg in ("mean", "count_values", "count_images", "none"):
        for v in (make_view(left=150, right=152, bottom=-80, top=-78, aggregation=agg),
                  make_view(t0="2015-01-01", t1="2015-12-31", aggregation=agg)):
            assert build_cube(images, v).df.count() == 0, agg


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
    """Off-label timestamps DROP (exact-label slot assignment,
    src/view.h:825-881 index_at_datetime)."""
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
    got = build_cube(imgs, v, bands=("B1",), value_fn=vf).collect_dense()
    assert np.array_equal(np.isnan(got), np.isnan(want))
    assert (got[np.isfinite(want)] == want[np.isfinite(want)]).all()


@pytest.mark.parametrize("layout", ["chunk_kernel", "cell_long"])
def test_first_last_numeric_id_order(spark, layout):
    """first/last order by NUMERIC image id ((len, str) ordering), not
    lexicographic: '2' < '10' numerically though '10' < '2' as strings
    (r1 ADVICE: non-padded ids silently flipped the winner), on two chunk
    layouts (oracle_np.CHUNK_LAYOUTS)."""
    import pandas as pd

    rows = [
        ("10", pd.Timestamp("2020-01-02"), 0.0, 4.0, 0.0, 4.0),
        ("2", pd.Timestamp("2020-01-02"), 0.0, 4.0, 0.0, 4.0),
    ]
    imgs = _meta_imgs(spark, rows)
    vf = lambda i: (float(int(i)),)
    for agg, want in (("first", 2.0), ("last", 10.0), ("none", 10.0)):
        v = CubeView.create(
            left=0, right=4, bottom=0, top=4, nx=4, ny=4,
            t0="2020-01-01", nt=2, dt="P1M", aggregation=agg, chunk_size=(2, 4, 4),
        )
        v = oracle_np.relayout(v, layout)
        got = build_cube(imgs, v, bands=("B1",), value_fn=vf).collect_dense()
        vals = got[0, 0][np.isfinite(got[0, 0])]
        assert vals.size and (vals == want).all(), agg


@pytest.mark.parametrize("chunk_nt,want", [(1, [15.0, 30.0]), (2, [15.0, 30.0])])
def test_mid_month_t0_keeps_images_in_their_chunk(spark, chunk_nt, want):
    """On a P1M axis starting mid-month, an image lands in its calendar
    slot, and a chunk's [t_start, t_end] (find_range_st, both ends
    inclusive) runs over its slots' calendar months: 03-05 and 03-20 land
    in slot 0, 04-10 in slot 1, whatever chunk_nt is. (A window from the
    slot day, 03-15, dropped 03-05, and 04-10 with it at chunk_nt=1.)"""
    import pandas as pd

    rows = [
        ("1", pd.Timestamp("2020-03-05"), 0.0, 4.0, 0.0, 4.0),
        ("2", pd.Timestamp("2020-03-20"), 0.0, 4.0, 0.0, 4.0),
        ("3", pd.Timestamp("2020-04-10"), 0.0, 4.0, 0.0, 4.0),
    ]
    v = CubeView.create(left=0, right=4, bottom=0, top=4, nx=4, ny=4,
                        t0="2020-03-15", nt=2, dt="P1M", aggregation="mean",
                        chunk_size=(chunk_nt, 4, 4))
    vf = lambda i: (float(int(i)) * 10.0,)
    got = build_cube(_meta_imgs(spark, rows), v, bands=("B1",), value_fn=vf).collect_dense()
    oracle_np.assert_dense_equal(got, oracle_np.dense_cube(
        pd.DataFrame(rows, columns=["image_id", "ts", "left", "right", "bottom", "top"]),
        v, nb=1, value_fn=vf))
    np.testing.assert_array_equal(got[0, :, 0, 0], want)
