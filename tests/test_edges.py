"""Adversarial edge cases: boundaries, empties, labeled-axis reductions."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdalcubes_cpp_spark.sources.collection import empty_cube
from gdalcubes_cpp_spark.view import CubeView

from .test_ops import cube_from_dense, make_dense


def test_empty_cube_through_operators(spark):
    v = CubeView.create(left=0, right=8, bottom=0, top=8, nx=8, ny=8,
                        t0="2020-01-01", nt=4, dt="P1D")
    c = empty_cube(spark, v, bands=("B1",))
    assert c.reduce_time([("mean", "B1")]).df.count() == 0
    assert c.window_time((1, 1), reducers=[("mean", "B1")]).df.count() == 0
    assert c.fill_time("linear").df.count() == 0
    assert c.aggregate_time(fact=2, func="max").df.count() == 0
    assert c.crop(it_range=(1, 3)).df.count() == 0
    assert c.fill_space_knn(k=1).df.count() == 0


def test_crop_out_of_range_is_empty(spark):
    dense = make_dense(seed=9)
    c, v = cube_from_dense(spark, dense)
    assert c.crop(it_range=(v.nt + 5, v.nt + 7)).df.count() == 0
    assert c.crop(ix_range=(v.nx, v.nx + 2)).df.count() == 0


def test_crop_keeps_month_end_slot_times(spark):
    """Cropping a t0 = Jan 31 P1M axis at slot 1 keeps the uncropped slot
    rule: every slot time (Python and SQL), every chunk's t_end and every
    calendar bucket. A restart at Feb 29 that clamps from day 29 would put
    slot 1 on Mar 29 instead of Mar 31."""
    from datetime import datetime

    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.build import build_cube

    v = CubeView.create(left=-12, right=-8, bottom=18, top=22, nx=20, ny=20,
                        t0="2020-01-31", nt=11, dt="P1M", aggregation="mean",
                        chunk_size=(2, 10, 10))
    c = empty_cube(spark, v, bands=("B1",))
    cr = c.crop(it_range=(1, 11)).view
    slots = [v.datetime_at(k) for k in range(1, 11)]
    assert not cr.labeled and cr.datetime_at(1) == datetime(2020, 3, 31)
    assert [cr.datetime_at(k) for k in range(cr.nt)] == slots
    assert cr.t_end == v.t_end and CubeView.from_json(cr.to_json()) == cr
    g = ChunkGrid(cr)
    sql = spark.range(cr.nt).selectExpr(f"{g.time_at_sql('id')} AS t").toPandas()
    assert [t.to_pydatetime() for t in sql["t"]] == slots
    # a chunk's window ends where the calendar month of uncropped slot k starts
    assert [g.chunk_bounds(g.chunk_id(ct, 0, 0))["t_end"] for ct in range(g.nct)] == \
        [datetime(2020, k + 1, 1) for k in range(3, 12, 2)]
    # calendar buckets: mid-March is cropped slot 1, as it is uncropped slot 2
    assert cr.time_index_of(datetime(2020, 3, 15)) == 1
    assert c.crop(it_range=(1, 11)).slice_time("2020-03-15").view.t0 == datetime(2020, 3, 31)
    # a build on the cropped view keeps the images that are not at slot
    # times (here 6 h after one), as the crop of the uncropped build does
    at = ", ".join(f"TIMESTAMP '{t.isoformat(' ')}' + INTERVAL 6 HOURS" for t in slots)
    imgs = synth.images_df(spark, 150).withColumn(
        "ts", F.expr(f"element_at(array({at}), CAST(pmod(hash(image_id), 10) + 1 AS INT))"))
    cols = ["it", "iy", "ix", "B1", "B2"]

    def rows(df):
        return df.select(*cols).toPandas().sort_values(cols[:3]).reset_index(drop=True)

    want = rows(build_cube(imgs, v).crop(it_range=(1, 11)).df)
    assert len(want) > 0
    pd.testing.assert_frame_equal(rows(build_cube(imgs, cr).df), want)
    # a crop whose restart clamps from its own day stays as it was
    assert c.crop(it_range=(0, 11)).view == v
    v1 = CubeView.create(left=0, right=8, bottom=0, top=8, nx=8, ny=8,
                         t0="2020-01-01", nt=6, dt="P1M")
    cr1 = empty_cube(spark, v1, bands=("B1",)).crop(it_range=(1, 6)).view
    assert (cr1.t0, cr1.t_day) == (datetime(2020, 2, 1), 0)


def test_month_end_axis_chunk_windows(spark):
    """A t0 = Jan 31 P1M axis buckets images by calendar month, so its
    cells, count slices and st_join pairs are those of the t0 = Jan 1 axis
    over the same months, whatever chunk_nt is: a chunk's (and a part
    block's) image window is the calendar months of its slots, not [the
    clamped day of its first slot, ...), which dropped the images dated
    before that day (cells came out only in the odd slots at chunk_nt=2)."""
    from datetime import datetime

    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.operators.stjoin import assignment

    imgs = synth.images_df(spark, 150).cache()

    def view(t0, chunk_nt, agg):
        return CubeView.create(left=-12, right=-8, bottom=18, top=22, nx=80, ny=80,
                               t0=t0, nt=11, dt="P1M", aggregation=agg,
                               chunk_size=(chunk_nt, 40, 40))

    def pairs(v):
        return sorted((r["image_id"], r["chunk_id"])
                      for r in assignment(imgs, ChunkGrid(v)).collect())

    want = {agg: build_cube(imgs, view("2020-01-01", 2, agg)).collect_dense()
            for agg in ("mean", "count_images")}
    assert all(np.isfinite(want["mean"][0, it]).any() for it in range(11))
    for chunk_nt in (1, 2, 3):
        for agg, w in want.items():
            got = build_cube(imgs, view("2020-01-31", chunk_nt, agg)).collect_dense()
            np.testing.assert_array_equal(got, w)
        assert pairs(view("2020-01-31", chunk_nt, "mean")) == \
            pairs(view("2020-01-01", chunk_nt, "mean"))
    g = ChunkGrid(view("2020-01-31", 2, "mean"))
    per = g.ncy * g.ncx
    assert (g.block_bounds(per, 2 * per)["t_start"], g.chunk_bounds(per)["t_end"]) == \
        (datetime(2020, 3, 1), datetime(2020, 5, 1))
    imgs.unpersist()


def test_labeled_axis_reduce_which(spark):
    """which_min on a labeled (irregular) time axis must use the label
    datetimes for the numeric output."""
    dense = make_dense(seed=13)
    c, v = cube_from_dense(spark, dense)
    sel = c.select_time([1, 4, 6])
    red = sel.reduce_time([("which_min", "B1")])
    got = red.collect_dense()
    sub = dense[0][[1, 4, 6]]
    labels = [v.datetime_at(i) for i in (1, 4, 6)]
    for iy in range(dense.shape[2]):
        for ix in range(dense.shape[3]):
            col = sub[:, iy, ix]
            if np.isfinite(col).any():
                k = int(np.nanargmin(col))
                want = float(labels[k].strftime("%Y%m%d%H%M%S"))
                assert got[0, 0, iy, ix] == want, (iy, ix)


def test_query_points_on_boundaries(spark):
    dense = make_dense(seed=15)
    c, v = cube_from_dense(spark, dense)
    from gdalcubes_cpp_spark.vector.queries import query_points

    pts = pd.DataFrame({
        "point_id": [1, 2, 3],
        # x == right edge -> ix == nx -> out; x == left edge -> ix = 0 in
        "x": [float(v.nx), 0.0, 2.0],
        "y": [2.0, float(v.ny), 2.0],   # y == top edge -> iy = 0 in
        "t": pd.to_datetime(["2020-01-02"] * 3),
    })
    out = query_points(c, spark.createDataFrame(pts)).toPandas()
    assert 1 not in set(out["point_id"])  # right edge is exclusive
    for pid, iy, ix in [(2, 0, 0), (3, int((v.top - 2.0) / v.dy), 2)]:
        sel = out[out["point_id"] == pid]
        if len(sel):
            assert (sel["iy"] == iy).all() and (sel["ix"] == ix).all()


def test_extract_geom_outside_view(spark):
    dense = make_dense(seed=17)
    c, _ = cube_from_dense(spark, dense)
    from gdalcubes_cpp_spark.vector.queries import extract_geom

    polys = pd.DataFrame({"fid": [1], "wkt": ["POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))"]})
    assert extract_geom(c, spark.createDataFrame(polys)).count() == 0


def test_image_touching_view_edge_joins_but_contributes_nothing(spark):
    """A footprint touching the view boundary from outside joins (strict-<
    disjoint test: touching intersects) but no cell center is covered."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.operators.stjoin import assignment

    v = CubeView.create(left=0, right=4, bottom=0, top=4, nx=8, ny=8,
                        t0="2020-01-01", nt=2, dt="P1M",
                        aggregation="mean", chunk_size=(2, 8, 8))
    row = synth.images_pdf(1).iloc[0:1].copy()
    row["left"], row["right"] = -1.0, 0.0   # touches view left edge
    row["bottom"], row["top"] = 1.0, 2.0
    row["ts"] = pd.Timestamp("2020-01-15")
    imgs = spark.createDataFrame(row)
    assert assignment(imgs, ChunkGrid(v)).count() == 1  # touching -> joins
    assert build_cube(imgs, v).df.count() == 0
