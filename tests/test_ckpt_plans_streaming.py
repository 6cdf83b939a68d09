"""Resumable checkpointed runs, JSON plans, streaming ingestion."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdalcubes_cpp_spark import ckpt, synth
from gdalcubes_cpp_spark.grid import ChunkGrid
from gdalcubes_cpp_spark.operators.build import build_cube
from gdalcubes_cpp_spark.plans.jsonplan import plan_from_json
from gdalcubes_cpp_spark.view import CubeView


def view_small(**kw):
    args = dict(left=-12, right=-8, bottom=18, top=22, nx=40, ny=40,
                t0="2020-01-01", t1="2020-12-31", dt="P1M",
                aggregation="mean", resampling="near", chunk_size=(4, 20, 20))
    args.update(kw)
    return CubeView.create(**args)


def test_checkpointed_run_and_resume(spark, tmp_path):
    v = view_small()
    g = ChunkGrid(v)
    imgs = synth.images_df(spark, 150)
    cells = build_cube(imgs, v).with_chunk_id()
    sink = str(tmp_path / "sink")

    m1 = ckpt.run_partitioned(cells, sink, g.count, n_parts=4)
    assert m1["parts_run"] == 4 and m1["parts_skipped"] == 0
    rows1 = spark.read.parquet(sink).count()
    lin = ckpt.read_lineage(spark, sink).toPandas()
    assert len(lin) == 4
    assert lin["n_rows"].sum() == rows1

    # resume: everything skips, output unchanged
    m2 = ckpt.run_partitioned(cells, sink, g.count, n_parts=4)
    assert m2["parts_run"] == 0 and m2["parts_skipped"] == 4
    assert spark.read.parquet(sink).count() == rows1

    # simulate a dead part: drop one lineage row -> only that part re-runs
    lin2 = lin[lin["part_id"] != 2]
    import shutil

    shutil.rmtree(sink + "/_lineage")
    spark.createDataFrame(lin2, schema=ckpt.LINEAGE_SCHEMA).write.parquet(sink + "/_lineage")
    m3 = ckpt.run_partitioned(cells, sink, g.count, n_parts=4, attempt=2)
    assert m3["parts_run"] == 1 and m3["parts_skipped"] == 3
    assert spark.read.parquet(sink).count() == rows1  # idempotent overwrite

    # digests stable across attempts
    lin3 = ckpt.read_lineage(spark, sink).toPandas().set_index("part_id")
    assert lin3.loc[2, "digest"] == lin.set_index("part_id").loc[2, "digest"]


def test_json_plan_roundtrip(spark):
    v = view_small(nx=20, ny=20, chunk_size=(4, 10, 10))
    plan = {
        "source": {"kind": "formula", "view": json.loads(v.to_json()),
                   "bands_exprs": {"B1": "(it*7 + iy*3 + ix*5) % 11"}},
        "ops": [
            {"op": "apply_pixel", "exprs": {"B2": "B1 * 2"}, "keep_bands": True},
            {"op": "reduce_time", "reducers": [["mean", "B1"], ["max", "B2"]]},
        ],
    }
    cube = plan_from_json(spark, json.dumps(plan))
    assert cube.bands == ("B1_mean", "B2_max")
    got = cube.collect_dense()
    assert np.isfinite(got).all()
    # B2_max = 2 * max over it of B1 formula
    it = np.arange(v.nt)[:, None, None]
    iy = np.arange(v.ny)[None, :, None]
    ix = np.arange(v.nx)[None, None, :]
    b1 = (it * 7 + iy * 3 + ix * 5) % 11
    assert np.allclose(got[1, 0], 2 * b1.max(axis=0))
    assert np.allclose(got[0, 0], b1.mean(axis=0))


def _stream_twice(spark, tmp_path, v, pdf):
    """Fold pdf's two halves as two microbatches; returns the finalized
    cube and the (sink, checkpoint, input) paths."""
    from gdalcubes_cpp_spark.streaming.ingest import finalize_state, incremental_build

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(pdf.iloc[:60]).write.mode("overwrite").parquet(in_dir)
    sink = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    incremental_build(spark, in_dir, v, sink, cp).awaitTermination(120)
    spark.createDataFrame(pdf.iloc[60:]).write.mode("append").parquet(in_dir)
    incremental_build(spark, in_dir, v, sink, cp).awaitTermination(120)
    return finalize_state(spark, sink, v).collect_dense(), (sink, cp, in_dir)


def test_streaming_incremental_build(spark, tmp_path):
    """Two microbatches of images folded incrementally == one batch build."""
    from gdalcubes_cpp_spark.streaming.ingest import finalize_state, incremental_build

    pdf = synth.images_pdf(120)
    # count_values: each batch zero-fills the slices its images land in;
    # the additive merge must keep the union of those zeros
    cv = view_small(aggregation="count_values")
    got, _ = _stream_twice(spark, tmp_path / "cv", cv, pdf)
    want = build_cube(spark.createDataFrame(pdf), cv).collect_dense()
    assert (got == 0).any()
    np.testing.assert_array_equal(got, want)

    v = view_small(aggregation="mean")
    got, (sink, cp, in_dir) = _stream_twice(spark, tmp_path, v, pdf)
    want = build_cube(spark.createDataFrame(pdf), v).collect_dense()
    assert (np.isnan(got) == np.isnan(want)).all()
    m = np.isfinite(want)
    assert np.allclose(got[m], want[m], atol=1e-9)

    # -- exactly-once under replay: lose the checkpoint entirely and rerun.
    # The stream reprocesses every file as batch 0; the fold must SKIP it
    # (manifest.last_batch_id >= 0) and leave the state bit-identical.
    import json as _json
    import shutil

    man_before = _json.load(open(f"{sink}/manifest.json"))
    assert man_before["last_batch_id"] >= 1  # two batches merged
    shutil.rmtree(cp)
    q3 = incremental_build(spark, in_dir, v, sink, cp)
    q3.awaitTermination(120)
    man_after = _json.load(open(f"{sink}/manifest.json"))
    assert man_after == man_before  # no double-merge, no version bump
    got2 = finalize_state(spark, sink, v).collect_dense()
    assert (np.isnan(got2) == np.isnan(got)).all()
    m2 = np.isfinite(got)
    assert (got2[m2] == got[m2]).all()

    # -- checkpoint loss with NEW files bundled into the replayed batch
    # (r2 ADVICE): after rm -rf checkpoint, batch 0 re-lists ALL files —
    # the 2 already-merged parquet writes plus a fresh one. The file-keyed
    # manifest must merge exactly the new file (a batch_id skip would
    # silently drop it; a full merge would double-count the old ones).
    pdf_all = synth.images_pdf(150)
    spark.createDataFrame(pdf_all.iloc[120:]).write.mode("append").parquet(in_dir)
    shutil.rmtree(cp)
    q4 = incremental_build(spark, in_dir, v, sink, cp)
    q4.awaitTermination(120)
    got3 = finalize_state(spark, sink, v).collect_dense()
    want3 = build_cube(spark.createDataFrame(pdf_all), v).collect_dense()
    assert (np.isnan(got3) == np.isnan(want3)).all()
    m3 = np.isfinite(want3)
    assert np.allclose(got3[m3], want3[m3], atol=1e-9)


def test_read_chunks_partition_pruning(spark, tmp_path):
    """A cropped re-read must prune chunk partitions at the file-source level
    (PartitionFilters in the scan) and match the in-memory crop."""
    import numpy as np

    from gdalcubes_cpp_spark.sources.collection import read_chunks, write_cube

    from .test_ops import cube_from_dense, make_dense

    dense = make_dense(seed=21)
    c, v = cube_from_dense(spark, dense)
    path = str(tmp_path / "cube")
    write_cube(c, path)

    cropped = read_chunks(spark, path, ix_range=(0, 3), iy_range=(0, 3), it_range=(0, 4))
    plan = cropped.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "chunk_id" in plan
    got = cropped.collect_dense()
    want = dense[:, 0:4, 0:3, 0:3]
    m = np.isfinite(want)
    assert (m == np.isfinite(got)).all()
    assert np.allclose(got[m], want[m], atol=0)


def test_flagship_plan_single_narrow_exchange(spark):
    """Plan-shape regression guard for the flagship mean build: the
    ONLY exchange carries narrow partial-aggregate rows — image bytes are
    decoded at the scan and never shuffle. (PLANS.md 'cube build
    (mean/min/max/first/last/median)' — this pins it against future
    refactors.)"""
    import io
    import re
    from contextlib import redirect_stdout

    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.synth import images_df
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=40, ny=40,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(8, 20, 20),
    )
    cube = build_cube(images_df(spark, 200), v, bands=("B1", "B2"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        cube.df.explain("formatted")
    plan = buf.getvalue()
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) == 1, plan
    ins = [m.group(1) for m in re.finditer(r"\(\d+\) Exchange\n(Input.*)", plan)]
    assert ins and "bytes" not in ins[0]


def test_json_plan_full_registry(spark, tmp_path):
    """r4 VERDICT #5 — registry parity with cube_factory
    (src/cube_factory.cpp:86+): one pipeline spec exercising join_bands
    (nested sub-plan), window_space, filter_geom, select/rename, masks at
    the source, and the extract/sink terminals."""
    from gdalcubes_cpp_spark.plans.jsonplan import run_plan

    v = view_small(nx=20, ny=20, chunk_size=(4, 10, 10))
    vj = json.loads(v.to_json())
    base = {"source": {"kind": "formula", "view": vj,
                       "bands_exprs": {"B1": "CAST((it + iy + ix) % 7 AS DOUBLE)"}}}
    other = {"source": {"kind": "formula", "view": vj,
                        "bands_exprs": {"B1": "CAST(it AS DOUBLE)"}}}
    plan = dict(base)
    plan["ops"] = [
        {"op": "join_bands", "others": [other]},           # X1_B1, X2_B1
        {"op": "rename_bands", "mapping": {"X1.B1": "A", "X2.B1": "T"}},
        {"op": "apply_pixel", "exprs": {"S": "A + T"}, "keep_bands": True},
        {"op": "select_bands", "bands": ["A", "S"]},
        {"op": "window_space", "window": [1, 1],
         "reducers": [["mean", "A"], ["max", "S"]]},
        {"op": "filter_geom",
         "wkt": "POLYGON ((-11.0 19.0, -9.0 19.0, -9.0 21.0, -11.0 21.0, -11.0 19.0))"},
        {"op": "reduce_time", "reducers": [["mean", "A_mean"], ["max", "S_max"]]},
    ]
    cube = run_plan(spark, plan)
    assert cube.bands == ("A_mean_mean", "S_max_max")
    n = cube.df.count()
    assert n > 0

    # extract terminal: inline features AND a vector file
    eplan = dict(base)
    eplan["extract"] = {"kind": "extract_geom", "features": [
        {"fid": 1, "wkt": "POLYGON ((-11.0 19.0, -10.0 19.0, -10.0 20.0, "
                          "-11.0 20.0, -11.0 19.0))"}]}
    got = run_plan(spark, eplan)
    assert got.count() > 0 and "fid" in got.columns

    from gdalcubes_cpp_spark.vector.features import write_geojson

    gj = str(tmp_path / "f.geojson")
    write_geojson(gj, [(1, eplan["extract"]["features"][0]["wkt"], {})])
    eplan2 = dict(base)
    eplan2["extract"] = {"kind": "zonal_statistics", "features_path": gj,
                         "stats": ["mean", "count"]}
    z = run_plan(spark, eplan2)
    assert z.count() > 0 and "B1_mean" in z.columns

    # sink terminals round-trip through the containers
    from gdalcubes_cpp_spark.sources.netcdf3 import read_netcdf_cube

    for sink in ({"kind": "netcdf", "path": str(tmp_path / "c3.nc")},
                 {"kind": "netcdf4", "path": str(tmp_path / "c4.nc"),
                  "deflate": 2}):
        splan = dict(base)
        splan["sink"] = sink
        p = run_plan(spark, splan)
        back = read_netcdf_cube(spark, p)
        ref = run_plan(spark, base)
        a, b = back.collect_dense(), ref.collect_dense()
        m = np.isfinite(b)
        assert np.array_equal(np.isnan(a), np.isnan(b)) and (a[m] == b[m]).all()

    # packed sink + chunks sink execute and land files
    splan = dict(base)
    splan["sink"] = {"kind": "packed", "path": str(tmp_path / "packed"),
                     "packing": {"type": "int16", "scale": [0.5],
                                 "offset": [0.0], "nodata": [-32768]}}
    import os
    assert os.path.exists(run_plan(spark, splan))
    splan["sink"] = {"kind": "chunks", "path": str(tmp_path / "chunks")}
    assert os.path.exists(run_plan(spark, splan) + "/cube.json")

    # masks ride the source spec
    mplan = {"source": {"kind": "synth", "n": 120, "view": vj,
                        "bands": ["B1"],
                        "mask": {"kind": "band", "channel": 1,
                                 "vmin": 0, "vmax": 9}},
             "ops": [{"op": "reduce_time", "reducers": [["count", "B1"]]}]}
    mc = run_plan(spark, mplan)
    assert mc.df.count() > 0

    # terminal exclusivity is enforced
    bad = dict(base)
    bad["extract"] = {"kind": "extract_geom", "features": []}
    bad["sink"] = {"kind": "chunks", "path": str(tmp_path / "x")}
    with pytest.raises(ValueError, match="one terminal"):
        run_plan(spark, bad)
