"""Resumable checkpointed runs, JSON plans, streaming ingestion."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdalcubes_cpp_spark import ckpt, synth
from gdalcubes_cpp_spark.grid import ChunkGrid
from gdalcubes_cpp_spark.operators.build import build_cube, default_decode
from gdalcubes_cpp_spark.sources.icetable import IceTable
from gdalcubes_cpp_spark.plans.jsonplan import plan_from_json
from gdalcubes_cpp_spark.view import CubeView


def view_small(**kw):
    args = dict(left=-12, right=-8, bottom=18, top=22, nx=40, ny=40,
                t0="2020-01-01", t1="2020-12-31", dt="P1M",
                aggregation="mean", resampling="near", chunk_size=(4, 20, 20))
    args.update(kw)
    return CubeView.create(**args)


def _rows(df):
    """The cells of ``df`` as a pandas frame in (it, iy, ix) order."""
    return df.toPandas().sort_values(["it", "iy", "ix"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def run_inputs(spark):
    """view_small, its 150 images and the rows of the uninterrupted build."""
    v = view_small()
    imgs = synth.images_df(spark, 150)
    return v, imgs, _rows(build_cube(imgs, v).with_chunk_id())


def _part_files(table, part):
    """The data files of ``part``'s live snapshot."""
    live = table.snapshot()["manifests"]
    snap = next(s for s in table.snapshots()
                if s["summary"]["part"] == part and s["manifests"][-1] in live)
    return [os.path.join(table.path, e["path"]) for e in table.entries(snap["manifests"][-1])]


def test_checkpointed_run_and_resume(spark, tmp_path, run_inputs):
    v, imgs, want = run_inputs
    sink = str(tmp_path / "sink")
    t = IceTable(sink)

    m1 = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    assert m1["parts_run"] == 4 and m1["parts_skipped"] == 0
    lin = [s["summary"] for s in t.snapshots()]
    assert [r["part"] for r in lin] == [0, 1, 2, 3]
    assert sum(r["rows"] for r in lin) == m1["rows"] == len(want)
    pd.testing.assert_frame_equal(_rows(t.read(spark)), want)

    # resume: everything skips, output unchanged
    m2 = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    assert m2["parts_run"] == 0 and m2["parts_skipped"] == 4
    assert len(t.snapshots()) == 4
    pd.testing.assert_frame_equal(_rows(t.read(spark)), want)

    # simulate a dead part: delete its data -> only that part re-runs
    for f in _part_files(t, 2):
        os.remove(f)
    m3 = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    assert m3["parts_run"] == 1 and m3["parts_skipped"] == 3
    pd.testing.assert_frame_equal(_rows(t.read(spark)), want)

    # digests stable across attempts
    p2 = [s["summary"] for s in t.snapshots() if s["summary"]["part"] == 2]
    assert [r["attempt"] for r in p2] == [1, 2]
    assert p2[0]["digest"] == p2[1]["digest"]


def _corrupt(path):
    """Rewrite a data file with one band value changed: a valid parquet
    file whose rows differ from what was committed."""
    tbl = pq.read_table(path)
    b1 = tbl.column("B1").to_pylist()
    b1[0] = (b1[0] or 0.0) + 1.0
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("B1"), "B1",
                                  pa.array(b1, pa.float64())), path)


def _garble(path):
    """Overwrite the start of the first data page with junk: the footer
    still parses, the page does not."""
    with open(path, "r+b") as f:
        f.seek(4)  # past the PAR1 magic
        f.write(b"\xff" * 64)


@pytest.mark.parametrize("fault", ["deleted", "corrupted", "garbled"])
def test_resume_reruns_damaged_part(spark, tmp_path, run_inputs, fault):
    """A committed part whose data file is gone, no longer matches its
    lineage digest or cannot be read runs again; the resumed table equals
    an uninterrupted run row for row."""
    v, imgs, want = run_inputs
    sink = str(tmp_path / "sink")
    t = IceTable(sink)
    ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    f = _part_files(t, 1)[0]
    {"deleted": os.remove, "corrupted": _corrupt, "garbled": _garble}[fault](f)
    if fault == "garbled":  # the rerun says why
        with pytest.warns(RuntimeWarning, match="part 1 .* unreadable.*FAILED_READ_FILE"):
            m = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    else:
        m = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    assert m["parts_run"] == 1 and m["parts_skipped"] == 3
    pd.testing.assert_frame_equal(_rows(t.read(spark)), want)


def test_resume_raises_other_read_errors(spark, tmp_path, monkeypatch, run_inputs):
    """An error reading a committed part that is not a file-read failure (a
    cancelled job, a lost executor) stops the resume; it does not re-run
    the part."""
    from pyspark.errors import PySparkException

    v, imgs, _ = run_inputs
    sink = str(tmp_path / "sink")
    ckpt.run_partitioned(imgs, v, sink, n_parts=4)

    def cancelled(df):
        raise PySparkException("Job 7 cancelled because SparkContext was shut down")

    monkeypatch.setattr(ckpt, "_stats", cancelled)
    with pytest.raises(PySparkException, match="cancelled"):
        ckpt.run_partitioned(imgs, v, sink, n_parts=4)


@pytest.mark.parametrize("crash", ["before_commit", "mid_commit"])
def test_resume_after_killed_commit(spark, tmp_path, monkeypatch, run_inputs, crash):
    """A run killed in part 2's append — after its data files are staged
    (before_commit), or after its snapshot is published but before the
    version pointer (mid_commit), which the resume adopts — resumes to the
    uninterrupted table, with part 2 committed once."""
    from gdalcubes_cpp_spark.sources import icetable

    v, imgs, want = run_inputs
    sink = str(tmp_path / "sink")
    t = IceTable(sink)

    class Killed(Exception):
        pass

    if crash == "before_commit":
        stats = icetable._file_stats

        def killed(path):
            if t.current_version() == 2:
                raise Killed
            return stats(path)

        monkeypatch.setattr(icetable, "_file_stats", killed)
    else:
        publish = IceTable._publish_pointer

        def killed(self, n):
            if n == 3:
                raise Killed
            publish(self, n)

        monkeypatch.setattr(IceTable, "_publish_pointer", killed)
    with pytest.raises(Killed):
        ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    monkeypatch.undo()
    assert t.current_version() == 2
    m = ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    assert m["parts_run"] == (2 if crash == "before_commit" else 1)
    assert sorted(s["summary"]["part"] for s in t.snapshots()) == [0, 1, 2, 3]
    pd.testing.assert_frame_equal(_rows(t.read(spark)), want)


def test_resume_with_other_parts_raises(spark, tmp_path, run_inputs):
    """Parts of another n_parts would overlap the committed chunk ranges."""
    v, imgs, want = run_inputs
    sink = str(tmp_path / "sink")
    ckpt.run_partitioned(imgs, v, sink, n_parts=2)
    with pytest.raises(ValueError, match="part"):
        ckpt.run_partitioned(imgs, v, sink, n_parts=4)
    pd.testing.assert_frame_equal(_rows(IceTable(sink).read(spark)), want)


def test_run_keeps_session_conf(spark, tmp_path, run_inputs):
    v, imgs, _ = run_inputs
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    ckpt.run_partitioned(imgs, v, str(tmp_path / "sink"), n_parts=2)
    assert spark.conf.get(key) == before


def test_parts_decode_each_image_once(spark, tmp_path, run_inputs):
    """Parts of whole time slabs (n_parts = nct) decode, summed, exactly the
    images one whole build decodes: each part's images are pre-filtered to
    its block before the scan."""
    v, imgs, want = run_inputs

    def counted(acc):
        def decode(data, fmt):
            acc.add(1)
            return default_decode(data, fmt)
        return decode

    whole = spark.sparkContext.accumulator(0)
    build_cube(imgs, v, decode_fn=counted(whole)).df.collect()
    parts = spark.sparkContext.accumulator(0)
    sink = str(tmp_path / "sink")
    ckpt.run_partitioned(imgs, v, sink, n_parts=ChunkGrid(v).nct, decode_fn=counted(parts))
    assert whole.value > 0
    assert parts.value == whole.value
    pd.testing.assert_frame_equal(_rows(IceTable(sink).read(spark)), want)


def test_block_bounds_month_end_axis():
    """On a t0 = Jan 31 P1M axis a block's time bounds are its chunks'
    [t_start, t_end], the calendar months of their slots: chunk 1 (slot 1,
    February) runs from Feb 1 to Mar 1, not from Feb 29 to Mar 31."""
    from datetime import datetime

    v = view_small(t0="2020-01-31", t1="2020-12-31", chunk_size=(1, 20, 20))
    g = ChunkGrid(v)
    per = g.ncy * g.ncx
    b = g.block_bounds(per, 2 * per)
    assert (b["t_start"], b["t_end"]) == (datetime(2020, 2, 1), datetime(2020, 3, 1))
    assert (b["left"], b["right"], b["bottom"], b["top"]) == (v.left, v.right, v.bottom, v.top)
    # one chunk row, then one chunk
    assert g.block_bounds(per, per + g.ncx)["bottom"] == g.chunk_bounds(per)["bottom"]
    assert g.block_bounds(per + 1, per + 2) == {
        k: g.chunk_bounds(per + 1)[k]
        for k in ("left", "right", "bottom", "top", "t_start", "t_end")}


def test_run_on_view_ending_past_9999(spark, tmp_path):
    """A view whose last chunk ends past year 9999: that block's time bound
    is open, and the parts equal one whole build."""
    v = view_small(t0="9999-01-01", t1="9999-12-30")
    g = ChunkGrid(v)
    assert g.block_bounds(g.count - 1, g.count)["t_end"] is None
    imgs = synth.images_df(spark, 150).withColumn("ts", F.expr("ts + make_interval(7979)"))
    want = _rows(build_cube(imgs, v).with_chunk_id())
    assert len(want) > 0
    sink = str(tmp_path / "sink")
    ckpt.run_partitioned(imgs, v, sink, n_parts=g.nct)
    pd.testing.assert_frame_equal(_rows(IceTable(sink).read(spark)), want)


def test_value_digest_tells_null_positions_apart(spark):
    schema = "it int, iy int, ix int, B1 double, B2 double"
    a = spark.createDataFrame([(0, 1, 2, None, 5.0)], schema)
    b = spark.createDataFrame([(0, 1, 2, 5.0, None)], schema)
    assert (a.agg(ckpt.value_digest(a)).first()[0]
            != b.agg(ckpt.value_digest(b)).first()[0])


def test_plan_mask_file_kind_raises():
    """Plans build masks from value, range and band specs; a file mask
    needs a collection-level mask table no plan source supplies, so its
    kind is unknown."""
    from gdalcubes_cpp_spark.operators.build import BandMask
    from gdalcubes_cpp_spark.plans.jsonplan import _mask_from_spec

    assert isinstance(_mask_from_spec({"kind": "band", "channel": 1, "values": [3]}),
                      BandMask)
    with pytest.raises(ValueError, match="unknown mask kind 'file'"):
        _mask_from_spec({"kind": "file"})
    with pytest.raises(ValueError, match="unknown mask kind 'file'"):
        _mask_from_spec({"kind": "file", "channel": 0, "values": [3]})


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
    # (every file is in the head snapshot's processed-file summary) and
    # leave the snapshot chain and the state bit-identical.
    import shutil

    t = IceTable(sink)
    chain_before = t.snapshots()
    assert len(chain_before) == 2  # two batches merged
    assert chain_before[-1]["summary"]["files"]
    shutil.rmtree(cp)
    q3 = incremental_build(spark, in_dir, v, sink, cp)
    q3.awaitTermination(120)
    assert t.snapshots() == chain_before  # no double-merge, no new snapshot
    got2 = finalize_state(spark, sink, v).collect_dense()
    assert (np.isnan(got2) == np.isnan(got)).all()
    m2 = np.isfinite(got)
    assert (got2[m2] == got[m2]).all()

    # -- checkpoint loss with NEW files bundled into the replayed batch
    # (r2 ADVICE): after rm -rf checkpoint, batch 0 re-lists ALL files —
    # the 2 already-merged parquet writes plus a fresh one. The file-keyed
    # fold must merge exactly the new file (a batch_id skip would
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


def test_streaming_fold_fails_on_unreadable_snapshot(spark, tmp_path):
    """A fold that cannot read its state snapshot fails the batch; it does
    not restart the state from the batch's own delta."""
    from pyspark.errors import StreamingQueryException

    from gdalcubes_cpp_spark.streaming.ingest import incremental_build

    v = view_small(aggregation="mean")
    _, (sink, cp, in_dir) = _stream_twice(spark, tmp_path, v, synth.images_pdf(120))
    t = IceTable(sink)
    head = t.current_version()
    with open(os.path.join(t.meta, f"snap-{head}.json"), "w") as fh:
        fh.write('{"snapshot_id": ')
    spark.createDataFrame(synth.images_pdf(150).iloc[120:]).write.mode("append").parquet(in_dir)
    with pytest.raises(StreamingQueryException):
        incremental_build(spark, in_dir, v, sink, cp).awaitTermination(120)
    assert t.current_version() == head


@pytest.mark.parametrize("killed_at", [1, 2])
def test_streaming_fold_after_crashed_commit(spark, tmp_path, monkeypatch, killed_at):
    """A fold killed between publishing its state snapshot and the version
    pointer, of the first state version or a later one: the next fold adopts
    that snapshot and folds onto it, so one restart recovers, each state
    version is committed once, and the state equals a batch build."""
    from pyspark.errors import StreamingQueryException

    from gdalcubes_cpp_spark.streaming.ingest import finalize_state, incremental_build

    v = view_small(aggregation="mean")
    pdf = synth.images_pdf(150)
    in_dir, sink, cp = str(tmp_path / "in"), str(tmp_path / "state"), str(tmp_path / "cp")
    publish = IceTable._publish_pointer

    def killed(self, n):
        if n == killed_at:
            raise RuntimeError("killed")
        publish(self, n)

    for n, rows in enumerate([pdf.iloc[:60], pdf.iloc[60:120], pdf.iloc[120:]], 1):
        spark.createDataFrame(rows).write.mode("append").parquet(in_dir)
        if n != killed_at:
            incremental_build(spark, in_dir, v, sink, cp).awaitTermination(120)
            continue
        monkeypatch.setattr(IceTable, "_publish_pointer", killed)
        with pytest.raises(StreamingQueryException):
            incremental_build(spark, in_dir, v, sink, cp).awaitTermination(120)
        monkeypatch.undo()
    files = [len(s["summary"]["files"]) for s in IceTable(sink).snapshots()]
    assert len(files) == 3 and files == sorted(set(files))
    got = finalize_state(spark, sink, v).collect_dense()
    want = build_cube(spark.createDataFrame(pdf), v).collect_dense()
    assert (np.isnan(got) == np.isnan(want)).all()
    m = np.isfinite(want)
    assert np.allclose(got[m], want[m], atol=1e-9)


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
