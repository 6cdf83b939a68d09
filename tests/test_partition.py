"""partition.py: the widen rule (spread) and the per-group exchange rule
(by_group), and the operators that use them."""

import warnings

import numpy as np
import pandas as pd
import pytest

from gdalcubes_cpp_spark.partition import by_group, spread

from .oracle_np import assert_dense_equal, dense_cube, st_assignment


@pytest.fixture(scope="module")
def spark():
    from gdalcubes_cpp_spark.session import get_spark

    return get_spark(app="test-partition", cores=4)


def test_spread_widens_narrow_scan(spark, tmp_path):
    # single-row-group parquet -> one scan partition no matter the cores
    p = str(tmp_path / "narrow.parquet")
    pd.DataFrame({"doc_id": range(1000), "text": ["x y z"] * 1000}).to_parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    wide = spread(df)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # semantics unchanged
    assert wide.count() == 1000
    assert wide.agg({"doc_id": "sum"}).collect()[0][0] == 499500


def test_spread_noop_when_already_wide(spark):
    df = spark.range(0, 10_000, 1, 64)
    out = spread(df)
    # no repartition node added: partition count unchanged (not collapsed
    # to defaultParallelism), plan identity preserved
    assert out is df


def test_dedup_kernels_escape_single_partition(spark, tmp_path):
    """The cube scan widens a one-row-group image parquet: its decode/warp
    runs at session parallelism, not in the one task that holds the rows.
    (The name is historical: this once went through the MinHash kernel.)"""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.operators.build import build_cube, scan_cells
    from gdalcubes_cpp_spark.view import CubeView

    p = str(tmp_path / "images.parquet")
    pdf = synth.images_pdf(200)
    pdf.to_parquet(p, row_group_size=len(pdf), coerce_timestamps="us")
    images = spark.read.parquet(p)
    assert images.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    v = CubeView.create(left=-12, right=-8, bottom=18, top=22, nx=64, ny=64,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="near",
                        chunk_size=(4, 32, 32))
    cells = scan_cells(images, v)
    assert cells.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    got = build_cube(images, v).collect_dense()
    assert_dense_equal(got, dense_cube(pdf, v))
    assert np.isfinite(got).any()


def test_spread_streaming_passthrough(spark, tmp_path):
    """Streaming frames have no .rdd — spread must pass them through."""
    import pandas as pd

    src = tmp_path / "stream_in"
    src.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a b c"]}).to_parquet(
        str(src / "p0.parquet"))
    sdf = (spark.readStream.schema("doc_id long, text string")
           .parquet(str(src)))
    out = spread(sdf)
    assert out is sdf


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# (n_groups, spark.sql.shuffle.partitions) -> partitions of the per-chunk
# exchange; stream_exec's plans carry these counts
@pytest.mark.parametrize("n_groups,shuffle,want", [
    (1, 4, 20), (3, 4, 60), (12, 16, 240), (15, 4, 300), (16, 4, 4),
    (63, 16, 1260), (64, 16, 16), (3, 200, 200), (300, 200, 4096),
    (799, 200, 4096), (800, 200, 200), (10**6, 16, 16),
])
def test_by_group_partition_counts(spark, n_groups, shuffle, want):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        out = by_group(spark.range(10), n_groups, "id")
        assert out.rdd.getNumPartitions() == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_broadcast_stjoin_does_not_spread_probe(spark):
    """The broadcast probe is a JVM predicate: a 1-partition image frame
    joins as it is, with no round-robin exchange in front."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.stjoin import assignment
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(left=-55, right=55, bottom=-45, top=45, nx=440, ny=360,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        chunk_size=(4, 120, 110))
    pdf = synth.images_pdf(200)
    images = spark.createDataFrame(pdf).coalesce(1)
    assert images.rdd.getNumPartitions() == 1
    out = assignment(images, ChunkGrid(v), method="broadcast")
    got = sorted((r["image_id"], r["chunk_id"]) for r in out.collect())
    assert got == st_assignment(pdf, ChunkGrid(v))
    assert "RoundRobinPartitioning" not in _plan(out)


def test_cell_long_widens_narrow_input_by_spread(spark):
    """build_cells_long widens by the spread rule: an input one partition
    short of the session's parallelism is repartitioned to it."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    dp = spark.sparkContext.defaultParallelism
    if dp < 2:
        pytest.skip("needs a session with at least 2 task slots")
    v = CubeView.create(left=-12, right=-8, bottom=18, top=22, nx=64, ny=64,
                        t0="2020-01-01", t1="2020-12-31", dt="P1M",
                        aggregation="mean", resampling="near",
                        chunk_size=(4, 32, 32))
    pdf = synth.images_pdf(200)
    images = spark.createDataFrame(pdf).repartition(dp - 1)
    cube = build_cube(images, v, bands=("B1", "B2"))
    assert f"RoundRobinPartitioning({dp})" in _plan(cube.df)
    got = cube.collect_dense()
    assert_dense_equal(got, dense_cube(pdf, v))
    assert np.isfinite(got).any()


# -- for_scan: one task for a collection whose rows sit in one partition ------

AGGS = ["mean", "min", "max", "median", "first", "last", "count_values",
        "count_images", "none"]


@pytest.fixture(scope="module")
def one_row_group(spark, tmp_path_factory):
    """(path, pdf): a one-row-group image parquet that plans one partition
    per task slot and holds every row in one of them (small_cubes' layout:
    parquet splits are byte ranges and a row group is read by the one
    whose range holds its midpoint)."""
    from gdalcubes_cpp_spark import synth

    pdf = synth.images_pdf(1200)
    p = str(tmp_path_factory.mktemp("one_rg") / "images.parquet")
    pdf.to_parquet(p, row_group_size=len(pdf), coerce_timestamps="us")
    planned = spark.read.parquet(p).rdd.getNumPartitions()
    if planned != spark.sparkContext.defaultParallelism:
        pytest.skip(f"the file plans {planned} partitions, not one per task slot")
    return p, pdf


@pytest.fixture
def probe_calls(monkeypatch):
    """The collections partition.row_partitions is asked about."""
    from gdalcubes_cpp_spark import partition

    calls: list = []
    probe = partition.row_partitions

    def counted(df):
        calls.append(df)
        return probe(df)

    monkeypatch.setattr(partition, "row_partitions", counted)
    return calls


def _view(agg):
    from gdalcubes_cpp_spark.view import CubeView

    return CubeView.create(left=-12, right=-8, bottom=18, top=22, nx=80, ny=80,
                           t0="2020-01-01", t1="2020-12-31", dt="P1M",
                           aggregation=agg, resampling="near", chunk_size=(4, 32, 32))


def _tasks(spark, action) -> int:
    """Tasks of every stage of the jobs ``action`` runs."""
    import uuid

    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "task count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return sum(st.getStageInfo(s).numTasks for j in st.getJobIdsForGroup(group)
               for s in st.getJobInfo(j).stageIds)


def test_row_partitions_matches_the_rows_each_partition_reads(spark, tmp_path):
    """The metadata probe counts the planned partitions that hold rows,
    exactly as a job over the scan does, for 1 to many row groups per file
    and for several files; it answers None for a plan that is not a
    narrow parquet scan."""
    from gdalcubes_cpp_spark.partition import row_partitions

    pdf = pd.DataFrame({"k": np.arange(40_000), "pad": np.random.default_rng(0).random(40_000)})
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    try:
        for rg in (40_000, 13_000, 5_000, 1_000):
            p = str(tmp_path / f"rg{rg}.parquet")
            pdf.to_parquet(p, row_group_size=rg)
            df = spark.read.parquet(p)
            assert df.rdd.getNumPartitions() > 1
            held = sum(1 for n in df.rdd.glom().map(len).collect() if n)
            assert row_partitions(df) == held, rg
            assert row_partitions(df.where("k > 10").select("pad")) == held
        many = tmp_path / "many"
        many.mkdir()
        for k in range(3):
            pdf.iloc[k::3].to_parquet(str(many / f"part-{k}.parquet"), row_group_size=5_000)
        df = spark.read.parquet(str(many))
        assert row_partitions(df) == sum(1 for n in df.rdd.glom().map(len).collect() if n)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    df = spark.read.parquet(str(tmp_path / "rg40000.parquet"))
    assert row_partitions(df.repartition(3)) is None
    assert row_partitions(df.coalesce(1)) is None
    assert row_partitions(spark.range(10)) is None
    assert row_partitions(df.join(df, "k")) is None


def test_one_partition_scan_runs_one_task_without_exchange(spark, one_row_group, probe_calls):
    """On a one-row-group collection the mean cube's scan is coalesced to
    the one partition that holds the rows: one Python task runs, and the
    cell aggregate (and a reduce_time on top) runs in its stage with no
    Exchange. The probe runs once for the collection object, however many
    cubes are built from it."""
    from gdalcubes_cpp_spark.operators.build import build_cube

    images = spark.read.parquet(one_row_group[0])
    cube = build_cube(images, _view("mean"))
    assert _tasks(spark, cube.df.collect) == 1
    plan = _plan(cube.df)
    assert "Coalesce 1" in plan and "MapInArrow" in plan and "Exchange" not in plan
    red = cube.reduce_time([("mean", "B1")])
    red.df.collect()
    assert "Exchange" not in _plan(red.df)
    for agg in ("count_values", "none", "first"):
        build_cube(images, _view(agg))
    assert probe_calls == [images]
    build_cube(spark.read.parquet(one_row_group[0]), _view("mean"))
    assert len(probe_calls) == 2


def test_rows_in_every_partition_keep_the_exchange(spark, tmp_path, probe_calls):
    """A multi-file collection with rows in every planned partition keeps
    one scan task per partition and the hash exchange in front of the cell
    aggregate."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.operators.build import build_cube

    dp = spark.sparkContext.defaultParallelism
    pdf = synth.images_pdf(200)
    for k in range(dp):
        pdf.iloc[k::dp].to_parquet(str(tmp_path / f"part-{k}.parquet"), coerce_timestamps="us")
    images = spark.read.parquet(str(tmp_path))
    if images.rdd.getNumPartitions() != dp:
        pytest.skip("the files do not plan one partition per task slot")
    cube = build_cube(images, _view("mean"))
    got = cube.collect_dense()
    plan = _plan(cube.df)
    assert "Exchange hashpartitioning" in plan and "Coalesce" not in plan
    assert len(probe_calls) == 1
    assert_dense_equal(got, dense_cube(pdf, _view("mean")))


def test_for_scan_probes_only_slot_wide_batch_collections(spark, tmp_path, probe_calls):
    """A collection planned below the slot count gets spread's round-robin
    widening, one planned above it stays as it is, and a streaming frame
    passes through: none of them is probed."""
    from gdalcubes_cpp_spark import synth
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.partition import for_scan

    dp = spark.sparkContext.defaultParallelism
    if dp < 2:
        pytest.skip("needs a session with at least 2 task slots")
    images = spark.createDataFrame(synth.images_pdf(50)).repartition(dp - 1)
    assert f"RoundRobinPartitioning({dp})" in _plan(build_cube(images, _view("mean")).df)
    wide = spark.range(0, 100, 1, 2 * dp)
    assert for_scan(wide, wide) is wide
    src = tmp_path / "stream_in"
    src.mkdir()
    pd.DataFrame({"k": [1]}).to_parquet(str(src / "p0.parquet"))
    sdf = spark.readStream.schema("k long").parquet(str(src))
    assert for_scan(sdf, sdf) is sdf
    assert probe_calls == []


def test_other_spread_callers_keep_their_plans(spark, one_row_group, probe_calls):
    """Only the cube scan coalesces: the s2 cover stage of the st_join and
    the format listing keep spread's plan on the same one-row-group
    collection, and s2_knn_join never probes."""
    from gdalcubes_cpp_spark.functions import s2
    from gdalcubes_cpp_spark.grid import ChunkGrid
    from gdalcubes_cpp_spark.operators.stjoin import st_join
    from gdalcubes_cpp_spark.sources.formats import ingest_listing

    images = spark.read.parquet(one_row_group[0])
    pairs = st_join(images, ChunkGrid(_view("mean")), method="s2")
    listing = ingest_listing(images.selectExpr("image_id AS path"), "Sentinel2_L2A")
    for df in (pairs, listing):
        assert "Coalesce" not in _plan(df) and "RoundRobinPartitioning" not in _plan(df)
    pts = images.selectExpr("image_id AS a_id", "left AS lon", "bottom AS lat").limit(40)
    s2.s2_knn_join(pts, pts.withColumnRenamed("a_id", "b_id"), 1).collect()
    assert probe_calls == []


@pytest.mark.parametrize("agg", AGGS)
def test_one_partition_scan_cells_bit_identical(spark, one_row_group, monkeypatch, agg):
    """The cube cells are bit-identical with the rule firing and with the
    probe reporting 2 partitions that hold rows (today's plan), for every
    aggregation, and equal the oracle's; a reduce_time on top is within
    the oracle tolerance."""
    from gdalcubes_cpp_spark import partition
    from gdalcubes_cpp_spark.operators.build import build_cube

    p, pdf = one_row_group
    v = _view(agg)
    fired = build_cube(spark.read.parquet(p), v)
    got = fired.collect_dense()
    red = fired.reduce_time([("mean", "B1"), ("max", "B2")]).collect_dense()
    monkeypatch.setattr(partition, "row_partitions", lambda df: 2)
    kept = build_cube(spark.read.parquet(p), v)
    want = kept.collect_dense()
    if agg != "count_images":  # no scan: the counts come from the st_join alone
        assert "Coalesce 1" in _plan(fired.df) and "Coalesce" not in _plan(kept.df)
    assert got.tobytes() == want.tobytes()
    dense = dense_cube(pdf, v, aggregation=agg)
    assert_dense_equal(got, dense)
    assert np.isfinite(got).any()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN cells
        ref = np.stack([np.nanmean(dense[0], axis=0), np.nanmax(dense[1], axis=0)])[:, None]
    assert_dense_equal(red, ref)
