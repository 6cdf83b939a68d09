"""partition.py: the widen rule (spread) and the per-group exchange rule
(by_group), and the operators that use them."""

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
