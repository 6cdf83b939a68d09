"""IceTable: snapshot isolation, manifest stats pruning, idempotent
commits, time travel, optimistic-commit retry."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gdalcubes_cpp_spark.sources.icetable import IceTable


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="ice_") as d:
        yield os.path.join(d, "tbl")


def _mkdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("img"), F.col("id")).alias("name"),
    )


def test_create_read_roundtrip(spark, tdir):
    df = _mkdf(spark, 0, 1000)
    t = IceTable.create(spark, tdir, df, order_by="k", n_files=8)
    back = t.read(spark)
    assert back.count() == 1000
    assert {r.k for r in back.collect()} == set(range(1000))
    assert t.current_version() == 1
    snap = t.snapshot()
    assert snap["summary"]["added_rows"] == 1000
    assert snap["summary"]["added_files"] == len(t.files())


def test_append_and_time_travel(spark, tdir):
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 100), n_files=2)
    s2 = t.append(_mkdf(spark, 100, 250), n_files=2)
    assert s2 == 2
    assert t.read(spark).count() == 250
    # time travel: snapshot 1 still sees only the first commit
    assert t.read(spark, snapshot=1).count() == 100
    assert t.snapshot(2)["parent_id"] == 1


def test_idempotent_commit_key(spark, tdir):
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 100), n_files=2)
    a = t.append(_mkdf(spark, 100, 200), commit_key="batch-7", n_files=1)
    b = t.append(_mkdf(spark, 100, 200), commit_key="batch-7", n_files=1)
    assert a == b  # replayed batch lands on the SAME snapshot, no dupes
    assert t.read(spark).count() == 200


def test_manifest_pruning_skips_files(spark, tdir):
    # range-clustered by k -> disjoint per-file stats -> provable pruning
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10_000), order_by="k", n_files=10)
    kept, total = t.scan_files_kept("k", 2_000, 2_999)
    assert total >= 8
    assert kept <= max(2, total // 3)  # a 10% range touches ~1-2 files
    got = t.scan(spark, "k", 2_000, 2_999)
    assert got.count() == 1000
    assert {r.k for r in got.collect()} == set(range(2000, 3000))
    # pruning never loses rows vs a full-scan filter
    full = t.read(spark).filter((F.col("k") >= 2000) & (F.col("k") <= 2999))
    assert full.count() == 1000


def test_string_stats_pruning(spark, tdir):
    df = spark.createDataFrame(
        [(f"{c}{i}", i) for c in "abcd" for i in range(50)], "name string, v int"
    )
    t = IceTable.create(spark, tdir, df, order_by="name", n_files=4)
    kept, total = t.scan_files_kept("name", "b", "bzzz")
    assert kept < total
    assert t.scan(spark, "name", "b", "bzzz").count() == 50


def test_optimistic_commit_retry(spark, tdir):
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    # simulate a concurrent winner: occupy v2 before our append commits
    with open(os.path.join(t.meta, "snap-2.json"), "w") as fh:
        json.dump({"snapshot_id": 2, "parent_id": 1,
                   "manifests": t.snapshot(1)["manifests"],
                   "summary": {"added_files": 0, "added_rows": 0,
                               "commit_key": None}}, fh)
    with open(os.path.join(t.meta, "v2.json"), "x") as fh:
        json.dump({"snapshot_id": 2}, fh)
    s = t.append(_mkdf(spark, 10, 20), n_files=1)
    assert s == 3  # lost the race at v2, retried onto v3
    assert t.read(spark).count() == 20
    # the racing snapshot's manifest list is the parent chain; no data lost
    assert t.snapshot(3)["parent_id"] == 2


def test_empty_scan_keeps_schema(spark, tdir):
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 100), order_by="k", n_files=4)
    got = t.scan(spark, "k", 10_000, 20_000)
    assert got.count() == 0
    assert got.columns == ["k", "v", "name"]


def test_streaming_sink_exactly_once(spark, tdir):
    """File stream -> IceTable sink: snapshots accumulate per batch; a
    REPLAYED batch (checkpoint loss after commit) dedups on commit_key."""
    import tempfile

    from gdalcubes_cpp_spark.sources.icetable import IceTable
    from gdalcubes_cpp_spark.streaming.ingest import stream_to_icetable

    src = tempfile.mkdtemp(prefix="ice_src_")
    ckpt = tempfile.mkdtemp(prefix="ice_ck_") + "/cp"
    _mkdf(spark, 0, 50).coalesce(1).write.mode("overwrite").parquet(src + "/b0")

    stream = (
        spark.readStream.schema("k long, v long, name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = stream_to_icetable(stream, tdir, ckpt, order_by="k")
    q.awaitTermination(120)
    t = IceTable(tdir)
    assert t.read(spark).count() == 50

    # second source file, NEW checkpoint dir (simulates checkpoint loss ->
    # batch ids restart at 0 and batch-0 replays the already-committed data
    # PLUS the new file in one availableNow pass... so feed only the
    # replayed file first: same content, same commit key -> no duplicates)
    q2 = stream_to_icetable(
        spark.readStream.schema("k long, v long, name string").parquet(src + "/*"),
        tdir, tempfile.mkdtemp(prefix="ice_ck2_") + "/cp", order_by="k",
    )
    q2.awaitTermination(120)
    # replayed batch-0 carried identical content; commit_key dedup kept one
    assert t.read(spark).count() == 50

    # genuinely new data with the original checkpoint continues the chain
    _mkdf(spark, 50, 80).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    q3 = stream_to_icetable(
        spark.readStream.schema("k long, v long, name string")
        .option("maxFilesPerTrigger", "1").parquet(src + "/*"),
        tdir, ckpt, order_by="k",
    )
    q3.awaitTermination(120)
    assert t.read(spark).count() == 80
    keys = [s["summary"]["commit_key"] for s in t.snapshots()]
    assert len(keys) == len(set(keys))  # every snapshot is a distinct batch


def test_crashed_commit_adopted(spark, tdir):
    """A committer that crashed between publishing snap-<n>.json and
    creating v<n>.json must not wedge the table: the next appender adopts
    the orphan (creates v<n>) and commits on top of it."""
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    with open(os.path.join(t.meta, "snap-2.json"), "x") as fh:
        json.dump({"snapshot_id": 2, "parent_id": 1,
                   "manifests": t.snapshot(1)["manifests"],
                   "summary": {"added_files": 0, "added_rows": 0,
                               "commit_key": None}}, fh)
    # crash point: no v2.json
    s = t.append(_mkdf(spark, 10, 20), n_files=1)
    assert s == 3
    assert os.path.exists(os.path.join(t.meta, "v2.json"))  # adopted
    assert t.read(spark).count() == 20
    assert t.snapshot(3)["parent_id"] == 2
    # no leftover temp files from the losing attempt
    assert not [f for f in os.listdir(t.meta) if f.endswith(".tmp")]


def test_replayed_key_lands_on_adopted_orphan(spark, tdir):
    """A commit that crashed after publishing snap-<n>.json but before
    v<n>.json, replayed under the same commit_key, lands on the orphan once
    it is adopted instead of committing its rows a second time."""
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    first = t.append(_mkdf(spark, 10, 20), commit_key="batch-3", n_files=1)
    os.remove(os.path.join(t.meta, f"v{first}.json"))  # crash point
    assert t.current_version() == first - 1
    assert t.append(_mkdf(spark, 10, 20), commit_key="batch-3", n_files=1) == first
    assert t.current_version() == first
    assert t.read(spark).count() == 20


def test_summary_and_replace(spark, tdir):
    """``summary`` lands in the snapshot; ``replace`` drops parent manifests
    (an overwrite) and raises when the head no longer holds them."""
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    old = t.snapshot()["manifests"]
    s = t.append(_mkdf(spark, 100, 105), n_files=1, summary={"part": 3}, replace=old)
    assert t.snapshot(s)["summary"]["part"] == 3
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(100, 105))
    assert t.read(spark, snapshot=1).count() == 10  # time travel keeps the old data
    with pytest.raises(ValueError, match="conflict"):
        t.append(_mkdf(spark, 0, 1), n_files=1, replace=old)
    assert t.current_version() == s


def test_missing_head_snapshot_raises(spark, tdir):
    """A pointer whose snapshot file is gone fails the commit; it is not
    read as an empty table."""
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    os.remove(os.path.join(t.meta, "snap-1.json"))
    with pytest.raises(FileNotFoundError):
        t.append(_mkdf(spark, 10, 20), n_files=1)


def test_commit_never_clobbers_winner_snapshot(spark, tdir):
    """The loser of the snapshot-number race must leave the winner's
    snap-<n>.json byte-identical (the pre-fix code overwrote then
    unlinked it)."""
    t = IceTable.create(spark, tdir, _mkdf(spark, 0, 10), n_files=1)
    winner = {"snapshot_id": 2, "parent_id": 1,
              "manifests": t.snapshot(1)["manifests"],
              "summary": {"added_files": 0, "added_rows": 0,
                          "commit_key": "winner"}}
    with open(os.path.join(t.meta, "snap-2.json"), "x") as fh:
        json.dump(winner, fh)
    with open(os.path.join(t.meta, "v2.json"), "x") as fh:
        json.dump({"snapshot_id": 2}, fh)
    t.append(_mkdf(spark, 10, 20), n_files=1)
    assert t.snapshot(2) == winner  # untouched by the losing attempt


def test_file_stats_missing_rowgroup_pins_unknown(tmp_path):
    """Once any row group lacks usable stats for a column, the file-level
    range must stay unknown (None) — a later row group's range must not
    shadow the stats-less rows, or pruning would drop matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdalcubes_cpp_spark.sources.icetable import _file_stats

    p = str(tmp_path / "f.parquet")
    schema = pa.schema([("b", pa.binary()), ("k", pa.int64())])
    with pq.ParquetWriter(p, schema) as w:
        # rg 1: non-utf8 binary stats -> _stats_value yields None -> pinned
        w.write_table(pa.table({"b": [b"\xff\xfe"], "k": [5]}, schema=schema))
        # rg 2: clean utf-8 stats that must NOT resurrect the range
        w.write_table(pa.table({"b": [b"abc"], "k": [7]}, schema=schema))
    n, mins, maxs = _file_stats(p)
    assert n == 2
    assert mins["b"] is None and maxs["b"] is None
    assert mins["k"] == 5 and maxs["k"] == 7  # clean column unaffected


def test_empty_snapshot_scan(spark, tdir):
    """A table whose only snapshot carries zero data files (empty
    streaming microbatch) scans to an empty DataFrame with the recorded
    schema instead of raising IndexError."""
    empty = spark.createDataFrame([], "k long, v long, name string")
    t = IceTable.create(spark, tdir, empty)
    got = t.scan(spark, "k", 0, 10)
    assert got.count() == 0
    assert got.columns == ["k", "v", "name"]
    got2 = t.read(spark)
    assert got2.count() == 0 and got2.columns == ["k", "v", "name"]
