"""The roundtrip driver queries write into one temp directory per query and
process: a second call overwrites the first call's files instead of
leaving new ones behind. A call's DataFrame reads its files lazily, so it
is read before the next call of the same query."""

import tempfile

import pytest

from gdalcubes_cpp_spark import benchqueries as bq

QUERIES = ("netcdf_roundtrip", "packed_roundtrip", "cube_write_reread", "geotiff_roundtrip")


@pytest.mark.parametrize("name", QUERIES)
def test_roundtrip_query_reuses_one_dir(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(bq, "_FIXTURE_MEMO", {})
    query = getattr(bq, name)
    first = sorted(query(spark, None).collect())  # read before the next call
    n_files = sum(p.is_file() for p in tmp_path.rglob("*"))
    second = query(spark, None)
    assert [p.name for p in tmp_path.iterdir()] == [bq._scratch_dir(name).split("/")[-1]]
    # the second call replaced the first call's files: none accumulate
    assert sum(p.is_file() for p in tmp_path.rglob("*")) == n_files
    assert sorted(second.collect()) == first
