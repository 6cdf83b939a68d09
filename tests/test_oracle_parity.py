"""Driver-gate rehearsal: every REGISTRY entry's Spark result must match its
DuckDB oracle — row count, column names, and order-insensitive values
(floats compared bit-near at 1e-9; the real driver hashes values, so we aim
for bit-identical and fail loudly on any drift)."""

import math

import duckdb
import numpy as np
import pytest

from gdalcubes_cpp_spark.benchqueries import REGISTRY

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def canon(df):
    """pandas frame -> sorted list of value tuples with float normalization."""
    cols = sorted(df.columns)
    out = []
    for _, r in df[cols].iterrows():
        row = []
        for c in cols:
            v = r[c]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, (float, np.floating)):
                row.append(round(float(v), 9))
            elif isinstance(v, (int, np.integer)):
                row.append(int(v))
            else:
                row.append(str(v))
        out.append(tuple(row))
    out.sort(key=lambda t: tuple((x is None, x) for x in t))
    return cols, out


@pytest.mark.parametrize("name", [n for n, (_, sql) in REGISTRY.items() if sql])
def test_parity(spark, duck, name):
    fn, sql = REGISTRY[name]
    got = fn(spark, SF).toPandas()
    want = duck.execute(sql).df()
    gc, gv = canon(got)
    wc, wv = canon(want)
    assert gc == wc, f"{name}: columns {gc} != {wc}"
    assert len(gv) == len(wv), f"{name}: rows {len(gv)} != {len(wv)}"
    mism = [i for i, (a, b) in enumerate(zip(gv, wv)) if a != b]
    assert not mism, f"{name}: first mismatch at {mism[0]}: {gv[mism[0]]} vs {wv[mism[0]]}"
