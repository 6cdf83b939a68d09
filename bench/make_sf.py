#!/usr/bin/env python
"""Deterministic 10x scale-up of the driver testdata (sf0.1 -> sf1).

The round driver's generator is not available in-repo, so the scale step
replicates sf0.1 ten times with CONSISTENT key shifts (TPC-H scaling
shape: fixed region/nation dims, scaled fact/dim tables, foreign keys
remapped per replica so joins keep their selectivity). Both engines read
the same parquet, so the oracle gate stays exact at any scale.

Usage: python bench/make_sf.py [out_dir] [factor]   (default
/tmp/spark_graft_sf1, 10)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SF_SRC", "/root/testdata/sf0.1")


def make(out_dir: str, factor: int = 10) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    def src(t):
        return f"read_parquet('{SRC}/{t}.parquet')"

    def copy(sql, t):
        # small row groups: parquet readers (Spark scans AND the DuckDB
        # oracle) parallelize at row-group granularity, and DuckDB's
        # default 122,880-row groups turn a 50k-row table into ONE task
        # for every engine no matter the core count
        con.execute(
            f"COPY ({sql}) TO '{out_dir}/{t}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 8192)")
        n = con.execute(
            f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")

    # fixed dims: copy once
    for t in ("region", "nation"):
        copy(f"SELECT * FROM {src(t)}", t)

    # stride = max+1: ids are 0-based, so a stride of max collides at the
    # replica boundary (0 + i*max == max + (i-1)*max) — 9 duplicate keys
    # per table at factor 10, observed as engine/oracle row drift
    maxes = {}
    for t, k in (("customer", "c_custkey"), ("supplier", "s_suppkey"),
                 ("part", "p_partkey"), ("orders", "o_orderkey")):
        maxes[k] = con.execute(
            f"SELECT max({k}) + 1 FROM {src(t)}").fetchone()[0]

    rep = f"range({factor}) r(i)"
    copy(f"""SELECT t.* REPLACE (t.c_custkey + r.i * {maxes['c_custkey']}
             AS c_custkey) FROM {src('customer')} t, {rep}""", "customer")
    copy(f"""SELECT t.* REPLACE (t.s_suppkey + r.i * {maxes['s_suppkey']}
             AS s_suppkey) FROM {src('supplier')} t, {rep}""", "supplier")
    copy(f"""SELECT t.* REPLACE (t.p_partkey + r.i * {maxes['p_partkey']}
             AS p_partkey) FROM {src('part')} t, {rep}""", "part")
    copy(f"""SELECT t.* REPLACE (
               t.o_orderkey + r.i * {maxes['o_orderkey']} AS o_orderkey,
               t.o_custkey + r.i * {maxes['c_custkey']} AS o_custkey)
             FROM {src('orders')} t, {rep}""", "orders")
    copy(f"""SELECT t.* REPLACE (
               t.l_orderkey + r.i * {maxes['o_orderkey']} AS l_orderkey,
               t.l_partkey + r.i * {maxes['p_partkey']} AS l_partkey,
               t.l_suppkey + r.i * {maxes['s_suppkey']} AS l_suppkey)
             FROM {src('lineitem')} t, {rep}""", "lineitem")

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    make(out, factor)
