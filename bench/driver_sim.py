#!/usr/bin/env python
"""Simulate the round driver's correctness gate at sf0.01: run every
REGISTRY query through __spark_entry__.queries() and compare against its
oracle_sql() in DuckDB — row count, sorted column names, and
order-insensitive rounded values (the driver value-hashes; we aim exact).

Usage: python bench/driver_sim.py [name ...]   (default: all)
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np

import __spark_entry__ as E

SF = __import__("os").environ.get("DRIVER_SIM_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
]


def canon(df):
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
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return cols, out


def main() -> None:
    from gdalcubes_cpp_spark.session import get_spark

    spark = get_spark(app="driver-sim", cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    rows = E.entry(spark).collect()
    assert len(rows) > 0, "entry() must yield rows"
    print(f"entry: {len(rows)} rows OK")

    qs, osql = E.queries(), E.oracle_sql()
    names = sys.argv[1:] or list(qs)
    n_pass = n_rows_only = 0
    failures = []
    timings: dict = {}
    import json as _json
    import os as _os
    import time as _time

    tpath = _os.environ.get("DRIVER_SIM_TIMINGS")

    def _flush() -> None:
        # incremental: a killed replay keeps its partial walls on disk
        if tpath:
            with open(tpath, "w") as fh:
                _json.dump({"sf_dir": SF, "spark_wall_s": timings,
                            "pass": n_pass, "rows_only": n_rows_only,
                            "failures": len(failures),
                            "failure_msgs": failures}, fh, indent=2)

    for name in names:
        try:
            _t0 = _time.time()
            got = qs[name](spark, SF).toPandas()
            timings[name] = round(_time.time() - _t0, 3)
            if name not in osql:
                print(f"{name}: rows-only, {len(got)} rows")
                n_rows_only += 1
                _flush()
                continue
            want = con.execute(osql[name]).df()
            gc, gv = canon(got)
            wc, wv = canon(want)
            if gc != wc:
                failures.append(f"{name}: columns {gc} != {wc}")
            elif len(gv) != len(wv):
                failures.append(f"{name}: rows {len(gv)} != {len(wv)}")
            else:
                mism = [i for i, (a, b) in enumerate(zip(gv, wv)) if a != b]
                if mism:
                    failures.append(
                        f"{name}: value mismatch at {mism[0]}: "
                        f"{gv[mism[0]]} vs {wv[mism[0]]}"
                    )
                else:
                    print(f"{name}: PASS ({len(gv)} rows)")
                    n_pass += 1
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: EXC {type(exc).__name__}: {exc}")
        _flush()
    print(f"\n{n_pass} oracled pass, {n_rows_only} rows-only, {len(failures)} failures")
    for f in failures:
        print("FAIL:", f)
    _flush()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
