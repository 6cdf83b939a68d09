"""Driver contract for the spark-graft builder (PySpark target).

entry()       — flagship pipeline on sf0.001: deterministic image table
                (input_hint schema) -> spatio-temporal join -> decode+warp+
                temporal-aggregate cube -> reduce_time composite.
queries()     — one entry per implemented operator (SURVEY.md §2), each
                running THE ENGINE's code path (gdalcubes_cpp_spark/*).
oracle_sql()  — DuckDB-dialect equivalents over the same parquet views;
                see gdalcubes_cpp_spark/benchqueries.py for the
                cross-engine exactness rules. Entries without SQL are the
                genuinely non-SQL-expressible paths (real PNG/JPEG/JP2
                decode, image statistics) — those get the driver's rows-only check and are value-gated
                by pytest instead (tests/).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from gdalcubes_cpp_spark.benchqueries import DEFS, REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = DEFS["cube_real_decode"]
    return _with_session_defaults(fn)(spark, "/root/testdata/sf0.001")


def _with_session_defaults(fn):
    """The driver runs queries in ITS OWN session; timestamp-deriving
    expressions (window alignment, unix_timestamp, date_format) must see
    UTC to match the DuckDB oracle's naive timestamps, and small Arrow
    batches keep binary-column transfer off the allocator-contention path."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        except Exception:
            pass
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _with_session_defaults(fn) for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted => rows-only check)."""
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql}
