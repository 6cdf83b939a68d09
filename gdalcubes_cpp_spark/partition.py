"""Partition counts: the one module that decides how many partitions a stage
gets, with one rule per decision.

``spread`` widens a narrow input in front of a CPU-heavy Python kernel.
Compressed columnar inputs can be small on disk while carrying orders of
magnitude more kernel work than bytes (a 7 MB single-row-group parquet of
encoded images expands to thousands of decode-and-warp calls). Parquet
scans cannot split inside a row group: session.py's 16m/1m split settings
plan a one-row-group file as several byte-range partitions, but one of them
reads every row — the small-file / row-group-granularity trap. ``spread``
counts planned partitions, not the ones holding rows, so it widens such a
file only when it plans fewer partitions than the session has task slots.

The widen decision is made once per image collection: callers pass the
collection DataFrame as ``source`` and spread probes it instead of the
``select(...).where(window)`` built from it. Both are narrow, so the planned
count is the same, and PySpark keeps a DataFrame's ``.rdd``, so the second
cube built from one collection costs no re-plan. The decision differs from
probing the filtered frame only where the window prunes partition
directories: a table partitioned on ``ts`` or on a footprint column.

``by_group`` sizes the hash exchange in front of a grouped-map kernel whose
every group (a chunk) is a unit of Python work (operators/streamexec.py).

``by_path``, ``for_files`` and ``generator_width`` give the three counts
that follow an input's own unit of work: one task per vector file, the
file count of a table write, and the width of the synthetic generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, source: DataFrame | None = None) -> DataFrame:
    """Return ``df`` repartitioned to the session's default parallelism, but
    ONLY when ``source`` (``df`` itself by default; else the DataFrame ``df``
    was derived from by narrow steps) plans fewer partitions than that —
    i.e. only when a narrow scan would otherwise serialize a CPU-heavy
    downstream kernel onto a handful of cores; for any real-scale input
    (many files / row groups) it adds nothing to the plan.

    The partition probe converts the plan to an RDD (no job is run), once
    per ``source`` object. The repartition is a round-robin shuffle of the
    input rows; callers use it in front of kernels whose per-row cost
    dwarfs a row's transfer cost (decode/warp, cell covers), where the
    shuffle amortizes to noise.
    Result semantics are unaffected: every caller aggregates or joins
    afterwards, none depends on input order.
    """
    if df.isStreaming:
        # no .rdd on a streaming frame; micro-batch sources size their own
        # partitions (maxFilesPerTrigger etc.) — the guard is batch-only
        return df
    target = max(1, df.sparkSession.sparkContext.defaultParallelism)
    if (df if source is None else source).rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def by_group(df: DataFrame, n_groups: int, *keys) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` for a grouped-map kernel over
    ``n_groups`` groups.

    Fewer groups than 4x spark.sql.shuffle.partitions get 20 partitions per
    group, between the shuffle width and 4096, so two groups rarely share a
    task; more groups balance by numbers alone at the shuffle width. The
    grouped rows are byte-light while each group's kernel is heavy, so AQE's
    size-based coalescing would merge the partitions down to 1-3 tasks; an
    explicit repartition keeps AQE off this exchange, and the groupBy that
    follows reuses it (no second shuffle).
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    if n_groups < 4 * n:
        n = max(n, min(20 * n_groups, 4096))
    return df.repartition(n, *keys)


def by_path(df: DataFrame, n_paths: int) -> DataFrame:
    """One partition per input path (at most 64) for a DataFrame of file
    paths that a mapInPandas parses: each file is a task's unit of work."""
    return df.repartition(min(n_paths, 64))


def for_files(df: DataFrame, n_files: int | None, order_by: str | None) -> DataFrame:
    """The partitions of a table write, one data file each: ``order_by``
    range-partitions into ``n_files`` (default: the session's default
    parallelism) so file min/max ranges are disjoint along that column;
    otherwise ``n_files`` round-robin partitions, or ``df`` as planned."""
    from pyspark.sql import functions as F

    if order_by:
        n = n_files or df.sparkSession.sparkContext.defaultParallelism
        return df.repartitionByRange(n, F.col(order_by))
    return df.repartition(n_files) if n_files else df


def generator_width(spark, n: int) -> int:
    """Partitions of the synthetic image generator over ``n`` rows: three
    per task slot, and one per 2000 rows up to 1024 for large ``n``."""
    return max(spark.sparkContext.defaultParallelism * 3, min(1024, n // 2000 + 1))
