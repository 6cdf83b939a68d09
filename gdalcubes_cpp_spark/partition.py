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

``by_group`` sizes the hash exchange in front of a grouped-map kernel whose
every group (a chunk) is a unit of Python work (operators/streamexec.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Return ``df`` repartitioned to the session's default parallelism, but
    ONLY when its current plan has fewer partitions than that — i.e. only
    when a narrow scan would otherwise serialize a CPU-heavy downstream
    kernel onto a handful of cores; for any real-scale input (many files /
    row groups) it adds nothing to the plan.

    The partition probe converts the plan to an RDD (no job is run). The
    repartition is a round-robin shuffle of the input rows; callers use it
    in front of kernels whose per-row cost dwarfs a row's transfer cost
    (decode/warp, cell covers), where the shuffle amortizes to noise.
    Result semantics are unaffected: every caller aggregates or joins
    afterwards, none depends on input order.
    """
    if df.isStreaming:
        # no .rdd on a streaming frame; micro-batch sources size their own
        # partitions (maxFilesPerTrigger etc.) — the guard is batch-only
        return df
    target = max(1, df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() >= target:
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
