"""Partition counts: the one module that decides how many partitions a stage
gets, with one rule per decision.

``spread`` widens a narrow input in front of a CPU-heavy Python kernel.
Compressed columnar inputs can be small on disk while carrying orders of
magnitude more kernel work than bytes (a 7 MB single-row-group parquet of
encoded images expands to thousands of decode-and-warp calls). Parquet
scans cannot split inside a row group: session.py's 16m/1m split settings
plan a one-row-group file as several byte-range partitions, but one of them
reads every row — the small-file / row-group-granularity trap.

The widen decision is made once per image collection: callers pass the
collection DataFrame as ``source`` and spread probes it instead of the
``select(...).where(window)`` built from it. Both are narrow, so the planned
count is the same, and PySpark keeps a DataFrame's ``.rdd``, so the second
cube built from one collection costs no re-plan. The decision differs from
probing the filtered frame only where the window prunes partition
directories: a table partitioned on ``ts`` or on a footprint column.

``for_scan`` is the width of the cube scan (operators/build.py:scan_cells):
``spread``, except that a collection planned with no more partitions than
the session has task slots whose rows all sit in ONE of them is coalesced
to that one partition. One task holds every scan row either way, so no
parallelism is lost and the partial aggregate sees the rows in the same
order; but the scan runs as one Python task instead of one per planned
partition (the others empty), and the cell aggregate's ClusteredDistribution
is met by the single partition, so Catalyst plans it in the scan's stage
with no Exchange. On a 4-core box an exchange costs ~50-60 ms whatever it
carries: a 130-row two-stage query took 93 ms against 30 ms for one stage.
The probe, ``row_partitions``, reads scan metadata (the parquet row groups
each planned file split reads) once per collection object.

``spread`` counts planned partitions, not the ones holding rows, so it
widens a one-row-group file only when it plans fewer partitions than the
session has task slots. That is on purpose: widening a one-partition scan
(a round-robin ``repartition(4)`` of the ``small_cubes`` table, one 7 MB
row group) puts an exchange of image bytes in front of at most 74 decodes,
and took a mean cube from 0.161 to 0.196 s (0 wins in 12 interleaved
pairs at 4 cores).

``by_group`` sizes the hash exchange in front of a grouped-map kernel whose
every group (a chunk) is a unit of Python work (operators/streamexec.py).

``by_path``, ``for_files`` and ``generator_width`` give the three counts
that follow an input's own unit of work: one task per vector file, the
file count of a table write, and the width of the synthetic generator.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

# collection DataFrame -> whether its rows sit in at most one planned
# partition: for_scan's probe result, once per collection object
_ONE_PARTITION: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


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
    target = _slots(df)
    if (df if source is None else source).rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _slots(df: DataFrame) -> int:
    """The session's task slots (its default parallelism)."""
    return max(1, df.sparkSession.sparkContext.defaultParallelism)


def for_scan(df: DataFrame, source: DataFrame) -> DataFrame:
    """The cube scan's width: ``spread(df, source)``, except that ``df`` is
    coalesced to one partition when spread leaves it as it is, ``source``
    plans no more partitions than the session has task slots, and
    row_partitions finds all of ``source``'s rows in at most one of them
    (``df`` is narrow from ``source``, so its rows sit there too). The
    probe runs once per ``source`` object."""
    out = spread(df, source)
    if out is not df or df.isStreaming:
        return out
    if source.rdd.getNumPartitions() > _slots(df):
        return df
    one = _ONE_PARTITION.get(source)
    if one is None:
        n = row_partitions(source)
        one = _ONE_PARTITION[source] = n is not None and n <= 1
    return df.coalesce(1) if one else df


def row_partitions(df: DataFrame) -> int | None:
    """How many of ``df``'s planned partitions hold rows, from scan
    metadata and without a job: ``df`` must be narrow steps (no Exchange, no
    Coalesce) over one parquet file scan on the local file system, whose
    planned partitions are byte ranges of its files. A range reads the row
    groups whose midpoint it holds — parquet-mr's split rule: midpoint =
    the first column chunk's first page offset + half the row group's
    compressed size. Row groups with no rows count for nothing. None for
    any other plan. Filters pushed into the scan may skip row groups, so
    the count is an upper bound of the partitions a run fills."""
    node = df._jdf.queryExecution().executedPlan()
    while node.children().size() == 1:
        if "Exchange" in node.nodeName() or node.nodeName() == "Coalesce":
            return None
        node = node.children().head()
    if (node.getClass().getSimpleName() != "FileSourceScanExec"
            or node.relation().fileFormat().toString() != "Parquet"):
        return None
    mids: dict = {}
    held = 0
    for part in node.inputRDD().partitions():
        for f in part.files():
            path = f.filePath().toString()
            if path not in mids:
                mids[path] = _row_group_midpoints(path)
            if mids[path] is None:
                return None
            lo = f.start()
            if any(lo <= m < lo + f.length() for m in mids[path]):
                held += 1
                break
    return held


def _row_group_midpoints(uri: str) -> list | None:
    """The split-rule midpoints of the row groups with rows in the parquet
    file ``uri`` (a ``file:`` URI), or None where its footer cannot be read
    on the driver."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return None
    try:
        md = pq.ParquetFile(unquote(u.path)).metadata
    except (OSError, ValueError):
        return None
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        c = rg.column(0)
        start = c.data_page_offset
        if c.has_dictionary_page and c.dictionary_page_offset < start:
            start = c.dictionary_page_offset
        size = sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
        out.append(start + size // 2)
    return out


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
