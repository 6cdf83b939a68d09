"""Spatio-temporal image ⋈ chunk join — find_range_st reimagined for Spark.

Reference semantics (src/image_collection.cpp:1324-1394, called per chunk by
src/image_collection_cube.cpp:315-340):
- time:    image.datetime BETWEEN chunk.t_start AND chunk.t_end  (both ends
           INCLUSIVE — t_end is the start of the slice after the last,
           src/cube.h:676-694);
- space:   NOT (img.right < ch.left OR img.left > ch.right OR
           img.bottom > ch.top OR img.top < ch.bottom)  — strict <,
           so touching edges DO intersect;
- order:   (image_id, descriptor) — load-bearing for first/last aggregation
           (src/image_collection_cube.cpp:327). We keep image_id as the sort
           key inside downstream grouped kernels.

Four physical methods. method='auto' picks only ``broadcast`` or ``cells``,
by chunk count: ``broadcast`` up to ``broadcast_threshold`` (5M) chunks,
``cells`` above it. ``s2`` and ``hex`` are chosen explicitly.

* ``broadcast``: the chunk grid is generated from the view (pure arithmetic
  on ``spark.range``) and broadcast; images stream past it with the residual
  predicate applied directly. No shuffle of the image table at all — the
  right choice whenever the chunk grid fits in memory (≲ ~5M chunks).

* ``cells``: both sides explode to covering spatial cells at ``cell_deg``
  resolution (functions/cells.py) and equi-join on cell id — the scale path
  for planet-sized chunk grids. Duplicate (image, chunk) pairs from multi-
  cell overlaps are eliminated WITHOUT a distinct-shuffle by the standard
  bottom-left-corner ownership trick: a pair is emitted only by the cell
  containing the intersection's bottom-left corner. Hot cells (skewed image
  density) are handled by AQE skew-join splitting + optional image-side salt.

* ``s2`` and ``hex``: the ``cells`` shape with a different cover function —
  S2 Hilbert-curve cells (functions/s2.py) or aperture-7 hexes on the
  equal-area plane (functions/hexgrid.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import cells as C
from ..grid import ChunkGrid

CHUNK_COLS = [
    "chunk_id", "ch_left", "ch_right", "ch_bottom", "ch_top",
    "ch_t_start", "ch_t_end", "ch_it0",
]


def chunks_df(spark: SparkSession, grid: ChunkGrid) -> DataFrame:
    """Generate the chunk grid as a DataFrame (bounds_from_chunk as columns).

    Pure JVM arithmetic from ``spark.range(n_chunks)`` — never materialized
    on the driver, so a billion-chunk grid is fine.
    """
    v = grid.view
    ncx, ncy = grid.ncx, grid.ncy
    df = spark.range(grid.count).withColumnRenamed("id", "chunk_id")
    ct = (F.col("chunk_id") / (ncy * ncx)).cast("long")
    rem = F.col("chunk_id") % (ncy * ncx)
    cy = (rem / ncx).cast("long")
    cx = rem % ncx
    it0 = ct * v.chunk_nt
    it1 = F.least(it0 + v.chunk_nt, F.lit(v.nt))
    iy0 = cy * v.chunk_ny
    iy1 = F.least(iy0 + v.chunk_ny, F.lit(v.ny))
    ix0 = cx * v.chunk_nx
    ix1 = F.least(ix0 + v.chunk_nx, F.lit(v.nx))

    if v.labeled:
        # labeled axis: look up slice datetimes from a literal array
        labels = F.array(*[F.lit(t) for t in v.time_labels])
        t_start = F.element_at(labels, (it0 + 1).cast("int"))
        t_end = F.element_at(labels, it1.cast("int"))  # last label in chunk
    else:
        t_start = _time_at(it0, v)
        t_end = _time_at(it1, v)

    ch_left = F.lit(v.left) + ix0 * v.dx
    ch_right = F.lit(v.left) + ix1 * v.dx
    ch_bottom = F.lit(v.top) - iy1 * v.dy
    ch_top = F.lit(v.top) - iy0 * v.dy
    # footprints are stored in EPSG:4326 (src/image_collection.cpp:309-326);
    # a non-4326 view transforms its chunk rectangles to 4326 for the join
    # predicate, as the reference transforms the query rect
    # (src/image_collection.cpp:1326). Mercator is monotonic/axis-aligned,
    # so corners map to corners — native column math, no UDF. Non-separable
    # SRS (UTM) get a CONSERVATIVE 4326 bbox below (the chunk kernel's
    # per-cell inside test keeps the result exact; extra joined images
    # contribute no cells).
    from .. import srs as _srs

    srs_n = _srs.normalize(v.srs)
    if srs_n == "EPSG:3857":
        ch_left = _srs.col_x_to_lon(ch_left)
        ch_right = _srs.col_x_to_lon(ch_right)
        ch_bottom = _srs.col_y_to_lat(ch_bottom)
        ch_top = _srs.col_y_to_lat(ch_top)
    out = df.select(
        "chunk_id",
        ch_left.alias("ch_left"),
        ch_right.alias("ch_right"),
        ch_bottom.alias("ch_bottom"),
        ch_top.alias("ch_top"),
        t_start.alias("ch_t_start"),
        t_end.alias("ch_t_end"),
        it0.cast("int").alias("ch_it0"),
    )
    # everything that isn't 4326 (exact already) or 3857 (column math
    # above) goes through bbox_to_wgs84 — exact corner mapping for the
    # remaining separable family (CEA), conservative densified-edge bbox
    # for the non-separable ones; chunk-count-sized work either way
    if srs_n not in ("EPSG:4326", "EPSG:3857"):
        import pandas as pd

        def to4326(batches):
            for pdf in batches:
                l, r, b, t = [], [], [], []
                for _, row in pdf.iterrows():
                    lo0, lo1, la0, la1 = _srs.bbox_to_wgs84(
                        row["ch_left"], row["ch_right"],
                        row["ch_bottom"], row["ch_top"], srs_n,
                    )
                    l.append(lo0); r.append(lo1); b.append(la0); t.append(la1)
                yield pdf.assign(ch_left=l, ch_right=r, ch_bottom=b, ch_top=t)

        out = out.mapInPandas(to4326, schema=out.schema)
    return out


def _time_at(it, v):
    """Timestamp column for slice index ``it`` on a regular axis."""
    t0 = F.lit(v.t0)
    if v.dt.unit == "Y":
        return F.make_timestamp(
            F.lit(v.t0.year) + it * v.dt.n, F.lit(v.t0.month), F.lit(v.t0.day),
            F.lit(v.t0.hour), F.lit(v.t0.minute), F.lit(v.t0.second),
        )
    if v.dt.unit == "M":
        return F.timestamp_add("MONTH", (it * v.dt.n).cast("int"), t0)
    return F.timestamp_add("SECOND", (it * v.dt.seconds).cast("long"), t0)


def _residual_predicate(img, ch):
    """Exact find_range_st predicate (see module docstring)."""
    spatial = ~(
        (img["right"] < ch["ch_left"])
        | (img["left"] > ch["ch_right"])
        | (img["bottom"] > ch["ch_top"])
        | (img["top"] < ch["ch_bottom"])
    )
    temporal = (img["ts"] >= ch["ch_t_start"]) & (img["ts"] <= ch["ch_t_end"])
    return spatial & temporal


def st_join(
    images: DataFrame,
    grid: ChunkGrid,
    method: str = "auto",
    cell_deg: float | None = None,
    broadcast_threshold: int = 5_000_000,
) -> DataFrame:
    """images ⋈ chunks; returns image columns + CHUNK_COLS."""
    spark = images.sparkSession
    chunks = chunks_df(spark, grid)
    if method == "auto":
        method = "broadcast" if grid.count <= broadcast_threshold else "cells"

    if method == "broadcast":
        # a broadcast st_join is a nested-loop probe: every image partition
        # evaluates the residual predicate against the whole chunk grid, so
        # a 1-3-partition metadata scan serializes images x chunks predicate
        # work on as many cores. Widen narrow scans first (footprint tuples
        # only — the no-bytes-shuffle property is unchanged for wide inputs).
        from ..partition import spread

        return spread(images).join(
            F.broadcast(chunks), _residual_predicate(images, chunks))

    # The three cell-keyed strategies share ONE shape — conservative cover
    # explode on both sides, cell equi-join, exact bbox+time residual,
    # ownership dedup on the cell of the intersection's bottom-left corner
    # (that cell is in both covers by each index's superset property, so
    # exactly one joined row survives: no distinct() shuffle) — and differ
    # only in the cover function and the owner-cell expression:
    #   's2'    Hilbert-curve cells (functions/s2.py, Arrow-batch cover;
    #           range-partitionable key, s2.range_partition_by_cell)
    #   'hex'   aperture-7 hexes on the equal-area plane
    #           (functions/hexgrid.py; uniform-area join-key populations)
    #   'cells' the flat lon/lat grid (functions/cells.py, native exprs)
    deg = cell_deg or max(
        grid.view.dx * grid.view.chunk_nx, grid.view.dy * grid.view.chunk_ny
    )
    if method == "s2":
        from ..functions import s2 as s2m

        level = s2m.level_for_deg(deg)
        cov = s2m.cover_cells_udf(level)

        def owner(joined):
            # numpy batch leaf + native parent bit-mask: the owner id is a
            # join-internal key, and the native s2_cell_id fold evaluates
            # interpreted (~1 ms/joined row, codegen blocked by its
            # higher-order binding); np_point_leaf is the py_cell_id-pinned
            # batch twin the cover side already uses
            leaf = s2m.point_leaf_udf()(
                F.greatest(F.col("left"), F.col("ch_left")),
                F.greatest(F.col("bottom"), F.col("ch_bottom")))
            return joined, s2m.s2_parent(leaf, level), ()
    elif method == "hex":
        from ..functions import hexgrid as hgm

        res = hgm.res_for_deg(deg)
        cov = hgm.cover_cells_udf(res)

        def owner(joined):
            owned = hgm.hex_cells(
                joined.withColumn("_own_x", F.greatest(F.col("left"), F.col("ch_left")))
                .withColumn("_own_y", F.greatest(F.col("bottom"), F.col("ch_bottom"))),
                "_own_x", "_own_y", res, cell_col="_own_cell", parent_col=None,
            )
            return owned, F.col("_own_cell"), ("_own_x", "_own_y", "_own_cell")
    elif method == "cells":
        def cov(lo, hi, blo, bhi):
            return C.cover_cells(lo, hi, blo, bhi, deg)

        def owner(joined):
            return joined, C.cell_id(
                F.greatest(F.col("left"), F.col("ch_left")),
                F.greatest(F.col("bottom"), F.col("ch_bottom")), deg), ()
    else:
        raise ValueError(f"unknown method {method!r}")

    if method in ("s2", "hex"):
        # narrow metadata rows: make sure the Arrow cover stage sees every
        # core (a small parquet scan may yield fewer splits than cores; the
        # repartition is a cheap exchange of footprint tuples, never bytes)
        par = spark.sparkContext.defaultParallelism
        if images.rdd.getNumPartitions() < par:
            images = images.repartition(par)
    img_c = images.withColumn(
        "cell", F.explode(cov(F.col("left"), F.col("right"), F.col("bottom"), F.col("top")))
    )
    ch_c = chunks.withColumn(
        "cell",
        F.explode(cov(F.col("ch_left"), F.col("ch_right"), F.col("ch_bottom"), F.col("ch_top"))),
    )
    joined, owner_col, tmp_cols = owner(img_c.join(ch_c, "cell"))
    out = joined.filter(_residual_predicate(joined, joined) & (F.col("cell") == owner_col))
    return out.drop("cell", *tmp_cols)


def assignment(images: DataFrame, grid: ChunkGrid, **kw) -> DataFrame:
    """The (image_id, chunk_id) assignment relation — the oracle-checked
    join-output rows required by BASELINE.json (exact equality gate)."""
    return st_join(images, grid, **kw).select("image_id", "chunk_id")
