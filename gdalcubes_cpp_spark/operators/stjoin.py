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
by chunk count: ``broadcast`` up to BROADCAST_MAX_CHUNKS (5M) chunks,
``cells`` above it. ``s2`` and ``hex`` are chosen explicitly.

* ``broadcast``: the chunk grid is generated from the view (pure arithmetic
  on ``spark.range``) and broadcast; images stream past it with the residual
  predicate applied directly. No shuffle of the image table at all, however
  few partitions its scan plans: the probe is a JVM predicate over the
  broadcast grid, cheap per image — the right choice whenever the chunk
  grid fits in memory (≲ ~5M chunks).

* ``cells``: both sides explode to covering spatial cells one chunk wide
  (the larger of the chunk's two extents; functions/cells.py) and
  equi-join on cell id — the scale path
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

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import srs as _srs
from ..functions import cells as C
from ..grid import ChunkGrid
from ..partition import spread
from ..srs import _flit

CHUNK_COLS = [
    "chunk_id", "ch_left", "ch_right", "ch_bottom", "ch_top",
    "ch_t_start", "ch_t_end", "ch_it0",
]
# method='auto' broadcasts chunk grids up to this many chunks
BROADCAST_MAX_CHUNKS = 5_000_000


def chunks_df(spark: SparkSession, grid: ChunkGrid) -> DataFrame:
    """Generate the chunk grid as a DataFrame (bounds_from_chunk as columns).

    JVM arithmetic from ``spark.range(n_chunks)`` — never materialized on
    the driver (which computes at most the ncx+1 + ncy+1 axis edges), so a
    billion-chunk grid is fine.
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
    # (src/image_collection.cpp:1326). A separable SRS maps corners to
    # corners, so the ncx+1 lon and ncy+1 lat chunk edges are transformed
    # once on the driver and looked up by chunk column and row; when they
    # equal the view's own edges (4326) the JVM arithmetic above stands.
    separable = _srs.is_separable(v.srs)
    if separable:
        xe = v.left + np.minimum(np.arange(ncx + 1) * v.chunk_nx, v.nx) * v.dx
        ye = v.top - np.minimum(np.arange(ncy + 1) * v.chunk_ny, v.ny) * v.dy
        lon_e, lat_e = _srs.axis_to_wgs84(xe, ye, v.srs)
        if not (np.array_equal(lon_e, xe) and np.array_equal(lat_e, ye)):
            lon_a = F.expr(f"array({', '.join(map(_flit, lon_e))})")
            lat_a = F.expr(f"array({', '.join(map(_flit, lat_e))})")
            ch_left = F.element_at(lon_a, (cx + 1).cast("int"))
            ch_right = F.element_at(lon_a, (cx + 2).cast("int"))
            ch_top = F.element_at(lat_a, (cy + 1).cast("int"))
            ch_bottom = F.element_at(lat_a, (cy + 2).cast("int"))
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
    if separable:
        return out

    # a non-separable SRS (UTM, ...) gets a CONSERVATIVE densified-edge
    # 4326 bbox per chunk (a superset of the images whose footprint meets
    # the chunk, as in the reference's transformed query rect)
    srs = v.srs

    def to4326(batches):
        for pdf in batches:
            cols = ("ch_left", "ch_right", "ch_bottom", "ch_top")
            rects = [_srs.bbox_to_wgs84(*e, srs)
                     for e in zip(*(pdf[c].to_numpy() for c in cols))]
            yield pdf.assign(**{c: [r[k] for r in rects] for k, c in enumerate(cols)})

    return out.mapInPandas(to4326, schema=out.schema)


def _time_at(it, v):
    """Timestamp column for slice index ``it`` on a regular axis. Years are
    12-month steps: timestamp_add clamps the day-of-month as
    view.add_duration does (2020-02-29 + P1Y -> 2021-02-28)."""
    t0 = F.lit(v.t0)
    if v.dt.unit in ("Y", "M"):
        months = v.dt.n * (12 if v.dt.unit == "Y" else 1)
        return F.timestamp_add("MONTH", (it * months).cast("int"), t0)
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
) -> DataFrame:
    """images ⋈ chunks; returns image columns + CHUNK_COLS."""
    spark = images.sparkSession
    chunks = chunks_df(spark, grid)
    if method == "auto":
        method = "broadcast" if grid.count <= BROADCAST_MAX_CHUNKS else "cells"

    if method == "broadcast":
        # a nested-loop probe of each image against the broadcast grid is a
        # codegen'd JVM predicate: on a narrow scan it costs less than the
        # round-robin exchange a spread would put in front of it (16-chunk
        # grid, 3-partition scan, 4 cores: 0.69 -> 0.48 s without it)
        return images.join(F.broadcast(chunks), _residual_predicate(images, chunks))

    # The three cell-keyed strategies share ONE shape — conservative cover
    # explode on both sides, cell equi-join, exact bbox+time residual,
    # ownership dedup on the cell of the intersection's bottom-left corner
    # (that cell is in both covers by each index's superset property, so
    # exactly one joined row survives: no distinct() shuffle) — and differ
    # only in the cover function and the point-cell function of the owner
    # corner:
    #   's2'    Hilbert-curve cells (functions/s2.py; both are numpy batch
    #           UDFs; range-partitionable key, s2.range_partition_by_cell)
    #   'hex'   aperture-7 hexes on the equal-area plane
    #           (functions/hexgrid.py; numpy batch UDFs; uniform-area
    #           join-key populations)
    #   'cells' the flat lon/lat grid (functions/cells.py, native exprs)
    deg = max(grid.view.dx * grid.view.chunk_nx, grid.view.dy * grid.view.chunk_ny)
    if method == "s2":
        from ..functions import s2 as s2m

        level = s2m.level_for_deg(deg)
        cov = s2m.cover_cells_udf(level)

        def cell_of(x, y):
            return s2m.s2_cell_id(x, y, level)
    elif method == "hex":
        from ..functions import hexgrid as hgm

        res = hgm.res_for_deg(deg)
        cov = hgm.cover_cells_udf(res)
        cell_of = hgm.encode_udf(res)
    elif method == "cells":
        def cov(lo, hi, blo, bhi):
            return C.cover_cells(lo, hi, blo, bhi, deg)

        def cell_of(x, y):
            return C.cell_id(x, y, deg)
    else:
        raise ValueError(f"unknown method {method!r}")

    if method in ("s2", "hex"):
        # narrow metadata rows: make sure the Arrow cover stage sees every
        # core (a small parquet scan may yield fewer splits than cores; the
        # repartition is a cheap exchange of footprint tuples, never bytes)
        images = spread(images)
    img_c = images.withColumn(
        "cell", F.explode(cov(F.col("left"), F.col("right"), F.col("bottom"), F.col("top")))
    )
    ch_c = chunks.withColumn(
        "cell",
        F.explode(cov(F.col("ch_left"), F.col("ch_right"), F.col("ch_bottom"), F.col("ch_top"))),
    )
    joined = img_c.join(ch_c, "cell")
    owner = cell_of(F.greatest(F.col("left"), F.col("ch_left")),
                    F.greatest(F.col("bottom"), F.col("ch_bottom")))
    return joined.filter(_residual_predicate(joined, joined) & (F.col("cell") == owner)).drop("cell")


def assignment(images: DataFrame, grid: ChunkGrid, **kw) -> DataFrame:
    """The (image_id, chunk_id) assignment relation — the oracle-checked
    join-output rows required by BASELINE.json (exact equality gate)."""
    return st_join(images, grid, **kw).select("image_id", "chunk_id")
