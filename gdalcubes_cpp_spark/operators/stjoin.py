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
Only footprints with four finite edges join (FINITE, one filter per image
row under every method). Chunk bounds, ids and slots are grid.py's SQL.

Four physical methods. method='auto' picks only ``broadcast`` or ``cells``,
by chunk count: ``broadcast`` up to BROADCAST_MAX_CHUNKS (5M) chunks,
``cells`` above it. ``s2`` and ``hex`` are chosen explicitly.

* ``broadcast``: the chunk grid (chunks_df, one projection over
  ``spark.range``) is broadcast; images stream past it with the residual
  predicate applied directly. No shuffle of the image table at all, however
  few partitions its scan plans: the probe is a JVM predicate over the
  broadcast grid, cheap per image — the right choice whenever the chunk
  grid fits in memory (≲ ~5M chunks).

* ``cells``: both sides explode to covering spatial cells one chunk wide
  (grid.chunk_extent; functions/cells.py) and equi-join on cell id — the
  scale path for planet-sized chunk grids. Duplicate (image, chunk) pairs
  from multi-cell overlaps are eliminated WITHOUT a distinct-shuffle by the
  bottom-left-corner ownership trick: a pair is emitted only by the cell
  containing the intersection's bottom-left corner. Hot cells (skewed image
  density) are handled by AQE skew-join splitting.

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
    "ch_t_start", "ch_t_end", "ch_it0", "ch_it1",
]
# method='auto' broadcasts chunk grids up to this many chunks
BROADCAST_MAX_CHUNKS = 5_000_000

# find_range_st over an image row and a chunk row
RESIDUAL = ("NOT (`right` < ch_left OR `left` > ch_right"
            " OR `bottom` > ch_top OR `top` < ch_bottom)"
            " AND ts >= ch_t_start AND ts <= ch_t_end")
# x - x is 0 for a finite x, NaN for NaN or an infinity and NULL for NULL:
# only footprints with four finite edges join (Spark orders NaN above every
# double, so RESIDUAL alone would let a NaN right or top edge through)
FINITE = " AND ".join(f"`{c}` - `{c}` = 0" for c in ("left", "right", "bottom", "top"))


def chunks_df(spark: SparkSession, grid: ChunkGrid) -> DataFrame:
    """The chunk grid as CHUNK_COLS rows: one projection of grid.bounds_sql
    over ``spark.range(n_chunks)``, never materialized on the driver (which
    computes at most the ncx+1 + ncy+1 axis edges), so a billion-chunk grid
    is fine."""
    v = grid.view
    b = grid.bounds_sql("id")
    # footprints are stored in EPSG:4326 (src/image_collection.cpp:309-326);
    # a non-4326 view transforms its chunk rectangles to 4326 for the join
    # predicate, as the reference transforms the query rect
    # (src/image_collection.cpp:1326). A separable SRS maps corners to
    # corners, so the ncx+1 lon and ncy+1 lat chunk edges are transformed
    # once on the driver and looked up by chunk column and row; when they
    # equal the view's own edges (4326) the map bounds stand.
    separable = _srs.is_separable(v.srs)
    if separable:
        xe, ye = grid.axis_edges()
        lon_e, lat_e = _srs.axis_to_wgs84(xe, ye, v.srs)
        if not (np.array_equal(lon_e, xe) and np.array_equal(lat_e, ye)):
            _, cy, cx = grid.coords_sql("id")
            lon_a = f"array({', '.join(map(_flit, lon_e))})"
            lat_a = f"array({', '.join(map(_flit, lat_e))})"
            b.update(left=f"element_at({lon_a}, CAST({cx} + 1 AS INT))",
                     right=f"element_at({lon_a}, CAST({cx} + 2 AS INT))",
                     top=f"element_at({lat_a}, CAST({cy} + 1 AS INT))",
                     bottom=f"element_at({lat_a}, CAST({cy} + 2 AS INT))")
    out = spark.range(grid.count).selectExpr(
        "id AS chunk_id", *(f"{b[c[3:]]} AS {c}" for c in CHUNK_COLS[1:]))
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


def st_join(
    images: DataFrame,
    grid: ChunkGrid,
    method: str = "auto",
) -> DataFrame:
    """images ⋈ chunks; returns image columns + CHUNK_COLS. Images whose
    footprint has a NaN, infinite or NULL edge join no chunk, under every
    method."""
    spark = images.sparkSession
    chunks = chunks_df(spark, grid)
    source, images = images, images.where(FINITE)
    if method == "auto":
        method = "broadcast" if grid.count <= BROADCAST_MAX_CHUNKS else "cells"

    if method == "broadcast":
        # a nested-loop probe of each image against the broadcast grid is a
        # codegen'd JVM predicate: on a narrow scan it costs less than the
        # round-robin exchange a spread would put in front of it (16-chunk
        # grid, 3-partition scan, 4 cores: 0.69 -> 0.48 s without it)
        return images.join(F.broadcast(chunks), F.expr(RESIDUAL))

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
    deg = grid.chunk_extent
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
        # repartition is a cheap exchange of footprint tuples, never bytes);
        # the caller's frame decides, so one collection is probed once
        images = spread(images, source)
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
    return joined.filter(F.expr(RESIDUAL) & (F.col("cell") == owner)).drop("cell")


def assignment(images: DataFrame, grid: ChunkGrid, **kw) -> DataFrame:
    """The (image_id, chunk_id) assignment relation — the oracle-checked
    join-output rows required by BASELINE.json (exact equality gate)."""
    return st_join(images, grid, **kw).select("image_id", "chunk_id")
