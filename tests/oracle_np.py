"""Pure-numpy oracle: independent transliteration of the reference kernels
(SURVEY.md §2.2-2.3 citations) used to verify the Spark engine cell-exactly.
Kept free of any engine code except primitives that are themselves
unit-tested against hand-computed values or independent implementations:
codecs, warp_plane, the srs transforms, and the mask classes' test/apply.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from gdalcubes_cpp_spark import codecs, srs
from gdalcubes_cpp_spark.operators.build import AGG_RESAMPLERS, BandMask, FileMask, warp_plane


# Chunk layouts an oracle-exact build test runs one view under, by test id.
# count_images, count_values, none and the chunk-bounded time slots of
# mid-period M/Y axes depend on where chunk edges fall:
#   cell_long     the view's own chunk_size
#   chunk_kernel  one-slot chunks a few cells wide, ragged at the view's
#                 edges, so every image spans many chunks
#   salted        one chunk holding the whole view, so every image lands in
#                 the same (hot) chunk
# The ids are the names of the build strategies these cases selected before
# the cell_long scan became the only build path; they keep the test ids.
CHUNK_LAYOUTS = ("cell_long", "chunk_kernel", "salted")


def relayout(view, layout: str):
    """``view`` with the chunk layout named ``layout`` (CHUNK_LAYOUTS)."""
    if layout == "cell_long":
        return view
    if layout == "chunk_kernel":
        nt, ny, nx = 1, max(1, view.ny * 5 // 16), max(1, view.nx * 3 // 8)
    elif layout == "salted":
        nt, ny, nx = view.nt, view.ny, view.nx
    else:
        raise ValueError(f"unknown chunk layout {layout!r}")
    return replace(view, chunk_nt=nt, chunk_ny=ny, chunk_nx=nx)


def _is_masked(mask, v) -> bool:
    """A FileMask mask_value: None/NaN never masks."""
    if v is None or np.isnan(float(v)):
        return False
    return bool(mask.test(np.asarray([[float(v)]]))[0, 0])


def dense_cube(pdf, view, resampling="near", aggregation="mean", nb=2, decode=None,
               value_fn=None, mask=None, mask_table=None):
    """Build the dense (nb, nt, ny, nx) array the reference would produce.

    Transliterates read_chunk (src/image_collection_cube.cpp:315-598):
    iterates CHUNKS, selects intersecting images (find_range_st on the
    chunk's EPSG:4326 bbox), warps them into the chunk-local grid, and
    streams the aggregation — the per-chunk granularity matters for count_*
    (the plane-flip-to-0 applies per chunk time slice, not per view slice).

    - ``view.srs``: cell centres go to lon/lat per axis for a separable SRS
      and per cell otherwise; a cell takes an image's value only if its
      centre lies in the footprint [left,right)x(bottom,top].
    - Time slots come from ``view.slot_index_of``: exact label matches on a
      labeled axis.
    - ``value_fn(image_id) -> (nb,) scalars``: one constant per image over
      its covered cells, no decode.
    - ``mask``: ValueMask/RangeMask on the warped bands; BandMask on its
      channel warped 'near'; FileMask with ``mask_table`` (pandas), either
      (image_id, bytes, fmt) — its own plane warped 'near', images without
      a row unmasked — or (image_id, mask_value) — a matching value drops
      the whole image.
    """
    from gdalcubes_cpp_spark.grid import ChunkGrid

    v = view
    grid = ChunkGrid(v)
    separable = srs.is_separable(v.srs)
    if resampling in AGG_RESAMPLERS and not separable:
        raise ValueError("aggregating resamplers need a separable view SRS")
    mask_rows, by_value = {}, False
    if mask_table is not None:
        by_value = "mask_value" in mask_table.columns
        mask_rows = dict(zip(mask_table["image_id"], mask_table["mask_value"] if by_value
                             else zip(mask_table["bytes"], mask_table["fmt"])))
    out = np.full((nb, v.nt, v.ny, v.nx), np.nan)
    # (image_id, descriptor) order, numerically: (len, id)
    pdf = pdf.assign(_l=pdf["image_id"].str.len()).sort_values(["_l", "image_id"])
    for cid in grid.chunk_ids():
        bd = grid.chunk_bounds(cid)
        lo0, lo1, la0, la1 = srs.bbox_to_wgs84(
            bd["left"], bd["right"], bd["bottom"], bd["top"], v.srs)
        m = ~(
            (pdf["right"] < lo0) | (pdf["left"] > lo1)
            | (pdf["bottom"] > la1) | (pdf["top"] < la0)
        )
        m &= (pdf["ts"] >= bd["t_start"]) & (pdf["ts"] <= bd["t_end"])
        sel = pdf.loc[m]
        if not len(sel):
            continue
        nt_c = bd["it1"] - bd["it0"]
        ny_c = bd["iy1"] - bd["iy0"]
        nx_c = bd["ix1"] - bd["ix0"]
        xs = v.left + (np.arange(bd["ix0"], bd["ix1"]) + 0.5) * v.dx
        ys = v.top - (np.arange(bd["iy0"], bd["iy1"]) + 0.5) * v.dy
        wkw = {}
        if separable:
            wx, wy = srs.axis_to_wgs84(xs, ys, v.srs)
            LON, LAT = np.meshgrid(wx, wy)
            if resampling in AGG_RESAMPLERS:
                wkw["x_edges"], wkw["y_edges"] = srs.axis_to_wgs84(
                    v.left + np.arange(bd["ix0"], bd["ix1"] + 1) * v.dx,
                    v.top - np.arange(bd["iy0"], bd["iy1"] + 1) * v.dy, v.srs)
        else:
            LON, LAT = srs.grid_to_wgs84(xs, ys, v.srs)
            wx, wy = LON, LAT
        shape = (nb, nt_c, ny_c, nx_c)
        sums = np.zeros(shape)
        cnts = np.zeros(shape)
        acc = np.full(shape, np.nan)
        med: dict = {}
        for _, r in sel.iterrows():
            it = v.slot_index_of(r["ts"].to_pydatetime()) - bd["it0"]
            if it < 0 or it >= nt_c:
                continue
            mrow = mask_rows.get(r["image_id"])
            if by_value and _is_masked(mask, mrow):
                continue
            bounds = (r["left"], r["right"], r["bottom"], r["top"])
            inside = ((LON >= r["left"]) & (LON < r["right"])
                      & (LAT > r["bottom"]) & (LAT <= r["top"]))
            if value_fn is not None:
                vals = np.asarray(value_fn(r["image_id"])[:nb], dtype=np.float64)
                planes = np.where(inside, vals[:, None, None], np.nan)
            else:
                raw = (decode or codecs.decode)(r["bytes"], r["fmt"])
                planes = np.stack([
                    warp_plane(raw[:, :, b], bounds, wx, wy, resampling, **wkw)
                    for b in range(nb)
                ])
                planes[:, ~inside] = np.nan
                mp = None
                if isinstance(mask, FileMask):
                    if mrow is not None and not by_value:
                        mraw = (mask.decode_fn or codecs.decode)(*mrow)
                        mp = warp_plane(mraw[:, :, mask.channel], bounds, wx, wy, "near")
                elif isinstance(mask, BandMask):
                    mp = warp_plane(raw[:, :, mask.channel], bounds, wx, wy, "near")
                if mp is not None:
                    planes[:, mask.test(mp)] = np.nan
            if mask is not None and not isinstance(mask, BandMask):
                planes[:, mask.apply(planes)] = np.nan
            mm = ~np.isnan(planes)
            if aggregation == "mean":
                sums[:, it][mm] += planes[mm]
                cnts[:, it][mm] += 1
            elif aggregation == "min":
                acc[:, it] = np.fmin(acc[:, it], planes)
            elif aggregation == "max":
                acc[:, it] = np.fmax(acc[:, it], planes)
            elif aggregation == "first":
                take = np.isnan(acc[:, it]) & mm
                acc[:, it][take] = planes[take]
            elif aggregation == "last":
                acc[:, it][mm] = planes[mm]
            elif aggregation == "none":
                acc[:, it] = planes
            elif aggregation == "count_values":
                sl = acc[:, it]
                sl[np.isnan(sl)] = 0.0
                sl += mm
            elif aggregation == "count_images":
                sl = acc[:, it]
                sl[np.isnan(sl)] = 0.0
                sl += 1
            elif aggregation == "median":
                med.setdefault(it, []).append(planes)
            else:
                raise ValueError(aggregation)
        if aggregation == "mean":
            with np.errstate(invalid="ignore"):
                acc = sums / cnts
        elif aggregation == "median":
            for it, stack in med.items():
                with np.errstate(all="ignore"):
                    acc[:, it] = np.nanmedian(np.stack(stack), axis=0)
        out[:, bd["it0"]:bd["it1"], bd["iy0"]:bd["iy1"], bd["ix0"]:bd["ix1"]] = acc
    return out


def st_assignment(pdf, grid):
    """find_range_st join-rows oracle (inclusive time, strict-< disjoint)."""
    rows = []
    for cid in grid.chunk_ids():
        bd = grid.chunk_bounds(cid)
        m = ~(
            (pdf["right"] < bd["left"]) | (pdf["left"] > bd["right"])
            | (pdf["bottom"] > bd["top"]) | (pdf["top"] < bd["bottom"])
        )
        m &= (pdf["ts"] >= bd["t_start"]) & (pdf["ts"] <= bd["t_end"])
        for iid in pdf.loc[m, "image_id"]:
            rows.append((iid, cid))
    return sorted(rows)


def assert_dense_equal(got: np.ndarray, want: np.ndarray, atol=1e-9):
    assert got.shape == want.shape, (got.shape, want.shape)
    assert (np.isnan(got) == np.isnan(want)).all(), "NaN pattern mismatch"
    g, w = got[np.isfinite(got)], want[np.isfinite(want)]
    assert np.allclose(g, w, rtol=0, atol=atol), float(np.abs(g - w).max())
