"""Cube construction: the decode → warp → mask → temporal-aggregate path.

Reimplements image_collection_cube::read_chunk (src/image_collection_cube.cpp:
315-598). One per-batch cell step, _cell_step, turns image rows into the
view cells they contribute:
1. time slot per image (exact label match on labeled axes), and the
   FileMask mask_value test;
2. the cells whose centres lie in the footprint, [left,right)x(bottom,top]
   (per axis for separable view SRS, per cell for the rest);
3. decode ``bytes`` (numpy PNG / lossy-stub codec — GDAL's role), keeping
   only the requested channels (the band-subset VRT analog,
   src/image_collection_cube.cpp:431-455);
4. "warp" (gdalwarp_client::warp, src/warp.cpp:57-300): cell centres →
   EPSG:4326 → image pixel coordinates, sampled by any of the 12
   RESAMPLERS (5 point kernels, 7 aggregating ones); outside → NaN;
5. value/range, band and separate-file masks
   (src/image_collection_cube.h:34-146, .cpp:519-579).
It runs over flat (image, cell) arrays, so only decode, value_fn and
non-'near' warps cost a Python call per image.

The step runs at the scan (scan_cells, one mapInArrow over the image
rows), so image bytes never cross an exchange. build_cells_long then
aggregates the long (cell, value) rows with native groupBys, one plan per
aggregation: per-cell aggregates for mean/min/max/first/last/median, and
for the slice aggregations (count_values, count_images, none) the
(chunk, slot) slices each image lands in, from st_join (_touched). No
Python task is keyed by chunk: map-side partial aggregation and AQE absorb
hot cells.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from .. import codecs
from ..grid import ChunkGrid
from ..partition import for_scan
from ..srs import _flit
from ..view import CubeView
from .stjoin import st_join

DEFAULT_BANDS = ("B1", "B2")


def default_decode(data: bytes, fmt: str) -> np.ndarray:
    """payload -> (h, w, c) array; swap for GDAL/libjpeg on a real cluster.
    The scan hands every decode_fn a read-only memoryview of the payload
    in the Arrow batch (bytes-like: slice it, or copy it with bytes())."""
    return codecs.decode(data, fmt)


def srcdata_decode(nodata=None, scale: float = 1.0, offset: float = 0.0,
                   base: Callable = default_decode) -> Callable:
    """GDAL-read semantics for DECLARED band metadata, applied right after
    decode and before warp: the reference feeds each band's nodata to the
    warper so those pixels leave the interpolation entirely
    (src/warp.cpp srcnodata -> NaN), and applies packed scale/offset on
    read (auto_unpack, src/ncdf_cube.h:45). ``nodata`` is a scalar for
    all channels or a per-channel sequence (None entries skip); then
    v = raw*scale + offset. Returns a decode_fn for build_cube — masking
    happens at the decode boundary, and the NaN-aware warp taps
    renormalize around the holes.
    Collection-format presets carry these values per band
    (sources/formats.py ingest_listing emits nodata/scale columns)."""

    def fn(data: bytes, fmt: str) -> np.ndarray:
        arr = np.asarray(base(data, fmt), dtype=np.float64)
        if nodata is not None:
            arr = arr.copy()
            if np.isscalar(nodata):
                arr[arr == float(nodata)] = np.nan
            else:
                for c, nd in enumerate(nodata):
                    if nd is not None:
                        ch = arr[:, :, c]
                        ch[ch == float(nd)] = np.nan
        if scale != 1.0 or offset != 0.0:
            arr = arr * float(scale) + float(offset)
        return arr

    return fn


class ValueMask:
    """value_mask: pixel ∈ set → masked (src/image_collection_cube.h:34-88)."""

    def __init__(self, band_idx: int, values, invert: bool = False):
        self.band_idx, self.values, self.invert = band_idx, np.asarray(list(values)), invert

    def apply(self, planes: np.ndarray) -> np.ndarray:
        m = np.isin(planes[self.band_idx], self.values)
        return ~m if self.invert else m


class RangeMask:
    """range_mask: min<=pixel<=max → masked (src/image_collection_cube.h:90-146)."""

    def __init__(self, band_idx: int, vmin: float, vmax: float, invert: bool = False):
        self.band_idx, self.vmin, self.vmax, self.invert = band_idx, vmin, vmax, invert

    def apply(self, planes: np.ndarray) -> np.ndarray:
        m = (planes[self.band_idx] >= self.vmin) & (planes[self.band_idx] <= self.vmax)
        return ~m if self.invert else m


class BandMask:
    """Per-image SEPARATE mask band (src/image_collection_cube.cpp:519-579):
    a dedicated channel of the image (e.g. Sentinel-2 SCL) is warped with
    NEAREST — always, regardless of the view's data resampling, as the
    reference does — and data cells whose warped mask value matches become
    nodata in every data band. Match by value set OR inclusive range;
    ``invert`` flips the rule. NaN mask cells (outside the footprint) never
    mask (the data there is NaN already)."""

    def __init__(self, channel: int, values=None, vmin: float | None = None,
                 vmax: float | None = None, invert: bool = False):
        if (values is None) == (vmin is None or vmax is None):
            raise ValueError("BandMask needs either values or (vmin, vmax)")
        self.channel = channel
        self.values = None if values is None else np.asarray(list(values))
        self.vmin, self.vmax, self.invert = vmin, vmax, invert

    def test(self, mask_plane: np.ndarray) -> np.ndarray:
        if self.values is not None:
            m = np.isin(mask_plane, self.values)
        else:
            with np.errstate(invalid="ignore"):
                m = (mask_plane >= self.vmin) & (mask_plane <= self.vmax)
        if self.invert:
            m = ~m & ~np.isnan(mask_plane)
        return m


class FileMask(BandMask):
    """Mask band in its OWN FILE (src/image_collection_cube.cpp:519-579 with
    a separate gdalref descriptor — the real Sentinel-2 layout: SCL_20m.jp2
    is a different file at a different resolution than the 10 m data bands;
    r2 VERDICT missing #1). The mask table joins the image table on
    image_id at the COLLECTION level (build_cube(mask_table=...)); the mask
    plane is decoded from its own bytes — its own (w, h), any resolution —
    and warped NEAREST onto the view grid (always nearest, regardless of
    the data resampling, as the reference does), then data cells whose
    warped mask value matches become nodata in every band. Images without a
    mask row pass through unmasked (left-join semantics).

    Metadata path (the SQL-oracle-checkable driver query): a mask_table
    with a ``mask_value`` column models a constant mask plane per image —
    a matching value masks the image's whole footprint."""

    def __init__(self, values=None, vmin: float | None = None,
                 vmax: float | None = None, invert: bool = False,
                 channel: int = 0, decode_fn: Callable | None = None):
        super().__init__(channel, values, vmin, vmax, invert)
        # The mask file has its OWN per-band metadata: a data-band
        # srcdata_decode (nodata/scale/offset) must NOT shift SCL-style
        # class values before test() matches them. None -> raw decode.
        self.decode_fn = decode_fn

    def test_scalar(self, v) -> bool:
        if v is None:
            return False
        v = float(v)
        if np.isnan(v):
            return False
        return bool(self.test(np.asarray([[v]]))[0, 0])


def join_mask_table(images: DataFrame, mask_table: DataFrame) -> DataFrame:
    """LEFT-join the separate-file mask rows onto the image table (the
    collection-level band-file join): (image_id, bytes, fmt) -> m_bytes/
    m_fmt, or (image_id, mask_value) -> m_val for the metadata path."""
    cols = set(mask_table.columns)
    if "mask_value" in cols:
        mt = mask_table.select("image_id", F.col("mask_value").cast("double").alias("m_val"))
    elif {"bytes", "fmt"} <= cols:
        mt = mask_table.select(
            "image_id", F.col("bytes").alias("m_bytes"), F.col("fmt").alias("m_fmt")
        )
    else:
        raise ValueError("mask_table needs (image_id, bytes, fmt) or (image_id, mask_value)")
    return images.join(mt, "image_id", "left")


# resampling method registry (src/warp.cpp:159-182, enum src/view.h:111-124)
# point kernels gather at the target cell CENTER; aggregating kernels pool
# every source pixel whose center falls inside the target cell's footprint
POINT_RESAMPLERS = ("near", "bilinear", "cubic", "cubicspline", "lanczos")
AGG_RESAMPLERS = ("average", "mode", "min", "max", "med", "q1", "q3")
RESAMPLERS = POINT_RESAMPLERS + AGG_RESAMPLERS


def _sep_kernel_weights(t: np.ndarray, method: str) -> np.ndarray:
    """Weights of a separable convolution kernel at offsets ``t`` (|t| can
    exceed the support; weight 0 there)."""
    at = np.abs(t)
    if method == "cubic":
        # cubic convolution, a = -0.5 (Keys / GDAL GRA_Cubic)
        a = -0.5
        w = np.where(
            at <= 1.0,
            (a + 2.0) * at ** 3 - (a + 3.0) * at ** 2 + 1.0,
            np.where(at < 2.0, a * at ** 3 - 5.0 * a * at ** 2 + 8.0 * a * at - 4.0 * a, 0.0),
        )
        return w
    if method == "cubicspline":
        # cubic B-spline (smoothing, GDAL GRA_CubicSpline)
        return np.where(
            at <= 1.0,
            (4.0 - 6.0 * at ** 2 + 3.0 * at ** 3) / 6.0,
            np.where(at < 2.0, (2.0 - at) ** 3 / 6.0, 0.0),
        )
    if method == "lanczos":
        # Lanczos windowed sinc, a = 3 (GDAL GRA_Lanczos)
        with np.errstate(invalid="ignore", divide="ignore"):
            w = np.where(
                at < 3.0, np.sinc(t) * np.sinc(t / 3.0), 0.0
            )
        return w
    raise ValueError(method)


_KERNEL_TAPS = {"cubic": 2, "cubicspline": 2, "lanczos": 3}


def warp_plane(
    plane: np.ndarray,
    img_bounds: tuple,
    xs: np.ndarray,
    ys: np.ndarray,
    resampling: str,
    x_edges: np.ndarray | None = None,
    y_edges: np.ndarray | None = None,
) -> np.ndarray:
    """Resample one image band onto target cell centers (vectorized numpy).

    ``xs``/``ys`` are target cell-center coordinates in the image's SRS —
    either 1-D axis vectors (separable view SRS; output (len(ys), len(xs)))
    or 2-D grids of identical shape (non-separable SRS, e.g. a UTM view
    over 4326 footprints; output = that shape). NaN outside the footprint.

    Point kernels (POINT_RESAMPLERS): near = integer gather (exact);
    bilinear / cubic / cubicspline / lanczos = separable 2/4/6-tap weighted
    gathers with edge clamping and NaN-aware weight renormalization
    (src/warp.cpp:159-182 algorithm selection). Aggregating kernels
    (AGG_RESAMPLERS) pool the source pixels whose centers fall inside each
    target cell — see warp_plane_agg (1-D axes only).
    """
    if resampling in AGG_RESAMPLERS:
        return warp_plane_agg(plane, img_bounds, xs, ys, resampling, x_edges, y_edges)
    ileft, iright, ibottom, itop = img_bounds
    h, w = plane.shape
    pdx = (iright - ileft) / w
    pdy = (itop - ibottom) / h
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    two_d = xs.ndim == 2
    fx = (xs - ileft) / pdx  # continuous col coordinate (0..w)
    fy = (itop - ys) / pdy   # continuous row coordinate (0..h)
    out_shape = fx.shape if two_d else (len(ys), len(xs))
    out = np.full(out_shape, np.nan)
    inside_x = (fx >= 0) & (fx < w)
    inside_y = (fy >= 0) & (fy < h)
    mask = (inside_x & inside_y) if two_d else np.outer(inside_y, inside_x)
    if not mask.any():
        return out
    if resampling == "near":
        cx = np.floor(fx).astype(np.int64).clip(0, w - 1)
        cy = np.floor(fy).astype(np.int64).clip(0, h - 1)
        vals = plane[cy, cx].astype(np.float64) if two_d else plane[np.ix_(cy, cx)].astype(np.float64)
        out[mask] = vals[mask]
        return out
    if resampling == "bilinear":
        gx = fx - 0.5  # sample at pixel centers
        gy = fy - 0.5
        x0 = np.floor(gx).astype(np.int64)
        y0 = np.floor(gy).astype(np.int64)
        wx = gx - x0
        wy = gy - y0
        x0c = x0.clip(0, w - 1); x1c = (x0 + 1).clip(0, w - 1)
        y0c = y0.clip(0, h - 1); y1c = (y0 + 1).clip(0, h - 1)
        p = plane.astype(np.float64)
        if two_d:
            v00 = p[y0c, x0c]; v01 = p[y0c, x1c]
            v10 = p[y1c, x0c]; v11 = p[y1c, x1c]
            WX, WY = wx, wy
        else:
            v00 = p[np.ix_(y0c, x0c)]; v01 = p[np.ix_(y0c, x1c)]
            v10 = p[np.ix_(y1c, x0c)]; v11 = p[np.ix_(y1c, x1c)]
            WX = wx[None, :]; WY = wy[:, None]
        # NaN-aware: nodata taps drop out and the remaining weights
        # renormalize (GDAL nodata-masked bilinear); all-NaN support -> NaN
        acc = np.zeros(out_shape)
        wsum = np.zeros(out_shape)
        for v, wgt in (
            (v00, (1 - WX) * (1 - WY)), (v01, WX * (1 - WY)),
            (v10, (1 - WX) * WY), (v11, WX * WY),
        ):
            valid = ~np.isnan(v)
            acc += np.where(valid, wgt * v, 0.0)
            wsum += wgt * valid
        with np.errstate(invalid="ignore", divide="ignore"):
            vals = acc / wsum
        out[mask] = vals[mask]
        return out
    if resampling in _KERNEL_TAPS:
        taps = _KERNEL_TAPS[resampling]
        gx = fx - 0.5
        gy = fy - 0.5
        x0 = np.floor(gx).astype(np.int64)
        y0 = np.floor(gy).astype(np.int64)
        p = plane.astype(np.float64)
        acc = np.zeros(out_shape)
        wsum = np.zeros(out_shape)
        for dy in range(1 - taps, taps + 1):
            wy_k = _sep_kernel_weights(gy - (y0 + dy), resampling)
            yc = (y0 + dy).clip(0, h - 1)
            for dx in range(1 - taps, taps + 1):
                wx_k = _sep_kernel_weights(gx - (x0 + dx), resampling)
                xc = (x0 + dx).clip(0, w - 1)
                pv = p[yc, xc] if two_d else p[np.ix_(yc, xc)]
                wgt = (wy_k * wx_k) if two_d else (wy_k[:, None] * wx_k[None, :])
                # NaN-aware renormalization (r2 ADVICE): a nodata source
                # pixel contributes neither value nor weight, instead of
                # poisoning every output cell its kernel support touches
                valid = ~np.isnan(pv)
                acc += np.where(valid, wgt * pv, 0.0)
                wsum += wgt * valid
        with np.errstate(invalid="ignore", divide="ignore"):
            # renormalize (edge clamp + NaN drop-out); a negligible surviving
            # weight mass (all meaningful taps were nodata — float residue
            # like sinc(1.0)=4e-17 may remain) is nodata, not noise/0
            vals = np.where(np.abs(wsum) > 1e-6, acc / wsum, np.nan)
        out[mask] = vals[mask]
        return out
    raise ValueError(f"unknown resampling {resampling!r}")


def warp_plane_agg(
    plane: np.ndarray,
    img_bounds: tuple,
    xs: np.ndarray,
    ys: np.ndarray,
    resampling: str,
    x_edges: np.ndarray | None = None,
    y_edges: np.ndarray | None = None,
) -> np.ndarray:
    """Aggregating resamplers (average/mode/min/max/med/q1/q3,
    src/warp.cpp:167-182): each target cell pools every SOURCE pixel whose
    center lies inside the cell's rectangle [x_edge_j, x_edge_{j+1}) x
    (y_edge_{i+1}, y_edge_i] — the correct family when the target grid is
    coarser than the image. 1-D axis vectors only (separable view SRS; a
    non-separable target cell is not a rectangle in image space — GDAL
    approximates there, we refuse loudly). ``x_edges`` (len nx+1, ascending)
    / ``y_edges`` (len ny+1, DESCENDING like ys) default to midpoints of the
    center vectors. Cells whose rectangle contains no source pixel center
    fall back to the nearest-neighbor gather; cells whose CENTER is outside
    the footprint are NaN (same inside rule as 'near'). Quantiles are
    numpy 'linear' (type-7, matching reduce_time's percentile semantics);
    mode ties break to the SMALLEST value (deterministic).

    Fully vectorized: source pixels bucket to target cells by searchsorted,
    then one lexsort + segmented reduction — no per-cell Python loop."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if xs.ndim != 1 or ys.ndim != 1:
        raise ValueError(
            f"aggregating resampler {resampling!r} requires a separable view "
            f"SRS (1-D axes); use a point resampler for non-separable views"
        )
    ileft, iright, ibottom, itop = img_bounds
    h, w = plane.shape
    pdx = (iright - ileft) / w
    pdy = (itop - ibottom) / h
    nx, ny = len(xs), len(ys)
    if x_edges is None:
        dxs = xs[1] - xs[0] if nx > 1 else pdx
        x_edges = np.concatenate([[xs[0] - dxs / 2.0], (xs[:-1] + xs[1:]) / 2.0 if nx > 1 else [], [xs[-1] + dxs / 2.0]])
    if y_edges is None:
        dys = ys[0] - ys[1] if ny > 1 else pdy
        y_edges = np.concatenate([[ys[0] + dys / 2.0], (ys[:-1] + ys[1:]) / 2.0 if ny > 1 else [], [ys[-1] - dys / 2.0]])
    out = np.full((ny, nx), np.nan)
    # source pixel centers in map coords
    src_x = ileft + (np.arange(w) + 0.5) * pdx
    src_y = itop - (np.arange(h) + 0.5) * pdy
    # bucket source centers to target cells: x in [edge_j, edge_{j+1}),
    # y in (edge_{i+1}, edge_i] (edges descend with the row axis)
    tx = np.searchsorted(x_edges, src_x, side="right") - 1      # (w,)
    ty = len(y_edges) - 1 - np.searchsorted(y_edges[::-1], src_y, side="left")
    okx = (tx >= 0) & (tx < nx)
    oky = (ty >= 0) & (ty < ny)
    p = plane.astype(np.float64)
    jj = np.nonzero(okx)[0]
    ii = np.nonzero(oky)[0]
    if len(jj) and len(ii):
        ci = (ty[ii][:, None] * nx + tx[jj][None, :]).ravel()
        vals = p[np.ix_(ii, jj)].ravel()
        keep = ~np.isnan(vals)
        ci, vals = ci[keep], vals[keep]
    else:
        ci = np.empty(0, dtype=np.int64)
        vals = np.empty(0)
    if len(ci):
        order = np.lexsort((vals, ci))
        ci_s, v_s = ci[order], vals[order]
        cells, starts = np.unique(ci_s, return_index=True)
        counts = np.diff(np.append(starts, len(ci_s)))
        if resampling == "average":
            res = np.add.reduceat(v_s, starts) / counts
        elif resampling == "min":
            res = v_s[starts]
        elif resampling == "max":
            res = v_s[starts + counts - 1]
        elif resampling in ("med", "q1", "q3"):
            q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[resampling]
            pos = q * (counts - 1)
            lo = np.floor(pos).astype(np.int64)
            frac = pos - lo
            hi = np.minimum(lo + 1, counts - 1)
            res = v_s[starts + lo] * (1.0 - frac) + v_s[starts + hi] * frac
        elif resampling == "mode":
            # runs of equal values within a cell (values sorted per cell)
            newrun = np.ones(len(v_s), dtype=bool)
            newrun[1:] = (v_s[1:] != v_s[:-1]) | (ci_s[1:] != ci_s[:-1])
            rstart = np.nonzero(newrun)[0]
            rlen = np.diff(np.append(rstart, len(v_s)))
            rcell = ci_s[rstart]
            rval = v_s[rstart]
            # winner per cell = max count, ties -> smallest value (stable:
            # runs already value-ascending within a cell)
            ro = np.lexsort((rval, -rlen, rcell))
            rc_s = rcell[ro]
            first = np.ones(len(rc_s), dtype=bool)
            first[1:] = rc_s[1:] != rc_s[:-1]
            cells = rc_s[first]
            res = rval[ro][first]
        else:
            raise ValueError(f"unknown aggregating resampler {resampling!r}")
        out.ravel()[cells] = res
    # coverage + nearest fallback for covered-but-empty cells
    inside = np.outer(
        (ys > ibottom) & (ys <= itop), (xs >= ileft) & (xs < iright)
    )
    empty = inside & np.isnan(out)
    if empty.any():
        near = warp_plane(plane, img_bounds, xs, ys, "near")
        out[empty] = near[empty]
    out[~inside] = np.nan
    return out


# ---------------------------------------------------------------------------
# the decode → warp → mask cell step the scan runs per batch
# ---------------------------------------------------------------------------


def _check_mask(mask, value_fn, columns) -> None:
    """A mask band is warped from decoded pixels, which the metadata
    value_fn path never has: refuse a BandMask, and a FileMask whose mask
    table carries bytes (its mask_value form needs no decode)."""
    if value_fn is not None and isinstance(mask, BandMask) and (
            not isinstance(mask, FileMask) or "m_bytes" in columns):
        raise ValueError(
            f"{type(mask).__name__} needs decoded channels (no value_fn path)")


def _vec_time_slots(ts: np.ndarray, view: CubeView) -> np.ndarray:
    """Vectorized twin of CubeView.slot_index_of — the identical arithmetic
    per unit class (view.time_index) for regular axes, and the exact-label
    match (else -1) for labeled axes, applied to a whole datetime64 column
    at once. Equality with the scalar function is pinned by
    tests/test_cells_long_fast.py over every unit class."""
    ts = np.asarray(ts).astype("datetime64[us]")
    if view.labeled:
        labels = np.asarray(view.time_labels, dtype="datetime64[us]")
        i = np.searchsorted(labels, ts, side="right") - 1
        return np.where((i >= 0) & (labels[np.maximum(i, 0)] == ts), i, -1)
    dt, t0 = view.dt, view.t0
    if dt.unit == "Y":
        yr = ts.astype("datetime64[Y]").astype(np.int64) + 1970
        # scalar branch splits on t >= t0 but both branches equal
        # floor((t.year - t0.year) / n) for integers, which // computes
        return (yr - t0.year) // dt.n
    if dt.unit == "M":
        mo = ts.astype("datetime64[M]").astype(np.int64)  # months since 1970-01
        m0 = (t0.year - 1970) * 12 + (t0.month - 1)
        return (mo - m0) // dt.n
    t064 = np.datetime64(t0, "us")
    dus = (ts - t064).astype("timedelta64[us]").astype(np.int64)
    secs = dus / 1e6  # == timedelta.total_seconds(): one float div of exact int
    return np.floor(secs / dt.seconds).astype(np.int64)


class _Planes:
    """A batch's decoded images in one flat buffer, each image's (H, W, C)
    pixels in its codec's own dtype (numpy's common type when a batch mixes
    codecs; a value read from it converts to the same float64 as from the
    codec's array): image j's pixel (y, x) channel c sits at
    ``offs[j] + (y * Ws[j] + x) * Cs[j] + c``. Nothing is converted to
    float64 here; the gathers convert only the values they read, and
    _warp_cells one plane when it warps it."""

    def __init__(self, buf, Hs, Ws, Cs, offs):
        self.buf, self.Hs, self.Ws, self.Cs, self.offs = buf, Hs, Ws, Cs, offs

    def plane(self, j: int, ch: int) -> np.ndarray:
        """Image j's channel ``ch`` as an (H, W) view of the buffer."""
        h, w, c = self.Hs[j], self.Ws[j], self.Cs[j]
        return self.buf[self.offs[j]:self.offs[j] + h * w * c].reshape(h, w, c)[:, :, ch]


def _decode_planes(decode, a_bytes, a_fmt, rows, chans) -> _Planes:
    """Decode images ``rows`` (``decode(a_bytes[k], a_fmt[k])`` -> (h, w, c))
    into one _Planes buffer. Every channel in ``chans`` must exist."""
    raws = []
    n, top = len(rows), max(chans)
    Hs, Ws, Cs, offs = (np.empty(n, np.int64) for _ in range(4))
    off = 0
    for j, k in enumerate(rows):
        raw = np.asarray(decode(a_bytes[k], a_fmt[k]))
        if raw.ndim != 3 or raw.shape[2] <= top:
            raise IndexError(f"decoded image of shape {raw.shape} has no channel {top}")
        Hs[j], Ws[j], Cs[j] = raw.shape
        offs[j] = off
        off += raw.size
        raws.append(raw.reshape(-1))
    return _Planes(np.concatenate(raws) if raws else np.empty(0), Hs, Ws, Cs, offs)


def _near_index(bl, br, bb, bt, P: _Planes, img, lon, lat, al, at_):
    """warp_plane 'near' for flat cells: each cell's buffer index of its
    image's pixel (channel 0), and whether its continuous coord falls inside
    [0, w)x[0, h) (1-ulp edges: warp's own inside test; outside -> NaN)."""
    pdxs = (br - bl) / P.Ws
    pdys = (bt - bb) / P.Hs
    fx = (lon - al) / pdxs[img]
    fy = (at_ - lat) / pdys[img]
    w_i, h_i = P.Ws[img], P.Hs[img]
    m_in = (fx >= 0) & (fx < w_i) & (fy >= 0) & (fy < h_i)
    cxp = np.clip(np.floor(fx).astype(np.int64), 0, w_i - 1)
    cyp = np.clip(np.floor(fy).astype(np.int64), 0, h_i - 1)
    return P.offs[img] + (cyp * w_i + cxp) * P.Cs[img], m_in


def _gather(P: _Planes, lin, ch, m_in):
    """Channel ``ch`` at the 'near' indices ``lin``, as float64; NaN where
    ``m_in`` is False."""
    v = np.asarray(P.buf[lin + ch], dtype=np.float64)
    return v if m_in.all() else np.where(m_in, v, np.nan)


def _warp_cells(view, P: _Planes, chans, bounds, win, img, iy, ix, lon, lat):
    """Non-'near' resampling of flat cells, one warp_plane call per image
    and band (warp_plane converts the plane to float64). Point kernels are
    element-wise, so the image's cells go in as one (1, n) row. Aggregating
    kernels (separable views only) pool every cell independently: warp the
    image's untrimmed window with its view-cell edges, then gather the
    covered cells."""
    from .. import srs as _srs

    resampling = view.resampling
    V = [np.empty(len(img)) for _ in chans]
    seg = np.searchsorted(img, np.arange(len(P.Hs) + 1))
    for j in np.nonzero(seg[1:] > seg[:-1])[0]:
        s, e = seg[j], seg[j + 1]
        if resampling in AGG_RESAMPLERS:
            x0, x1, y0, y1 = (int(a[j]) for a in win)
            gx, gy = np.arange(x0, x1 + 1), np.arange(y0, y1 + 1)
            xs, ys = _srs.axis_to_wgs84(view.left + (gx[:-1] + 0.5) * view.dx,
                                        view.top - (gy[:-1] + 0.5) * view.dy, view.srs)
            xe, ye = _srs.axis_to_wgs84(view.left + gx * view.dx,
                                        view.top - gy * view.dy, view.srs)
            kw = {"x_edges": xe, "y_edges": ye}
            cell = (iy[s:e] - y0, ix[s:e] - x0)
        else:
            xs, ys, kw, cell = lon[None, s:e], lat[None, s:e], {}, 0
        for b, ch in enumerate(chans):
            V[b][s:e] = warp_plane(P.plane(j, ch), tuple(a[j] for a in bounds),
                                   xs, ys, resampling, **kw)[cell]
    return V


def _view_bbox(view: CubeView, srs_n: str, a_l, a_r, a_b, a_t):
    """Footprint bboxes (EPSG:4326) -> CONSERVATIVE view-coord (left, right,
    bottom, top) arrays in a non-separable view SRS (UTM): the 4 corners +
    4 edge midpoints of every footprint (one vectorized transform per
    batch), padded by one view cell + the TM chord-sagitta bound; the
    per-cell membership test refines exactly, so over-coverage only costs
    a few extra masked cells."""
    from .. import srs as _srs

    mx_ = (a_l + a_r) / 2.0
    my_ = (a_b + a_t) / 2.0
    pls = np.stack([a_l, a_l, a_r, a_r, mx_, mx_, a_l, a_r])
    pbs = np.stack([a_b, a_t, a_b, a_t, a_b, a_t, my_, my_])
    px, py = _srs.from_wgs84(pls, pbs, srs_n)
    pad_x = view.dx + 0.01 * (px.max(axis=0) - px.min(axis=0))
    pad_y = view.dy + 0.01 * (py.max(axis=0) - py.min(axis=0))
    return (px.min(axis=0) - pad_x, px.max(axis=0) + pad_x,
            py.min(axis=0) - pad_y, py.max(axis=0) + pad_y)


def _cell_step(view: CubeView, cols: dict, srs_n: str, separable: bool,
               decode_fn, value_fn, mask, nb: int, slot_bounds: tuple):
    """One batch of image rows -> the view cells they contribute.

    ``cols`` maps the batch's column names to numpy arrays (_arrow_columns),
    the binary ones to _Payloads.

    Returns (slot, row, iy, ix, V). ``slot`` has one entry per batch row: the
    row's time slot, or -1 where the image lands in no slot or a FileMask
    mask_value masks it. An image lands in slot ``it`` when its time maps
    to ``it`` and also lies in the [t_start, t_end] of its chunk
    (``slot_bounds``, from grid.slot_bounds): the reference only reads the
    images find_range_st returns for the chunk. The rest is flat per cell,
    image by image in batch order and row-major within an image: the batch
    row, iy/ix and V (nb, n) float64. Cells NaN in every band are dropped.

    A per-image loop spends ~30 small numpy calls per image — at 200k
    images that Python overhead dwarfs the actual arithmetic. Here time
    slots, cell windows, coordinates, the 'near' gather and every mask run
    once per BATCH over flattened (image, cell) arrays; only decode_fn (a
    real codec), value_fn (a user callable) and non-'near' warps stay per
    image.
    """
    from .. import srs as _srs

    col = cols.get
    if not separable and view.resampling in AGG_RESAMPLERS:
        raise ValueError(
            f"aggregating resampler {view.resampling!r} needs a separable view "
            f"SRS (cells are not rectangles in 4326)")
    a_l, a_r = col("left"), col("right")
    a_b, a_t = col("bottom"), col("top")
    a_id, a_mb, a_mv = col("image_id"), col("m_bytes"), col("m_val")
    file_mask = isinstance(mask, FileMask)
    band_mask = isinstance(mask, BandMask) and not file_mask
    ts = col("ts")
    slot = _vec_time_slots(ts, view)
    valid = (slot >= 0) & (slot < view.nt)  # src/image_collection_cube.cpp:412-414
    lo, hi = slot_bounds
    k = np.clip(slot, 0, view.nt - 1)
    valid &= (ts >= lo[k]) & (ts <= hi[k])
    if file_mask and a_mv is not None:
        # a constant mask plane masks the whole footprint
        with np.errstate(invalid="ignore"):
            mk = mask.test(a_mv)
        valid &= ~(mk & ~np.isnan(a_mv))  # None/NaN never masks (test_scalar)
    slot = np.where(valid, slot, -1)
    none = np.empty(0, np.int64)
    no_cells = (slot, none, none, none, np.empty((nb, 0)))
    if not valid.any():
        return no_cells
    # covered cell windows. Separable: exact — the view's lon/lat axes
    # are monotone, so the centres in [left,right)x(bottom,top] are one
    # searchsorted per edge (the reference crops the VRT the same way,
    # src/image_collection_cube.cpp:456-470). Otherwise a conservative
    # bbox that the per-cell membership test below refines.
    if separable:
        lon_ax, lat_ax = _srs.axis_to_wgs84(
            view.left + (np.arange(view.nx) + 0.5) * view.dx,
            view.top - (np.arange(view.ny) + 0.5) * view.dy, view.srs)
        ix0 = np.searchsorted(lon_ax, a_l, "left")
        ix1 = np.searchsorted(lon_ax, a_r, "left")
        lat_up = lat_ax[::-1]  # latitude descends with iy
        iy0 = view.ny - np.searchsorted(lat_up, a_t, "right")
        iy1 = view.ny - np.searchsorted(lat_up, a_b, "right")
    else:
        v_l, v_r, v_b, v_t = _view_bbox(view, srs_n, a_l, a_r, a_b, a_t)
        ix0 = np.maximum(0, np.floor((v_l - view.left) / view.dx).astype(np.int64))
        ix1 = np.minimum(view.nx, np.ceil((v_r - view.left) / view.dx).astype(np.int64))
        iy0 = np.maximum(0, np.floor((view.top - v_t) / view.dy).astype(np.int64))
        iy1 = np.minimum(view.ny, np.ceil((view.top - v_b) / view.dy).astype(np.int64))
    wx = ix1 - ix0
    wy = iy1 - iy0
    sel = np.nonzero(valid & (wx > 0) & (wy > 0))[0]
    if not len(sel):
        return no_cells
    # flatten (image, cell) windows: row-major within each image, images in
    # input order
    wxs, wys = wx[sel], wy[sel]
    counts = wxs * wys
    total = int(counts.sum())
    img = np.repeat(np.arange(len(sel)), counts)
    start = np.concatenate(([0], np.cumsum(counts)[:-1]))
    j = np.arange(total) - start[img]
    jy = j // wxs[img]
    jx = j - jy * wxs[img]
    iy = iy0[sel][img] + jy
    ix = ix0[sel][img] + jx
    if separable:
        lon, lat = lon_ax[ix], lat_ax[iy]
    else:
        # point inverse once per distinct cell centre of the batch
        # (overlapping footprints share cells), then strict membership
        inv, cells = pd.factorize(iy * view.nx + ix)
        cy, cx = np.divmod(cells, view.nx)
        lon, lat = _srs.points_to_wgs84(view.left + (cx + 0.5) * view.dx,
                                        view.top - (cy + 0.5) * view.dy, view.srs)
        lon, lat = lon[inv], lat[inv]
        m = ((lon >= a_l[sel][img]) & (lon < a_r[sel][img])
             & (lat > a_b[sel][img]) & (lat <= a_t[sel][img]))
        if not m.any():
            return no_cells
        img, iy, ix, lon, lat = img[m], iy[m], ix[m], lon[m], lat[m]
        # only images that kept a cell get decoded
        used = np.zeros(len(sel), dtype=bool)
        used[img] = True
        sel, img = sel[used], (np.cumsum(used) - 1)[img]
    al, at_ = a_l[sel][img], a_t[sel][img]
    # per-image payloads: the codec / user fn calls
    if value_fn is not None:
        vals = np.asarray([value_fn(i)[:nb] for i in a_id[sel]], dtype=np.float64)
        V = [vals[img, b] for b in range(nb)]
    else:
        chans = list(range(nb))
        P = _decode_planes(decode_fn, col("bytes"), col("fmt"), sel,
                           chans + ([mask.channel] if band_mask else []))
        bounds = (a_l[sel], a_r[sel], a_b[sel], a_t[sel])
        if view.resampling == "near" or band_mask:
            lin, m_in = _near_index(*bounds, P, img, lon, lat, al, at_)
        if view.resampling == "near":
            V = [_gather(P, lin, ch, m_in) for ch in chans]
        else:
            win = (ix0[sel], ix1[sel], iy0[sel], iy1[sel])
            V = _warp_cells(view, P, chans, bounds, win, img, iy, ix, lon, lat)
        # separate mask band: warped 'near' always, whatever the data
        # resampling; a match makes the cell nodata in every band
        mp = None
        if band_mask:
            mp = _gather(P, lin, mask.channel, m_in)
        elif file_mask and a_mb is not None:
            # the mask file: its own bytes, its own (H, W); images without a
            # mask row pass unmasked
            has_m = a_mb.valid[sel]
            if has_m.any():
                M = _decode_planes(mask.decode_fn or default_decode, a_mb,
                                   col("m_fmt"), sel[has_m], [mask.channel])
                # a 1x1x1 placeholder at offset 0 for images without a mask
                Hs, Ws, Cs = (np.ones(len(sel), np.int64) for _ in range(3))
                offs = np.zeros(len(sel), np.int64)
                Hs[has_m], Ws[has_m], Cs[has_m], offs[has_m] = M.Hs, M.Ws, M.Cs, M.offs
                M = _Planes(M.buf, Hs, Ws, Cs, offs)
                mlin, mm_in = _near_index(*bounds, M, img, lon, lat, al, at_)
                mp = _gather(M, mlin, mask.channel, mm_in & has_m[img])
        if mp is not None:
            mk = mask.test(mp)
            if mk.any():
                V = [np.where(mk, np.nan, vb) for vb in V]
    if mask is not None and not isinstance(mask, BandMask):
        mk = mask.apply(np.stack(V))
        if mk.any():
            V = [np.where(mk, np.nan, vb) for vb in V]
    A = np.stack(V)
    keep = ~np.isnan(A).all(axis=0)
    return slot, sel[img[keep]], iy[keep], ix[keep], A[:, keep]


# ---------------------------------------------------------------------------
# the build: scan rows, the touched slices, native aggregates
# ---------------------------------------------------------------------------

class _Payloads:
    """A binary Arrow column's values as read-only views of its data buffer
    (no per-row bytes objects): ``p[k]`` is row k's memoryview, None where
    the row is NULL; ``valid`` is the row validity."""

    def __init__(self, arr: pa.Array):
        _, offsets, data = arr.buffers()
        width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        self.off = np.frombuffer(offsets, width)[arr.offset:arr.offset + len(arr) + 1]
        # Arrow exposes signed bytes ('b'); as 'B' a view compares with bytes
        # literals at C speed (a 'b' view unpacks element by element)
        self.data = memoryview(data if data is not None else b"").cast("B").toreadonly()
        self.valid = np.asarray(arr.is_valid())

    def __getitem__(self, k):
        return self.data[self.off[k]:self.off[k + 1]] if self.valid[k] else None


def _arrow_columns(batch: pa.RecordBatch) -> dict:
    """A scan batch's columns for _cell_step. ``ts`` arrives as instants
    tagged with the session time zone and becomes datetime64[us] wall time
    in that zone, the value a mapInPandas batch carries; floating columns
    become float64 (NULL -> NaN), binary columns _Payloads and strings
    object arrays."""
    cols = {}
    for name, arr in zip(batch.schema.names, batch.columns):
        t = arr.type
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            cols[name] = _Payloads(arr)
        elif pa.types.is_timestamp(t):
            if t.tz is not None:
                arr = pc.local_timestamp(arr)
            cols[name] = arr.to_numpy(zero_copy_only=False).astype("datetime64[us]")
        elif pa.types.is_floating(t):
            cols[name] = arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        else:
            cols[name] = arr.to_numpy(zero_copy_only=False)
    return cols


def _scan_batch(
    view: CubeView, batch: pa.RecordBatch, srs_n: str, separable: bool,
    decode_fn, value_fn, mask, need_id: bool, band_names, slot_bounds,
) -> pa.RecordBatch:
    """One scan batch -> long (it, iy, ix[, image_id], v_<band>...) rows:
    _cell_step over the whole view. Rows come out image by image in input
    order, row-major within each image — the order Spark's partial avg
    sums in. NaN values leave as NULL (the Cube's nodata)."""
    slot, row, iy, ix, V = _cell_step(
        view, _arrow_columns(batch), srs_n, separable, decode_fn, value_fn,
        mask, len(band_names), slot_bounds)
    out = {
        "it": pa.array(slot[row].astype(np.int32)),
        "iy": pa.array(iy.astype(np.int32)),
        "ix": pa.array(ix.astype(np.int32)),
    }
    if need_id:
        out["image_id"] = batch.column("image_id").take(pa.array(row))
    for b, name in enumerate(band_names):
        out[f"v_{name}"] = pa.array(V[b], mask=np.isnan(V[b]))
    return pa.RecordBatch.from_pydict(out)


def _view_window(view: CubeView, bounds: dict | None = None) -> str | None:
    """JVM-side pre-filter for the scan: a SUPERSET of the image rows that
    can emit a cell or land in a slice, so the Python workers receive only
    those. One SQL predicate: the driver builds it in one py4j call rather
    than one per Column operator.

    Space: the footprint meets the view extent in lon/lat (cell centers sit
    half a cell inside the extent, so the non-strict bounds keep every image
    the scan's strict center test accepts). Time: [t_start, t_end) of all
    the view's slots (grid.time_window: t0 to t0 + nt steps, widened to
    whole calendar months on a Y/M axis) — an image lands in a slot only
    inside its chunk's window, and no chunk's reaches past slot nt-1. ``bounds``
    (grid.block_bounds) narrows both to a block of chunks: its map box and
    [t_start, t_end), the rows that can reach the block's cells. Literals
    are cast in the session time zone, the zone the Arrow hand-off renders
    ``ts`` in. None where no exact cheap bound exists: labeled time axes,
    and non-separable view SRS (a separable SRS maps corners to corners, so
    srs.bbox_to_wgs84 is exact there).
    """
    from .. import srs as _srs

    if view.labeled or not _srs.is_separable(view.srs):
        return None
    if bounds is None:
        box = (view.left, view.right, view.bottom, view.top)
        lo, hi = ChunkGrid(view).time_window(0, view.nt)
    else:
        box = (bounds["left"], bounds["right"], bounds["bottom"], bounds["top"])
        lo, hi = bounds["t_start"], bounds["t_end"]
    x0, x1, y0, y1 = (repr(float(c)) for c in _srs.bbox_to_wgs84(*box, view.srs))
    cond = (f"`left` <= {x1}D AND `right` >= {x0}D AND `bottom` <= {y1}D AND `top` >= {y0}D"
            f" AND ts >= CAST('{lo.isoformat(sep=' ')}' AS TIMESTAMP)")
    if hi is None:
        return cond
    return cond + f" AND ts < CAST('{hi.isoformat(sep=' ')}' AS TIMESTAMP)"


def scan_cells(
    images: DataFrame,
    view: CubeView,
    bands: tuple = DEFAULT_BANDS,
    decode_fn: Callable = default_decode,
    mask=None,
    value_fn: Callable | None = None,
    need_id: bool = False,
) -> DataFrame:
    """The scan: a mapInArrow over the image rows runs _cell_step (decode
    → warp → mask) where each image is read and emits long
    (it, iy, ix[, image_id], v_<band>...) rows, one per covered cell. Image
    bytes never cross an exchange, and the codecs read them straight from
    the Arrow batch's buffers. partition.for_scan sets the scan's width
    from ``images`` itself (the column selection and view window are
    narrow), so it probes a collection once however many cubes are built
    from it: a collection planned with fewer partitions than the session
    has task slots is widened (the scan is Python work), and one whose rows
    all sit in one planned partition is coalesced to it (one Python task,
    and the cell aggregate joins the scan's stage)."""
    # w/h are NOT selected: the decoded array's own shape drives the warp,
    # so the columns would only widen the scan and the Arrow transfer
    cols = ["ts", "left", "right", "bottom", "top"]
    if need_id or value_fn is not None:
        cols.insert(0, "image_id")  # value_fn derives values from the id
    if value_fn is None:
        cols += ["bytes", "fmt"]
    if isinstance(mask, FileMask):
        cols += [c for c in ("m_bytes", "m_fmt", "m_val") if c in images.columns]
    slot_bounds = ChunkGrid(view).slot_bounds()

    def scan(batches):
        from .. import srs as _srs

        srs_n = _srs.normalize(view.srs)
        separable = _srs.is_separable(srs_n)
        for batch in batches:
            yield _scan_batch(view, batch, srs_n, separable, decode_fn, value_fn,
                              mask, need_id, bands, slot_bounds)

    schema = (
        "it int, iy int, ix int, "
        + ("image_id string, " if need_id else "")
        + ", ".join(f"`v_{b}` double" for b in bands)
    )
    src = images.select(*cols)
    window = _view_window(view)
    if window is not None:
        src = src.where(window)
    return for_scan(src, images).mapInArrow(scan, schema=schema)


def _mask_hits(mask: BandMask, v: str) -> str:
    """BandMask.test of one value per row as SQL; NULL/NaN never masks."""
    m = (f"{v} IN ({', '.join(map(_flit, mask.values))})" if mask.values is not None
         else f"{v} BETWEEN {_flit(mask.vmin)} AND {_flit(mask.vmax)}")
    return f"coalesce({'NOT ' if mask.invert else ''}({m}) AND NOT isnan({v}), false)"


def _touched(images: DataFrame, view: CubeView, mask, need_id: bool) -> DataFrame:
    """(chunk_id, it[, image_id]) rows: every image in every (chunk, slot)
    slice it lands in, covered cells or not — the set the slice
    aggregations act on (count_images adds 1 per image, count_values and
    AGG_NONE reset the slice, src/image_collection_cube.cpp:179-224,
    294-306). st_join gives the (image, chunk) pairs
    (find_range_st); grid.slot_sql gives the image's slot, which must be one
    of the chunk's slots. An image a FileMask mask_value masks lands in no
    slice, as in _cell_step. Footprints and times only: no decode."""
    grid = ChunkGrid(view)
    window = _view_window(view)
    pairs = st_join(images if window is None else images.where(window), grid)
    it = grid.slot_sql("ts")
    keep = f"{it} >= ch_it0 AND {it} < ch_it1"
    if isinstance(mask, FileMask) and "m_val" in images.columns:
        keep += f" AND NOT {_mask_hits(mask, 'm_val')}"
    return pairs.where(keep).selectExpr(
        "chunk_id", f"{it} AS it", *(["image_id"] if need_id else []))


def _slice_cells(slices: DataFrame, view: CubeView, *exprs: str) -> DataFrame:
    """(it, iy, ix, *exprs) rows, one per cell of each (chunk_id, it) slice
    row: iy, ix run over the chunk's cell ranges (grid.limits_sql, clamped
    at the cube boundary); ``exprs`` are SQL over the slice row's columns."""
    lim = ChunkGrid(view).limits_sql("chunk_id")
    return (
        slices
        .selectExpr("*", f"explode(sequence({lim['iy0']}, {lim['iy1']} - 1)) AS iy")
        .selectExpr("it", "iy", f"explode(sequence({lim['ix0']}, {lim['ix1']} - 1)) AS ix",
                    *exprs)
    )


# the reference's (image_id, descriptor) order
# (src/image_collection_cube.cpp:327) as a sortable struct: (len, id) is
# numeric order for decimal ids of any length
_ID_ORDER = "named_struct('l', length(image_id), 's', image_id)"

# aggregation -> the per-cell SQL aggregate of one scan column ({v})
_CELL_AGGS = {
    "mean": "avg({v})",
    "min": "min({v})",
    "max": "max({v})",
    # first/last non-NaN in (image_id, descriptor) order
    "first": f"min_by({{v}}, CASE WHEN {{v}} IS NOT NULL THEN {_ID_ORDER} END)",
    "last": f"max_by({{v}}, CASE WHEN {{v}} IS NOT NULL THEN {_ID_ORDER} END)",
    "median": "percentile({v}, 0.5)",
}


def build_cells_long(
    images: DataFrame,
    view: CubeView,
    bands: tuple = DEFAULT_BANDS,
    decode_fn: Callable = default_decode,
    mask=None,
    value_fn: Callable | None = None,
) -> DataFrame:
    """Sparse cube cells (it, iy, ix, <band>...) for every aggregation.

    The reference aggregates image by image into per-chunk state
    (src/image_collection_cube.cpp:58-306). Here scan_cells decodes and
    warps each image where it is read and emits one long row per covered
    cell, and the temporal aggregation is a native groupBy: Catalyst's
    partial aggregation (map-side combine) stands in for the streaming
    aggregation_state, and AQE absorbs hot-cell skew. No Python task is
    keyed by chunk, so a hot chunk is no serial term.

    - mean/min/max/median: the per-cell aggregate of the scan rows;
    - first/last: min_by/max_by in (image_id, descriptor) order;
    - count_images: the count of _touched images per slice, written into
      every cell of the slice (no scan, no decode);
    - count_values: per-cell non-NaN counts in every cell of every touched
      slice, 0 where no image covers the cell;
    - none: the last touched image in (image_id, descriptor) order owns
      the slice; its scan rows are the slice.

    Every configuration works: regular and labeled time axes, all 12
    resamplers (aggregating ones need a separable view SRS),
    value-predicate, band and separate-file masks, any view SRS. All-NaN
    cells emit no row.
    """
    agg = view.aggregation
    _check_mask(mask, value_fn, images.columns)
    if agg == "count_images":
        counts = _touched(images, view, mask, False).groupBy("chunk_id", "it").count()
        return _slice_cells(counts, view, *[f"CAST(count AS DOUBLE) AS `{b}`" for b in bands])
    contrib = scan_cells(images, view, bands, decode_fn, mask, value_fn,
                         need_id=agg in ("first", "last", "none"))
    if agg == "count_values":
        # the count slices are exactly the touched ones; the scan rows
        # aggregate in their own stage, beside the join
        counts = contrib.groupBy("it", "iy", "ix").agg(
            *[F.expr(f"count(`v_{b}`) AS `n_{b}`") for b in bands])
        cells = _slice_cells(_touched(images, view, mask, False).distinct(), view)
        return cells.join(counts, ["it", "iy", "ix"], "left").selectExpr(
            "it", "iy", "ix", *[f"CAST(coalesce(`n_{b}`, 0) AS DOUBLE) AS `{b}`" for b in bands])
    if agg == "none":
        owners = _touched(images, view, mask, True).groupBy("chunk_id", "it").agg(
            F.expr(f"max({_ID_ORDER}).s AS image_id"))
        rows = contrib.selectExpr(
            "*", f"{ChunkGrid(view).chunk_of_sql('it', 'iy', 'ix')} AS chunk_id")
        return rows.join(owners, ["chunk_id", "it", "image_id"]).selectExpr(
            "it", "iy", "ix", *[f"`v_{b}` AS `{b}`" for b in bands])
    return contrib.groupBy("it", "iy", "ix").agg(
        *[F.expr(f"{_CELL_AGGS[agg].format(v=f'`v_{b}`')} AS `{b}`") for b in bands])


def build_cube(
    images: DataFrame,
    view: CubeView,
    bands: tuple = DEFAULT_BANDS,
    decode_fn: Callable = default_decode,
    mask=None,
    value_fn: Callable | None = None,
    strategy: str = "auto",
    mask_table: DataFrame | None = None,
):
    """images table + view -> Cube (the image_collection_cube analog),
    built by build_cells_long. ``strategy`` names the one build path and
    accepts only "auto".

    ``mask_table``: separate-file mask rows for a FileMask (the SCL
    pattern) — left-joined onto the image table on image_id before the
    scan, see join_mask_table.
    """
    from ..cube import Cube

    if strategy != "auto":
        raise ValueError(f"unknown build strategy {strategy!r} (only 'auto')")
    if isinstance(mask, FileMask):
        if mask_table is None:
            raise ValueError("FileMask needs mask_table=(image_id, bytes/fmt | mask_value)")
        images = join_mask_table(images, mask_table)
    elif mask_table is not None:
        raise ValueError("mask_table is only meaningful with a FileMask")
    # the Cube convention is NULL-as-nodata (NaN semantics of the reference
    # map onto SQL NULL aggregation): the scan's Arrow hand-off turns NaN
    # into NULL, so no cell leaves build_cells_long as NaN
    cells = build_cells_long(images, view, bands, decode_fn, mask, value_fn)
    return Cube(cells, view, tuple(bands))
