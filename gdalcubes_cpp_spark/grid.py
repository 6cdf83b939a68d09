"""Chunk-grid arithmetic: pure-Python mirror of src/cube.h:472-694, plus the
same math as Spark Column expressions so Catalyst can prune/partition on it.

Conventions (src/view.h:632-655, src/cube.h:652-654,676-694):
- cube coords (it, iy, ix); (0,0,0) = earliest time, upper-left pixel;
  iy increases *downward* in index space;
- linear chunk id = ct * ncy * ncx + cy * ncx + cx (x-fastest);
- chunk limits clamp at the cube boundary (src/cube.h:495-579);
- bounds_from_chunk flips y (src/cube.h:676-694).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

from .view import CubeView, add_duration


@dataclass(frozen=True)
class ChunkGrid:
    view: CubeView

    # -- counts (src/cube.h:603-621) -------------------------------------------
    @property
    def ncx(self) -> int:
        return math.ceil(self.view.nx / self.view.chunk_nx)

    @property
    def ncy(self) -> int:
        return math.ceil(self.view.ny / self.view.chunk_ny)

    @property
    def nct(self) -> int:
        return math.ceil(self.view.nt / self.view.chunk_nt)

    @property
    def count(self) -> int:
        return self.ncx * self.ncy * self.nct

    # -- id <-> coords (src/cube.h:628-654) -------------------------------------
    def chunk_id(self, ct: int, cy: int, cx: int) -> int:
        return ct * self.ncy * self.ncx + cy * self.ncx + cx

    def chunk_coords(self, cid: int) -> tuple:
        ct, rem = divmod(cid, self.ncy * self.ncx)
        cy, cx = divmod(rem, self.ncx)
        return (ct, cy, cx)

    def chunk_of_cell(self, it: int, iy: int, ix: int) -> int:
        """find_chunk_that_contains (src/cube.h:472-488)."""
        v = self.view
        return self.chunk_id(it // v.chunk_nt, iy // v.chunk_ny, ix // v.chunk_nx)

    # -- limits, clamped at the cube boundary (src/cube.h:495-579,662-669) ------
    def chunk_limits(self, cid: int) -> tuple:
        """((it0, it1), (iy0, iy1), (ix0, ix1)) inclusive-exclusive ranges."""
        v = self.view
        ct, cy, cx = self.chunk_coords(cid)
        it0 = ct * v.chunk_nt
        iy0 = cy * v.chunk_ny
        ix0 = cx * v.chunk_nx
        return (
            (it0, min(it0 + v.chunk_nt, v.nt)),
            (iy0, min(iy0 + v.chunk_ny, v.ny)),
            (ix0, min(ix0 + v.chunk_nx, v.nx)),
        )

    def chunk_shape(self, cid: int) -> tuple:
        (t0, t1), (y0, y1), (x0, x1) = self.chunk_limits(cid)
        return (t1 - t0, y1 - y0, x1 - x0)

    def chunk_bounds(self, cid: int) -> dict:
        """Map-space + time bounds of a chunk (src/cube.h:676-694; y flipped)."""
        v = self.view
        (t0, t1), (y0, y1), (x0, x1) = self.chunk_limits(cid)
        return {
            "left": v.left + x0 * v.dx,
            "right": v.left + x1 * v.dx,
            "top": v.top - y0 * v.dy,       # row 0 is the TOP of the cube
            "bottom": v.top - y1 * v.dy,
            "t_start": v.datetime_at(t0),
            "t_end": (v.time_labels[t1 - 1] if v.labeled else add_duration(v.t0, v.dt, t1)),
            "it0": t0, "it1": t1, "iy0": y0, "iy1": y1, "ix0": x0, "ix1": x1,
        }

    def chunk_ids(self):
        return range(self.count)

    # -- Spark column expressions (same math, JVM-side / codegen'd) --------------

    def ix_expr(self, x: Column) -> Column:
        v = self.view
        return F.floor((x - F.lit(v.left)) / F.lit(v.dx)).cast("int")

    def iy_expr(self, y: Column) -> Column:
        v = self.view
        return F.floor((F.lit(v.top) - y) / F.lit(v.dy)).cast("int")

    def it_expr(self, ts: Column) -> Column:
        """Time coordinate of a timestamp column. On a labeled axis the
        exact label match, else -1 (CubeView.slot_index_of)."""
        v = self.view
        if v.labeled:
            labels = ", ".join(f"TIMESTAMP '{t.isoformat(sep=' ')}'" for t in v.time_labels)
            return (F.array_position(F.expr(f"array({labels})"), ts) - 1).cast("int")
        dt = v.dt
        if dt.unit == "Y":
            return F.floor((F.year(ts) - F.lit(v.t0.year)) / F.lit(dt.n)).cast("int")
        if dt.unit == "M":
            m0 = v.t0.year * 12 + v.t0.month - 1
            m = F.year(ts) * 12 + F.month(ts) - 1
            return F.floor((m - F.lit(m0)) / F.lit(dt.n)).cast("int")
        secs = F.unix_timestamp(ts) - F.lit(int(self._t0_unix()))
        return F.floor(secs / F.lit(dt.seconds)).cast("int")

    def _t0_unix(self) -> float:
        import calendar

        return calendar.timegm(self.view.t0.timetuple())

    def chunk_id_expr(self, it: Column, iy: Column, ix: Column) -> Column:
        v = self.view
        ct = F.floor(it / F.lit(v.chunk_nt))
        cy = F.floor(iy / F.lit(v.chunk_ny))
        cx = F.floor(ix / F.lit(v.chunk_nx))
        return (ct * F.lit(self.ncy * self.ncx) + cy * F.lit(self.ncx) + cx).cast("long")

    def in_bounds_expr(self, it: Column, iy: Column, ix: Column) -> Column:
        v = self.view
        return (
            (it >= 0) & (it < v.nt) & (iy >= 0) & (iy < v.ny) & (ix >= 0) & (ix < v.nx)
        )
