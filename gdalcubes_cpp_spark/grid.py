"""Chunk-grid arithmetic: the one module that knows the chunk layout and the
slot <-> time rule — pure Python mirroring src/cube.h:472-694, plus the same
math as Spark SQL text.

Conventions (src/view.h:632-655, src/cube.h:652-654,676-694):
- cube coords (it, iy, ix); (0,0,0) = earliest time, upper-left pixel;
  iy increases *downward* in index space;
- linear chunk id = ct * ncy * ncx + cy * ncx + cx (x-fastest);
- chunk limits clamp at the cube boundary (src/cube.h:495-579);
- bounds_from_chunk flips y (src/cube.h:676-694).

The Python forms are the reference for tests, the numpy oracle and driver
code. The ``*_sql`` forms are SQL text over named columns for
``selectExpr``/``F.expr``: one py4j call per projection, not one per Column
operator. Timestamps are ``TIMESTAMP '...'`` literals, read in the session
time zone (``F.lit`` of a naive datetime is read in the driver's own zone).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

import numpy as np

from .srs import _flit
from .view import CubeView, Duration, add_duration


def _ts(t) -> str:
    return f"TIMESTAMP '{t.isoformat(sep=' ')}'"


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

    @property
    def chunk_extent(self) -> float:
        """The larger of a full chunk's two map extents (sizes cell covers)."""
        v = self.view
        return max(v.dx * v.chunk_nx, v.dy * v.chunk_ny)

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

    def _bucket_base(self):
        """00:00 on the 1st of slot 0's first month (of January on a Y axis)
        on a Y/M axis, else None. Y/M slots bucket images by calendar year
        and month (slot_sql), so a chunk's image window runs over the whole
        months of its slots, not from its first slot's time, which keeps
        t0's day (clamped) and time of day."""
        v = self.view
        if v.labeled or v.dt.unit not in ("Y", "M"):
            return None
        return v.t0.replace(month=1 if v.dt.unit == "Y" else v.t0.month, day=1,
                            hour=0, minute=0, second=0, microsecond=0)

    def _t_start(self, it0: int):
        """t_start of a chunk whose slots start at ``it0``: the start of slot
        it0's calendar bucket on a Y/M axis, else the slot time."""
        base = self._bucket_base()
        return self.view.datetime_at(it0) if base is None else add_duration(base, self.view.dt, it0)

    def _t_end(self, it1: int):
        """t_end of a chunk whose slots end at ``it1``: the last label on a
        labeled axis, else the start of the slot after the last (its
        calendar bucket's on a Y/M axis)."""
        v = self.view
        return v.time_labels[it1 - 1] if v.labeled else self._t_start(it1)

    def time_window(self, it0: int, it1: int) -> tuple:
        """[t_start, t_end] of the slots [it0, it1); t_end None (open) past
        year 9999."""
        try:
            t_end = self._t_end(it1)
        except (OverflowError, ValueError):
            t_end = None
        return self._t_start(it0), t_end

    def chunk_bounds(self, cid: int) -> dict:
        """Map-space + time bounds of a chunk (src/cube.h:676-694; y flipped)."""
        v = self.view
        (t0, t1), (y0, y1), (x0, x1) = self.chunk_limits(cid)
        return {
            "left": v.left + x0 * v.dx,
            "right": v.left + x1 * v.dx,
            "top": v.top - y0 * v.dy,       # row 0 is the TOP of the cube
            "bottom": v.top - y1 * v.dy,
            "t_start": self._t_start(t0),
            "t_end": self._t_end(t1),
            "it0": t0, "it1": t1, "iy0": y0, "iy1": y1, "ix0": x0, "ix1": x1,
        }

    def block_bounds(self, lo: int, hi: int) -> dict:
        """Map + time bounds of the chunk ids [lo, hi): the box around their
        chunk_bounds, t_end None (open) past year 9999. Ids run x-fastest,
        so a block inside one chunk row spans its own columns, one inside a
        time slab whole rows, and one that crosses slabs the whole map
        extent."""
        v = self.view
        (ct0, cy0, cx0), (ct1, cy1, cx1) = self.chunk_coords(lo), self.chunk_coords(hi - 1)
        if ct0 != ct1:
            cy0, cy1 = 0, self.ncy - 1
        if (ct0, cy0) != (ct1, cy1):
            cx0, cx1 = 0, self.ncx - 1
        (it0, _), (iy0, _), (ix0, _) = self.chunk_limits(self.chunk_id(ct0, cy0, cx0))
        (_, it1), (_, iy1), (_, ix1) = self.chunk_limits(self.chunk_id(ct1, cy1, cx1))
        t_start, t_end = self.time_window(it0, it1)
        return {"left": v.left + ix0 * v.dx, "right": v.left + ix1 * v.dx,
                "bottom": v.top - iy1 * v.dy, "top": v.top - iy0 * v.dy,
                "t_start": t_start, "t_end": t_end}

    def chunk_ids(self):
        return range(self.count)

    def axis_edges(self) -> tuple:
        """(xe, ye): the ncx+1 column and ncy+1 row chunk edges in map
        coordinates, clamped at the cube boundary (chunk_bounds per axis)."""
        v = self.view
        xe = v.left + np.minimum(np.arange(self.ncx + 1) * v.chunk_nx, v.nx) * v.dx
        ye = v.top - np.minimum(np.arange(self.ncy + 1) * v.chunk_ny, v.ny) * v.dy
        return xe, ye

    def slot_bounds(self) -> tuple:
        """(lo, hi) datetime64[us] arrays over the view's slots: the
        [t_start, t_end] of each slot's chunk (chunk_bounds; both ends
        inclusive as in find_range_st), open past year 9999."""
        v = self.view
        lo = np.empty(v.nt, "datetime64[us]")
        hi = np.empty(v.nt, "datetime64[us]")
        for ct in range(self.nct):
            (it0, it1), _, _ = self.chunk_limits(self.chunk_id(ct, 0, 0))
            t_start, t_end = self.time_window(it0, it1)
            lo[it0:it1] = t_start
            hi[it0:it1] = np.datetime64("9999-12-31T23:59:59.999999") if t_end is None else t_end
        return lo, hi

    def chunk_axis_view(self, time: bool, y: bool, x: bool) -> CubeView:
        """The view whose collapsed axes (``time``/``y``/``x`` True) hold one
        cell per chunk: a chunk's slots per time step (each chunk's first
        label on a labeled axis), chunk rows or columns in space
        (src/stream.h:89-130)."""
        v = nv = self.view
        if time:
            dt = v.dt if v.labeled else Duration(v.dt.n * v.chunk_nt, v.dt.unit)
            nv = nv.with_time(v.t0, self.nct, dt, time_labels=v.time_labels[::v.chunk_nt])
            nv = replace(nv, chunk_nt=1)
        if y:
            nv = replace(nv, ny=self.ncy, chunk_ny=1)
        if x:
            nv = replace(nv, nx=self.ncx, chunk_nx=1)
        return nv

    # -- Spark SQL text (the same math, JVM-side) --------------------------------

    def coords_sql(self, cid: str) -> tuple:
        """(ct, cy, cx) of the chunk id column ``cid`` (chunk_coords)."""
        n = self.ncy * self.ncx
        return (f"({cid} DIV {n})", f"({cid} % {n} DIV {self.ncx})", f"({cid} % {self.ncx})")

    def limits_sql(self, cid: str) -> dict:
        """it0/it1/iy0/iy1/ix0/ix1 INT of the chunk id column ``cid``
        (chunk_limits)."""
        v = self.view
        out = {}
        for c, a, size, n in zip(self.coords_sql(cid), "tyx",
                                 (v.chunk_nt, v.chunk_ny, v.chunk_nx), (v.nt, v.ny, v.nx)):
            lo = f"CAST({c} * {size} AS INT)"
            out[f"i{a}0"] = lo
            out[f"i{a}1"] = f"least({lo} + {size}, {n})"
        return out

    def bounds_sql(self, cid: str) -> dict:
        """chunk_bounds of the chunk id column ``cid``: the map bounds
        (DOUBLE), t_start/t_end (TIMESTAMP) and the cell limits (INT)."""
        v = self.view
        lim = self.limits_sql(cid)
        left, top, dx, dy = _flit(v.left), _flit(v.top), _flit(v.dx), _flit(v.dy)
        return {
            "left": f"{left} + {lim['ix0']} * {dx}",
            "right": f"{left} + {lim['ix1']} * {dx}",
            "top": f"{top} - {lim['iy0']} * {dy}",
            "bottom": f"{top} - {lim['iy1']} * {dy}",
            "t_start": self.bucket_at_sql(lim["it0"]),
            "t_end": (self.time_at_sql(f"{lim['it1']} - 1") if v.labeled
                      else self.bucket_at_sql(lim["it1"])),
            **lim,
        }

    def chunk_of_sql(self, it: str, iy: str, ix: str) -> str:
        """BIGINT chunk id of the cell columns (chunk_of_cell)."""
        ct, cy, cx = self.chunk_key_sql(it, iy, ix)
        return (f"CAST({ct} AS BIGINT) * {self.ncy * self.ncx}"
                f" + CAST({cy} AS BIGINT) * {self.ncx} + {cx}")

    def chunk_key_sql(self, it: str, iy: str, ix: str) -> tuple:
        """INT (ct, cy, cx): the chunk coordinates of the cell columns."""
        v = self.view
        return tuple(f"CAST({c} DIV {n} AS INT)"
                     for c, n in ((it, v.chunk_nt), (iy, v.chunk_ny), (ix, v.chunk_nx)))

    def time_at_sql(self, it: str) -> str:
        """TIMESTAMP start of slot ``it`` (CubeView.datetime_at). Years are
        12-month steps: timestampadd clamps the day-of-month as
        view.add_duration does (2020-02-29 + P1Y -> 2021-02-28). A view
        whose slots clamp from another day than t0's (CubeView.t_day) counts
        from that day in the month before t0: the month before a short one
        has 31 days."""
        v = self.view
        if v.labeled:
            return f"element_at({self._labels_sql()}, CAST({it} + 1 AS INT))"
        if v.dt.unit in ("Y", "M"):
            months = v.dt.n * (12 if v.dt.unit == "Y" else 1)
            if v.t_day and v.t_day != v.t0.day:
                base = add_duration(v.t0, Duration(1, "M"), -1, day=v.t_day)
                return f"timestampadd(MONTH, CAST(({it}) * {months} + 1 AS INT), {_ts(base)})"
            return f"timestampadd(MONTH, CAST(({it}) * {months} AS INT), {_ts(v.t0)})"
        return f"timestampadd(SECOND, CAST(({it}) * {v.dt.seconds} AS BIGINT), {_ts(v.t0)})"

    def bucket_at_sql(self, it: str) -> str:
        """TIMESTAMP start of slot ``it``'s calendar bucket on a Y/M axis
        (_t_start), else time_at_sql. A Y/M axis whose t0 is 00:00 on the
        1st (of January on a Y axis) gets time_at_sql's text."""
        v, base = self.view, self._bucket_base()
        if base is None:
            return self.time_at_sql(it)
        months = v.dt.n * (12 if v.dt.unit == "Y" else 1)
        return f"timestampadd(MONTH, CAST(({it}) * {months} AS INT), {_ts(base)})"

    def slot_sql(self, ts: str) -> str:
        """INT slot of the timestamp column ``ts``: on a labeled axis the
        exact label match, else -1 (CubeView.slot_index_of)."""
        v = self.view
        if v.labeled:
            return f"CAST(array_position({self._labels_sql()}, {ts}) - 1 AS INT)"
        dt = v.dt
        if dt.unit == "Y":
            return f"CAST(floor((year({ts}) - {v.t0.year}) / {dt.n}) AS INT)"
        if dt.unit == "M":
            m0 = v.t0.year * 12 + v.t0.month - 1
            return f"CAST(floor((year({ts}) * 12 + month({ts}) - 1 - {m0}) / {dt.n}) AS INT)"
        return (f"CAST(floor((unix_timestamp({ts}) - unix_timestamp({_ts(v.t0)}))"
                f" / {dt.seconds}) AS INT)")

    def _labels_sql(self) -> str:
        return f"array({', '.join(_ts(t) for t in self.view.time_labels)})"

    def ix_sql(self, x: str) -> str:
        """INT column of the map x column (CubeView.ix_of)."""
        v = self.view
        return f"CAST(floor(({x} - {_flit(v.left)}) / {_flit(v.dx)}) AS INT)"

    def iy_sql(self, y: str) -> str:
        """INT row of the map y column (CubeView.iy_of; rows count down)."""
        v = self.view
        return f"CAST(floor(({_flit(v.top)} - {y}) / {_flit(v.dy)}) AS INT)"

    def in_bounds_sql(self, iy: str, ix: str, it: str | None) -> str:
        """The cell columns lie inside the cube (space only if ``it`` is None)."""
        v = self.view
        pairs = [(iy, v.ny), (ix, v.nx)] + ([(it, v.nt)] if it else [])
        return " AND ".join(f"{c} >= 0 AND {c} < {n}" for c, n in pairs)
