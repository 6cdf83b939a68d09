"""Cube view: spatiotemporal reference + aggregation/resampling config.

Reimplements (Spark-first, pure Python) the semantics of the reference's
``cube_stref_regular`` / ``cube_view`` (src/view.h:234-779) and datetime /
duration handling (src/datetime.h):

- spatial axes snap by *enlarging* the extent so (right-left) is a multiple
  of dx and (top-bottom) a multiple of dy (src/view.h:295-337);
- the time axis extends t1 so the number of slices is complete
  (src/view.h:355-475), and low-granularity datetime strings widen to whole
  periods (e.g. t0="2000", dt=P1D -> 2000-01-01 .. 2000-12-31,
  src/view.h:365-399);
- a labeled (irregular) time axis mirrors ``cube_stref_labeled_time``
  (src/view.h:781-927).

This module is deliberately Spark-free: it is broadcast to executors as a
plain dataclass, and grid.py writes its chunk and slot rules as Spark SQL.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

# ---------------------------------------------------------------------------
# datetime + duration (reference: src/datetime.h)
# ---------------------------------------------------------------------------

# granularity units, ordered coarse -> fine (src/datetime.h:48)
UNITS = ("Y", "M", "D", "H", "MIN", "S")

_DUR_RE = re.compile(
    r"^P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<d>\d+)D)?"
    r"(?:T(?:(?P<h>\d+)H)?(?:(?P<mi>\d+)M)?(?:(?P<s>\d+)S)?)?$"
)


@dataclass(frozen=True)
class Duration:
    """(interval, unit) pair, e.g. P1D -> (1, "D")  (src/datetime.h:68)."""

    n: int
    unit: str  # one of UNITS

    @staticmethod
    def parse(s: str) -> "Duration":
        if isinstance(s, Duration):
            return s
        m = _DUR_RE.match(s.strip().upper())
        if not m:
            raise ValueError(f"cannot parse ISO8601 duration {s!r}")
        parts = [
            (int(m.group("y") or 0), "Y"),
            (int(m.group("mo") or 0), "M"),
            (int(m.group("d") or 0), "D"),
            (int(m.group("h") or 0), "H"),
            (int(m.group("mi") or 0), "MIN"),
            (int(m.group("s") or 0), "S"),
        ]
        nz = [(n, u) for n, u in parts if n]
        if len(nz) != 1:
            raise ValueError(f"duration {s!r} must have exactly one component")
        return Duration(*nz[0])

    def __str__(self) -> str:
        u = self.unit
        if u in ("H", "MIN", "S"):
            return f"PT{self.n}{'M' if u == 'MIN' else u}"
        return f"P{self.n}{u}"

    @property
    def seconds(self) -> int:
        """Length in seconds; months/years are calendar units (no fixed length)."""
        if self.unit == "S":
            return self.n
        if self.unit == "MIN":
            return self.n * 60
        if self.unit == "H":
            return self.n * 3600
        if self.unit == "D":
            return self.n * 86400
        raise ValueError(f"{self} has no fixed length in seconds")


def detect_granularity(s: str) -> str:
    """Granularity from string length, as the reference does (src/datetime.h:137).

    "2000"->Y, "2000-01"->M, "2000-01-01"->D, +"T12"->H, +":30"->MIN, else S.
    """
    t = s.strip()
    n = len(t)
    if n <= 4:
        return "Y"
    if n <= 7:
        return "M"
    if n <= 10:
        return "D"
    if n <= 13:
        return "H"
    if n <= 16:
        return "MIN"
    return "S"


def parse_datetime(s: str) -> datetime:
    """Parse a (possibly low-granularity) ISO datetime to its period start."""
    if isinstance(s, datetime):
        return s
    t = s.strip().replace("T", " ")
    fmts = {
        "Y": "%Y",
        "M": "%Y-%m",
        "D": "%Y-%m-%d",
        "H": "%Y-%m-%d %H",
        "MIN": "%Y-%m-%d %H:%M",
        "S": "%Y-%m-%d %H:%M:%S",
    }
    g = detect_granularity(s)
    return datetime.strptime(t, fmts[g])


def period_end(s: str) -> datetime:
    """Last representable second of the period a low-granularity string denotes.

    Mirrors the reference widening t1 to the period end (src/view.h:365-399):
    "2000" as an *end* means 2000-12-31T23:59:59.
    """
    g = detect_granularity(s)
    start = parse_datetime(s)
    if g == "Y":
        return datetime(start.year, 12, 31, 23, 59, 59)
    if g == "M":
        nxt = datetime(start.year + (start.month == 12), start.month % 12 + 1, 1)
        return nxt - timedelta(seconds=1)
    if g == "D":
        return start + timedelta(days=1) - timedelta(seconds=1)
    if g == "H":
        return start + timedelta(hours=1) - timedelta(seconds=1)
    if g == "MIN":
        return start + timedelta(minutes=1) - timedelta(seconds=1)
    return start


def _months(dt: datetime) -> int:
    return dt.year * 12 + (dt.month - 1)


def _days_in_month(year: int, month: int) -> int:
    import calendar

    return calendar.monthrange(year, month)[1]


def add_duration(t: datetime, dur: Duration, k: int = 1, day: int = 0) -> datetime:
    """Calendar addition; month/year arithmetic clamps the day-of-month to
    the last valid day of the target month (2020-01-31 + P1M -> 2020-02-29),
    matching the reference's date::year_month_day handling (src/datetime.h
    operator+) and Spark's timestamp_add(MONTH, ...) used by the JVM path.
    ``day`` (0: ``t.day``) is the day of month that is clamped."""
    n = dur.n * k
    day = day or t.day
    if dur.unit == "Y":
        y = t.year + n
        return t.replace(year=y, day=min(day, _days_in_month(y, t.month)))
    if dur.unit == "M":
        m = _months(t) + n
        y, mo = m // 12, m % 12 + 1
        return t.replace(year=y, month=mo, day=min(day, _days_in_month(y, mo)))
    return t + timedelta(seconds=dur.seconds * k)


def time_index(t: datetime, t0: datetime, dt: Duration) -> int:
    """floor((t - t0) / dt) with calendar-aware months/years.

    This is the cube time coordinate (src/view.h:649-655 semantics).
    """
    if dt.unit == "Y":
        return (t.year - t0.year) // dt.n if t >= t0 else -((t0.year - t.year + dt.n - 1) // dt.n)
    if dt.unit == "M":
        d = _months(t) - _months(t0)
        return d // dt.n  # python floordiv is floor for negatives
    secs = (t - t0).total_seconds()
    return math.floor(secs / dt.seconds)


# ---------------------------------------------------------------------------
# bands (reference: src/cube.h:236-310)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Band:
    name: str
    no_data_value: float = float("nan")
    offset: float = 0.0
    scale: float = 1.0
    unit: str = ""
    type: str = "float64"


# ---------------------------------------------------------------------------
# the view
# ---------------------------------------------------------------------------

AGG_METHODS = (
    "none", "min", "max", "mean", "median", "first", "last",
    "count_images", "count_values",
)  # src/view.h:41-100
RESAMPLING_METHODS = (
    "near", "bilinear", "cubic", "cubicspline", "lanczos",
    "average", "mode", "min", "max", "med", "q1", "q3",
)  # full set of src/view.h:111-124 / src/warp.cpp:159-182


@dataclass(frozen=True)
class CubeView:
    """Regular spatiotemporal reference + view config.

    Axis semantics follow src/view.h:295-475: the stored extent is always
    snapped (enlarged) so that the axis lengths are integer multiples of the
    cell sizes. Construct via :meth:`create` to get the snapping.
    """

    srs: str = "EPSG:4326"
    left: float = -180.0
    right: float = 180.0
    bottom: float = -90.0
    top: float = 90.0
    nx: int = 512
    ny: int = 512
    t0: datetime = field(default_factory=lambda: datetime(2020, 1, 1))
    nt: int = 1
    dt: Duration = Duration(1, "D")
    aggregation: str = "first"
    resampling: str = "near"
    chunk_nt: int = 16
    chunk_ny: int = 256
    chunk_nx: int = 256  # default chunk {16,256,256} (src/cube.h:453)
    time_labels: tuple = ()  # non-empty => labeled (irregular) time axis
    # day of month the Y/M slots clamp from when it is not t0's own: a
    # crop of a month-end axis starts on a clamped day (2020-01-31 P1M from
    # slot 1 starts 2020-02-29) and keeps 31 here. 0: t0.day.
    t_day: int = 0

    # -- construction with snapping ------------------------------------------------

    @staticmethod
    def create(
        *,
        srs: str = "EPSG:4326",
        left: float,
        right: float,
        bottom: float,
        top: float,
        nx: int | None = None,
        ny: int | None = None,
        dx: float | None = None,
        dy: float | None = None,
        t0: str | datetime = "2020-01-01",
        t1: str | datetime | None = None,
        dt: str | Duration = "P1D",
        nt: int | None = None,
        aggregation: str = "first",
        resampling: str = "near",
        chunk_size: tuple = (16, 256, 256),
        time_labels: list | tuple = (),
    ) -> "CubeView":
        if aggregation not in AGG_METHODS:
            raise ValueError(f"unknown aggregation {aggregation!r}")
        if resampling not in RESAMPLING_METHODS:
            raise ValueError(f"unknown resampling {resampling!r}")
        # canonicalize at the view boundary (src/view.h:703-711 accepts
        # EPSG/WKT/proj4): kernels and serialized plans see one stable form
        from . import srs as _srs

        srs = _srs.normalize(srs)
        # -- x axis (src/view.h:295-306): given dx, enlarge extent symmetrically
        if nx is None:
            if dx is None:
                raise ValueError("need nx or dx")
            nx = max(1, math.ceil((right - left) / dx - 1e-9))
            pad = (nx * dx - (right - left)) / 2.0
            left, right = left - pad, right + pad
        # -- y axis (src/view.h:326-337)
        if ny is None:
            if dy is None:
                raise ValueError("need ny or dy")
            ny = max(1, math.ceil((top - bottom) / dy - 1e-9))
            pad = (ny * dy - (top - bottom)) / 2.0
            bottom, top = bottom - pad, top + pad
        dur = Duration.parse(dt)
        t0d = parse_datetime(t0) if isinstance(t0, str) else t0

        if time_labels:
            labels = tuple(sorted(parse_datetime(x) if isinstance(x, str) else x for x in time_labels))
            return CubeView(
                srs=srs, left=left, right=right, bottom=bottom, top=top,
                nx=int(nx), ny=int(ny), t0=labels[0], nt=len(labels), dt=dur,
                aggregation=aggregation, resampling=resampling,
                chunk_nt=chunk_size[0], chunk_ny=chunk_size[1], chunk_nx=chunk_size[2],
                time_labels=labels,
            )

        if nt is None:
            if t1 is None:
                raise ValueError("need t1 or nt")
            t1d = period_end(t1) if isinstance(t1, str) else t1
            # extend t1 so the last interval is complete (src/view.h:355-475)
            nt = max(1, time_index(t1d, t0d, dur) + 1)
        return CubeView(
            srs=srs, left=left, right=right, bottom=bottom, top=top,
            nx=int(nx), ny=int(ny), t0=t0d, nt=int(nt), dt=dur,
            aggregation=aggregation, resampling=resampling,
            chunk_nt=chunk_size[0], chunk_ny=chunk_size[1], chunk_nx=chunk_size[2],
        )

    # -- derived geometry ---------------------------------------------------------

    @property
    def dx(self) -> float:
        return (self.right - self.left) / self.nx

    @property
    def dy(self) -> float:
        return (self.top - self.bottom) / self.ny

    @property
    def labeled(self) -> bool:
        return bool(self.time_labels)

    def datetime_at(self, it: int):
        """Start datetime of time slice ``it``."""
        if self.labeled:
            return self.time_labels[it]
        return add_duration(self.t0, self.dt, it, day=self.t_day)

    def time_index_of(self, t: datetime) -> int:
        """Cube time coordinate of datetime ``t`` (may be out of [0, nt)).
        On a labeled axis this BUCKETS down to the nearest label <= t — the
        slicing-convenience semantic (crop_map/slice_time string args)."""
        if self.labeled:
            import bisect

            i = bisect.bisect_right(self.time_labels, t) - 1
            return i
        return time_index(t, self.t0, self.dt)

    def slot_index_of(self, t: datetime) -> int:
        """Aggregation-slot index used by the BUILD kernels. Regular axis:
        same as time_index_of. Labeled axis: EXACT label match only, else -1
        (dropped) — the reference errors on non-exact labels
        (src/view.h:825-881 index_at_datetime); we drop instead of raising,
        as the build's scan (build._vec_time_slots) and grid.slot_sql do."""
        if self.labeled:
            i = self.time_index_of(t)
            if 0 <= i < self.nt and self.time_labels[i] == t:
                return i
            return -1
        return time_index(t, self.t0, self.dt)

    @property
    def t_end(self) -> datetime:
        if self.labeled:
            return self.time_labels[-1]
        return self.datetime_at(self.nt)

    # map coords -> cube coords (src/view.h:632-655); y flips: iy counts down
    def ix_of(self, x: float) -> int:
        return int(math.floor((x - self.left) / self.dx))

    def iy_of(self, y: float) -> int:
        return int(math.floor((self.top - y) / self.dy))

    def x_of(self, ix: int) -> float:
        """Cell-center x of column ix."""
        return self.left + (ix + 0.5) * self.dx

    def y_of(self, iy: int) -> float:
        """Cell-center y of row iy (row 0 = top, src/view.h:632-638)."""
        return self.top - (iy + 0.5) * self.dy

    @property
    def shape(self) -> tuple:
        """(nt, ny, nx)"""
        return (self.nt, self.ny, self.nx)

    def with_time(self, t0: datetime, nt: int, dt: Duration | None = None,
                  time_labels: tuple = ()) -> "CubeView":
        dt = dt or self.dt
        day = self.t_day if dt.unit in ("Y", "M") and not time_labels else 0
        return replace(self, t0=t0, nt=nt, dt=dt, time_labels=time_labels, t_day=day)

    def time_slice(self, it0: int, it1: int) -> "CubeView":
        """The axis of slots [it0, it1): each slot keeps its time. A labeled
        axis keeps its labels; a regular one restarts at slot it0 with the
        slot rule unchanged (Y/M slots clamp from the same day of month,
        so slot times and calendar buckets both stay)."""
        t0 = self.datetime_at(it0)
        if self.labeled:
            return replace(self, t0=t0, nt=it1 - it0, time_labels=self.time_labels[it0:it1])
        day = self.t_day or self.t0.day
        keep = self.dt.unit in ("Y", "M") and day != t0.day
        return replace(self, t0=t0, nt=it1 - it0, t_day=day if keep else 0)

    # -- (de)serialization (analog of src/view.h:741-760) --------------------------

    def to_json(self) -> str:
        d = {
            "srs": self.srs,
            "space": {"left": self.left, "right": self.right, "bottom": self.bottom,
                      "top": self.top, "nx": self.nx, "ny": self.ny},
            "time": {"t0": self.t0.isoformat(), "nt": self.nt, "dt": str(self.dt)},
            "aggregation": self.aggregation,
            "resampling": self.resampling,
            "chunk_size": [self.chunk_nt, self.chunk_ny, self.chunk_nx],
        }
        if self.labeled:
            d["time"]["labels"] = [t.isoformat() for t in self.time_labels]
        if self.t_day:
            d["time"]["day"] = self.t_day
        return json.dumps(d)

    @staticmethod
    def from_json(s: str) -> "CubeView":
        d = json.loads(s)
        sp, tm = d["space"], d["time"]
        labels = tuple(parse_datetime(x.replace("T", " ")) for x in tm.get("labels", ()))
        return CubeView(
            srs=d["srs"], left=sp["left"], right=sp["right"], bottom=sp["bottom"],
            top=sp["top"], nx=sp["nx"], ny=sp["ny"],
            t0=parse_datetime(tm["t0"].replace("T", " ")), nt=tm["nt"],
            dt=Duration.parse(tm["dt"]), aggregation=d["aggregation"],
            resampling=d["resampling"], chunk_nt=d["chunk_size"][0],
            chunk_ny=d["chunk_size"][1], chunk_nx=d["chunk_size"][2],
            time_labels=labels, t_day=tm.get("day", 0),
        )
