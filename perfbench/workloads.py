"""The four benchmark workloads: their inputs, queries and output checks.

Each workload is a closed loop of one client: the next query is sent when
the previous one has returned. A query goes through the engine's public
calls only (``build_cube``, ``Cube.reduce_time``, ``assignment``) and its
full output is compared with ``tests/oracle_np.py``; the oracle arrays are
computed once per seed, before any timed region, and cached beside the input
table.
"""

from __future__ import annotations

import calendar
import math

import numpy as np
import pandas as pd

from inputs import Table

N_BUILD = 4000   # synth table shared by build_mean and join_tiles
N_JPEG = 240     # real baseline-JPEG payloads decode ~100x slower than PNG
N_SMALL = 2000   # small_cubes' own table, written as one file

# name -> (index offset inside the seed's range, rows, codec, parquet files)
TABLES = {
    "synth": (0, N_BUILD, "synth", 8),
    "jpeg": (200_000, N_JPEG, "jpeg", 8),
    "small": (400_000, N_SMALL, "synth", 1),
}

FLAGSHIP_VIEW = dict(
    left=-50.0, right=50.0, bottom=-40.0, top=40.0, nx=1000, ny=800,
    t0="2020-01-01", t1="2020-12-31", dt="P1M", resampling="near",
    chunk_size=(4, 100, 125),
)
# join_tiles keeps the extent, months and 8x8x3 chunk grid but uses 0.4 deg
# cells: count_values emits every cell of every touched chunk slice, and at
# 0.1 deg that is ~10M zero cells per query, which would bury the join,
# exchange and kernel layers this workload is meant to load.
JOIN_VIEW = dict(FLAGSHIP_VIEW, nx=250, ny=200, chunk_size=(4, 25, 32))
REDUCERS = [("mean", "B1"), ("count", "B1")]


def make_view(kw: dict, aggregation: str):
    from gdalcubes_cpp_spark.view import CubeView

    return CubeView.create(aggregation=aggregation, **kw)


def _candidates(pdf: pd.DataFrame, view) -> pd.DataFrame:
    """Images that can touch ``view`` (a superset; the oracle filters exactly)."""
    pad = 1.0
    m = ((pdf["right"] >= view.left - pad) & (pdf["left"] <= view.right + pad)
         & (pdf["top"] >= view.bottom - pad) & (pdf["bottom"] <= view.top + pad))
    return pdf.loc[m]


def useful_images(pdf: pd.DataFrame, view, pairs: bool = False) -> int:
    """Images that contribute a join pair (``pairs``, and every count_values
    build, whose chunk kernel emits zero cells for every joined image) or a
    cell centre under near resampling."""
    ts = pdf["ts"].to_numpy()
    in_t = (ts >= np.datetime64(view.t0)) & (ts < np.datetime64(view.t_end))
    left, right = pdf["left"].to_numpy(), pdf["right"].to_numpy()
    bottom, top = pdf["bottom"].to_numpy(), pdf["top"].to_numpy()
    if pairs or view.aggregation != "mean":
        hit = ((right >= view.left) & (left <= view.right)
               & (top >= view.bottom) & (bottom <= view.top))
        return int((hit & in_t).sum())
    # cell centres x_i = L + (i + .5) dx inside [left, right), clipped to the view
    ix0 = np.clip(np.ceil((left - view.left) / view.dx - 0.5), 0, view.nx)
    ix1 = np.clip(np.ceil((right - view.left) / view.dx - 0.5), 0, view.nx)
    iy0 = np.clip(np.ceil((view.top - top) / view.dy - 0.5), 0, view.ny)
    iy1 = np.clip(np.ceil((view.top - bottom) / view.dy - 0.5), 0, view.ny)
    return int(((ix1 > ix0) & (iy1 > iy0) & in_t).sum())


# -- the three query shapes -------------------------------------------------------

class ReduceQuery:
    """build_cube -> reduce_time([mean B1, count B1]) over a whole view."""

    def __init__(self, label: str, view_kw: dict, aggregation: str):
        self.label = label
        self.view = make_view(view_kw, aggregation)

    def dataframe(self, images):
        from gdalcubes_cpp_spark.operators.build import build_cube

        cube = build_cube(images, self.view, bands=("B1", "B2"), strategy="auto")
        return cube.reduce_time(REDUCERS).df

    def oracle(self, table: Table) -> dict:
        from tests import oracle_np

        dense = oracle_np.dense_cube(table.pdf, self.view, "near",
                                     self.view.aggregation, nb=1, decode=table.decode)[0]
        count = (~np.isnan(dense)).sum(axis=0)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.nansum(dense, axis=0) / count
        return {"mean": mean, "count": count.astype(np.int64)}

    def check(self, out: pd.DataFrame, want: dict) -> bool:
        v = self.view
        mean = np.full((v.ny, v.nx), np.nan)
        count = np.zeros((v.ny, v.nx), np.int64)
        iy, ix = out["iy"].to_numpy(), out["ix"].to_numpy()
        mean[iy, ix] = out["B1_mean"].to_numpy(dtype=np.float64, na_value=np.nan)
        count[iy, ix] = out["B1_count"].to_numpy(dtype=np.int64)
        return _same(mean, want["mean"]) and np.array_equal(count, want["count"])

    def useful(self, pdf: pd.DataFrame) -> int:
        return useful_images(pdf, self.view)


class CubeQuery:
    """build_cube over a small window; the whole cube is returned."""

    def __init__(self, label: str, view):
        self.label, self.view = label, view

    def dataframe(self, images):
        from gdalcubes_cpp_spark.operators.build import build_cube

        return build_cube(images, self.view, bands=("B1", "B2"), strategy="auto").df

    def oracle(self, table: Table) -> dict:
        from tests import oracle_np

        return {"dense": oracle_np.dense_cube(
            _candidates(table.pdf, self.view), self.view, "near",
            self.view.aggregation, nb=2, decode=table.decode)}

    def check(self, out: pd.DataFrame, want: dict) -> bool:
        v = self.view
        got = np.full((2, v.nt, v.ny, v.nx), np.nan)
        it, iy, ix = (out[c].to_numpy() for c in ("it", "iy", "ix"))
        for b, band in enumerate(("B1", "B2")):
            got[b, it, iy, ix] = out[band].to_numpy(dtype=np.float64, na_value=np.nan)
        return _same(got, want["dense"])

    def useful(self, pdf: pd.DataFrame) -> int:
        return useful_images(pdf, self.view)


class AssignmentQuery:
    """The (image_id, chunk_id) st_join relation of a small window."""

    def __init__(self, label: str, view):
        self.label, self.view = label, view

    def dataframe(self, images):
        from gdalcubes_cpp_spark.grid import ChunkGrid
        from gdalcubes_cpp_spark.operators.stjoin import assignment

        return assignment(images, ChunkGrid(self.view))

    def oracle(self, table: Table) -> dict:
        from tests import oracle_np
        from gdalcubes_cpp_spark.grid import ChunkGrid

        rows = oracle_np.st_assignment(_candidates(table.pdf, self.view), ChunkGrid(self.view))
        return {"image_id": np.array([r[0] for r in rows], dtype=str),
                "chunk_id": np.array([r[1] for r in rows], dtype=np.int64)}

    def check(self, out: pd.DataFrame, want: dict) -> bool:
        got = sorted(zip(out["image_id"], out["chunk_id"].astype(np.int64)))
        return got == list(zip(want["image_id"].tolist(), want["chunk_id"].tolist()))

    def useful(self, pdf: pd.DataFrame) -> int:
        return useful_images(pdf, self.view, pairs=True)


def _same(got: np.ndarray, want: np.ndarray) -> bool:
    """Equal NaN pattern and finite values within 1e-9."""
    if got.shape != want.shape or not np.array_equal(np.isnan(got), np.isnan(want)):
        return False
    fin = ~np.isnan(want)
    return bool(np.all(np.abs(got[fin] - want[fin]) <= 1e-9))


def corrupt(out: pd.DataFrame) -> pd.DataFrame:
    """A copy of a query output with one value changed, for checking the check."""
    bad = out.copy()
    col = next(c for c in ("B1_count", "B1", "chunk_id") if c in bad.columns)
    row = bad[col].first_valid_index()
    bad.loc[row, col] = bad.loc[row, col] + 1
    return bad


# -- small_cubes' seeded query sequence --------------------------------------------

# One round of small_cubes: (kind, window centre, side in degrees, first
# month, months). Every seed runs the same mix; the seed jitters each window
# by up to half a degree and a month, so seeds differ in the images a window
# holds but not in the kind of work. Three windows sit on the hotspots. The
# round has an odd number of queries, so over whole rounds the median (and
# the tail rank of four rounds) falls inside one query's cluster of times
# rather than on the gap between two.
SMALL_ROUND = [
    ("assignment", (-10.0, 20.0), 2.0, 2, 1),
    ("mean", (25.0, -5.0), 3.0, 5, 2),
    ("count_values", (5.0, 35.0), 2.0, 8, 1),
    ("assignment", (-30.0, -20.0), 4.0, 8, 3),
    ("mean", (35.0, 15.0), 2.0, 2, 1),
    ("count_values", (-35.0, 5.0), 2.0, 5, 1),
    ("mean", (-5.0, -30.0), 2.0, 10, 2),
]


def small_queries(seed: int) -> list:
    """Few-degree windows over 1-3 months as assignment, a mean cube and a
    count_values cube."""
    rng = np.random.default_rng([seed, 7])
    out = []
    for k, (kind, (cx, cy), size, m0, months) in enumerate(SMALL_ROUND):
        cx, cy = cx + rng.uniform(-0.5, 0.5), cy + rng.uniform(-0.5, 0.5)
        m0 += int(rng.integers(0, 2))
        m1 = m0 + months - 1
        left = math.floor((cx - size / 2) * 10) / 10
        bottom = math.floor((cy - size / 2) * 10) / 10
        n = int(round(size / 0.05))
        view = make_view(dict(
            left=left, right=left + size, bottom=bottom, top=bottom + size, nx=n, ny=n,
            t0=f"2020-{m0:02d}-01", t1=f"2020-{m1:02d}-{calendar.monthrange(2020, m1)[1]}",
            dt="P1M", resampling="near", chunk_size=(1, 32, 32),
        ), "count_values" if kind == "count_values" else "mean")
        label = f"q{k}_{kind}"
        out.append(AssignmentQuery(label, view) if kind == "assignment"
                   else CubeQuery(label, view))
    return out


class Workload:
    def __init__(self, table: str, queries, timed: int = 12):
        self.table = table  # input table name
        self.queries = queries  # callable(seed) -> list of queries
        # a run times at least this many queries (and at least --seconds);
        # on a 4-core host the count, not the time, ends the window, so the
        # tail statistic keeps its rank from run to run
        self.timed = timed


WORKLOADS = {
    "build_mean": Workload(
        "synth", lambda seed: [ReduceQuery("flagship_mean", FLAGSHIP_VIEW, "mean")], timed=14),
    "build_jpeg": Workload(
        "jpeg", lambda seed: [ReduceQuery("flagship_jpeg", FLAGSHIP_VIEW, "mean")]),
    "join_tiles": Workload(
        "synth",
        lambda seed: [ReduceQuery("tiles_count_values", JOIN_VIEW, "count_values")]),
    "small_cubes": Workload("small", small_queries, timed=4 * len(SMALL_ROUND)),
}


def table(root: str, name: str, seed: int) -> Table:
    offset, rows, codec, files = TABLES[name]
    return Table(root, name, seed, offset, rows, codec, files)
