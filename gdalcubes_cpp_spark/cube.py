"""The Cube: a lazily-evaluated 4-D array view backed by a Spark DataFrame.

Representation: sparse wide long format — one row per non-empty (it, iy, ix)
cell with one DOUBLE column per band; NULL ≡ the reference's NaN-nodata
(src/cube.h:318-433 stores dense float64 chunks with NaN; absent rows/NULLs
are the sparse equivalent, and the all-NaN-chunk→empty collapse of
src/image_collection_cube.cpp:591-594 falls out for free). The DataFrame
lineage IS the lazy cube DAG (the reference hand-rolls this with _pre/_succ
pointers + JSON plans, src/cube.h:876-929); Catalyst gives column pruning,
predicate pushdown and partial aggregation that the reference hard-codes
(src/select_bands.h:36-38) or lacks.

Every derived operator from SURVEY.md §2.3 is a method here, each citing the
reference implementation it matches. All are pure DataFrame ops — no Python
in the hot path except where semantics require a kernel (none here; the only
pandas UDFs in the engine are the build/extract kernels).
"""

from __future__ import annotations

from dataclasses import dataclass, replace as dc_replace

from pyspark.sql import DataFrame, Window as W, functions as F

from .grid import ChunkGrid
from .view import CubeView, Duration

KEY = ["it", "iy", "ix"]

# reducer -> Spark SQL aggregate over one column ({} is the quoted column)
_REDUCERS = {
    "min": "min({})",
    "max": "max({})",
    "mean": "avg({})",
    "sum": "sum({})",
    "count": "count({})",
    "prod": "aggregate(collect_list({}), cast(1.0 as double), (a, x) -> a * x)",
    "median": "percentile({}, 0.5)",
    "Q1": "percentile({}, 0.25)",
    "Q3": "percentile({}, 0.75)",
    "var": "var_samp({})",   # Welford ddof=1 (src/reduce_time.cpp:467-514)
    "sd": "stddev_samp({})",
    # per-pixel least-squares trend over slice index (the NDVI-trend
    # workflow; an extension — the reference's TODO at reduce_time.cpp:355
    # stops at exact kernels). NULL slices drop out pairwise; constant x
    # (e.g. under reduce_space) yields NULL.
    "slope": "regr_slope({}, it)",
    "intercept": "regr_intercept({}, it)",
    # approximate quantiles — the reference's OWN future-work note
    # (src/reduce_time.cpp:355 'approx medians') realized with Spark's
    # Greenwald-Khanna sketch: mergeable partial state, so the 100 TB
    # reduction never buffers per-cell value lists the way the exact
    # percentile kernel does. Error bound 1/accuracy (pytest-gated).
    "approx_median": "percentile_approx({}, 0.5, 10000)",
    "approx_Q1": "percentile_approx({}, 0.25, 10000)",
    "approx_Q3": "percentile_approx({}, 0.75, 10000)",
}


def _reduce(r: str, col: str, name: str) -> F.Column:
    """Reducer ``r`` over column ``col`` as a double named ``name``: one
    SQL expression, one py4j call."""
    return F.expr(f"CAST({_REDUCERS[r].format(f'`{col}`')} AS DOUBLE) AS `{name}`")


# moving-window reducers supported by window_time (src/window_time.cpp:29-95)
_WINDOW_REDUCERS = {"mean", "sum", "count", "prod", "min", "max", "median"}


def _dtnum_sql(t: str) -> str:
    """datetime SQL -> numeric yyyyMMddHHmmss double (src/datetime.h:140-148)."""
    return f"CAST(date_format({t}, 'yyyyMMddHHmmss') AS DOUBLE)"


@dataclass(frozen=True)
class Cube:
    df: DataFrame
    view: CubeView
    bands: tuple

    # ------------------------------------------------------------------ util

    @property
    def grid(self) -> ChunkGrid:
        return ChunkGrid(self.view)

    def _with(self, df: DataFrame, view: CubeView | None = None, bands=None) -> "Cube":
        return Cube(df, view or self.view, tuple(bands) if bands is not None else self.bands)

    def time_col(self) -> F.Column:
        """Timestamp of slice ``it`` (regular or labeled axis)."""
        return F.expr(self.grid.time_at_sql("it"))

    def with_chunk_id(self) -> DataFrame:
        return self.df.selectExpr("*", f"{self.grid.chunk_of_sql('it', 'iy', 'ix')} AS chunk_id")

    def seeded_cells(self) -> DataFrame:
        """(it, iy, ix, *bands) plus one seed row per slice index with NULL
        iy, ix and bands, so grouping by ``it`` forms a group for every
        slice, an empty one included (the per-slice writers)."""
        seed = self.df.sparkSession.range(self.view.nt).select(
            F.col("id").cast("int").alias("it"),
            *[F.lit(None).cast("int").alias(c) for c in ("iy", "ix")],
            *[F.lit(None).cast("double").alias(b) for b in self.bands],
        )
        return self.df.select(*KEY, *self.bands).unionByName(seed)

    def to_long(self) -> DataFrame:
        """(it, iy, ix, band, value) melt — the relational cells view."""
        pairs = F.array(
            *[F.struct(F.lit(b).alias("band"), F.col(b).alias("value")) for b in self.bands]
        )
        return (
            self.df.select(*KEY, F.explode(pairs).alias("bv"))
            .select(*KEY, "bv.band", "bv.value")
            .filter(F.col("value").isNotNull())
        )

    # ------------------------------------------------- projection (§2.3 rows 1-2)

    def select_bands(self, names) -> "Cube":
        """select_bands (src/select_bands.h:50-70). Catalyst prunes the scan —
        the reference's explicit pushdown (src/select_bands.h:36-38) for free."""
        missing = [n for n in names if n not in self.bands]
        if missing:
            raise ValueError(f"no such bands: {missing}")
        return self._with(self.df.select(*KEY, *names), bands=tuple(names))

    def rename_bands(self, mapping: dict) -> "Cube":
        """rename_bands (src/rename_bands.h:45-50)."""
        df = self.df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        return self._with(df, bands=tuple(mapping.get(b, b) for b in self.bands))

    # --------------------------------------------------- pixel ops (§2.3 rows 3-4)

    def apply_pixel(self, exprs: dict, keep_bands: bool = False) -> "Cube":
        """apply_pixel (src/apply_pixel.h:55-60): per-pixel SQL expressions over
        band names + coordinate vars ix/iy/it/left/right/top/bottom/x/y
        (src/apply_pixel.cpp:66-128). Spark SQL replaces tinyexpr; Catalyst
        codegen replaces the per-pixel eval loop (src/apply_pixel.cpp:151)."""
        v = self.view
        df = self.df
        ctx = df.withColumns(
            {
                "x": F.lit(v.left) + (F.col("ix") + 0.5) * v.dx,
                "y": F.lit(v.top) - (F.col("iy") + 0.5) * v.dy,
                "left": F.lit(v.left) + F.col("ix") * v.dx,
                "right": F.lit(v.left) + (F.col("ix") + 1) * v.dx,
                "top": F.lit(v.top) - F.col("iy") * v.dy,
                "bottom": F.lit(v.top) - (F.col("iy") + 1) * v.dy,
            }
        )
        new_cols = {name: F.expr(e).cast("double") for name, e in exprs.items()}
        out_bands = (list(self.bands) if keep_bands else []) + list(exprs)
        out = ctx.withColumns(new_cols).select(*KEY, *out_bands)
        return self._with(out, bands=tuple(out_bands))

    def filter_pixel(self, predicate: str) -> "Cube":
        """filter_pixel (src/filter_pixel.h:36, src/filter_pixel.cpp:79-102):
        pixels failing the predicate become nodata across ALL bands — in the
        sparse model, the row is dropped (shape metadata unchanged)."""
        return self._with(self.df.filter(F.expr(predicate)))

    # ------------------------------------------ dimension subsets (§2.3 rows 6-9)

    def crop(self, ix_range=None, iy_range=None, it_range=None) -> "Cube":
        """crop by integer cube coords (src/crop.h:50-79); ranges are
        [lo, hi) half-open; output coords re-based to 0."""
        v = self.view
        df = self.df
        x0, x1 = ix_range or (0, v.nx)
        y0, y1 = iy_range or (0, v.ny)
        t0, t1 = it_range or (0, v.nt)
        df = df.filter(
            (F.col("ix") >= x0) & (F.col("ix") < x1)
            & (F.col("iy") >= y0) & (F.col("iy") < y1)
            & (F.col("it") >= t0) & (F.col("it") < t1)
        ).select(
            (F.col("it") - t0).alias("it"),
            (F.col("iy") - y0).alias("iy"),
            (F.col("ix") - x0).alias("ix"),
            *self.bands,
        )
        nv = dc_replace(
            v.time_slice(t0, t1),
            left=v.left + x0 * v.dx, right=v.left + x1 * v.dx,
            top=v.top - y0 * v.dy, bottom=v.top - y1 * v.dy,
            nx=x1 - x0, ny=y1 - y0,
        )
        return self._with(df, view=nv)

    def crop_map(self, left, right, bottom, top, t0=None, t1=None,
                 snap: str = "near") -> "Cube":
        """crop by map coords + datetimes with the reference's three snap
        modes (src/crop.h:98-123): continuous index bounds
        x_min=(left-ref.left)/dx, x_max=-1+(right-ref.left)/dx, then
        'near'=round (default, like the reference), 'in'=ceil/floor
        (shrink), 'out'=floor/ceil (grow)."""
        import math as _m

        v = self.view
        x_min = (left - v.left) / v.dx
        x_max = -1.0 + (right - v.left) / v.dx
        y_min = (v.top - top) / v.dy
        y_max = -1.0 + (v.top - bottom) / v.dy
        def _cround(a):  # C++ std::round = half away from zero (not banker's)
            return int(_m.floor(a + 0.5)) if a >= 0 else int(_m.ceil(a - 0.5))

        if snap == "near":
            f_lo, f_hi = _cround, _cround
        elif snap == "in":
            f_lo, f_hi = lambda a: int(_m.ceil(a)), lambda a: int(_m.floor(a))
        elif snap == "out":
            f_lo, f_hi = lambda a: int(_m.floor(a)), lambda a: int(_m.ceil(a))
        else:
            raise ValueError('snap must be one of "near", "in", "out"')
        ix0, ix1 = max(0, f_lo(x_min)), min(v.nx, f_hi(x_max) + 1)
        iy0, iy1 = max(0, f_lo(y_min)), min(v.ny, f_hi(y_max) + 1)
        itr = None
        if t0 is not None:
            it0 = max(0, v.time_index_of(t0))
            it1 = min(v.nt, v.time_index_of(t1) + 1)
            itr = (it0, it1)
        return self.crop(ix_range=(ix0, ix1), iy_range=(iy0, iy1), it_range=itr)

    def slice_time(self, it: int | str) -> "Cube":
        """slice_time (src/slice_time.h:45-65): nt=1 cube."""
        if isinstance(it, str):
            from .view import parse_datetime

            it = self.view.time_index_of(parse_datetime(it))
        return self.crop(it_range=(it, it + 1))

    def slice_space(self, ix: int, iy: int) -> "Cube":
        """slice_space (src/slice_space.h:46-67): single-pixel time series."""
        return self.crop(ix_range=(ix, ix + 1), iy_range=(iy, iy + 1))

    def select_time(self, its: list) -> "Cube":
        """select_time (src/select_time.h:22-43): arbitrary slices → labeled
        (irregular) time axis; output it re-indexed 0..k-1."""
        v = self.view
        idx = []
        for t in its:
            if isinstance(t, str):
                from .view import parse_datetime

                idx.append(v.time_index_of(parse_datetime(t)))
            else:
                idx.append(int(t))
        labels = tuple(v.datetime_at(i) for i in idx)
        mapping = F.map_from_arrays(
            F.array(*[F.lit(i) for i in idx]),
            F.array(*[F.lit(k) for k in range(len(idx))]),
        )
        df = (
            self.df.filter(F.col("it").isin(idx))
            .withColumn("it", F.element_at(mapping, F.col("it")).cast("int"))
        )
        nv = v.with_time(labels[0], len(labels), time_labels=labels)
        return self._with(df, view=nv)

    # ----------------------------------------------------- reductions (§2.3)

    def reduce_time(self, reducers) -> "Cube":
        """reduce_time (src/reduce_time.h:46-51, kernels src/reduce_time.cpp:
        56-524): per-(band, x, y) reduction over ALL time → nt=1.
        ``reducers``: list of (reducer, band). which_min/which_max return the
        extremum's datetime as numeric yyyyMMddHHmmss (src/reduce_time.cpp:
        188-240, datetime::to_double src/datetime.h:140-148); ties break to
        the earliest time (sequential scan with strict <)."""
        aggs, names = [], []
        for r, b in reducers:
            name = f"{b}_{r}" if self.view.nt > 1 else b  # src/reduce_time.h:96-99
            names.append(name)
            if r in ("which_min", "which_max"):
                tnum = _dtnum_sql(self.grid.time_at_sql("it"))
                v = f"`{b}`" if r == "which_min" else f"-`{b}`"
                aggs.append(F.expr(
                    f"min_by(named_struct('it', it, '_tnum', {tnum}), CASE WHEN `{b}` IS NOT "
                    f"NULL THEN struct({v}, it) END)._tnum AS `{name}`"))
            elif r in _REDUCERS:
                aggs.append(_reduce(r, b, name))
            else:
                raise ValueError(f"unknown reducer {r!r}")
        out = self.df.groupBy("iy", "ix").agg(*aggs).selectExpr(
            "CAST(0 AS INT) AS it", "iy", "ix", *[f"`{n}`" for n in names])
        nv = self.view.with_time(self.view.t0, 1, Duration(1, "D"), time_labels=())
        return self._with(out, view=nv, bands=tuple(names))

    def reduce_space(self, reducers) -> "Cube":
        """reduce_space (src/reduce_space.h:45-63): per-(band, t) reduction
        over ALL space → nx=ny=1 (same reducer set minus which_*)."""
        aggs, names = [], []
        for r, b in reducers:
            if r in ("which_min", "which_max"):
                raise ValueError("which_* not supported for reduce_space (matches reference)")
            name = f"{b}_{r}"
            names.append(name)
            aggs.append(_reduce(r, b, name))
        out = (
            self.df.groupBy("it")
            .agg(*aggs)
            .withColumns({"iy": F.lit(0).cast("int"), "ix": F.lit(0).cast("int")})
            .select(*KEY, *names)
        )
        v = self.view
        nv = dc_replace(v, nx=1, ny=1)
        return self._with(out, view=nv, bands=tuple(names))

    # ------------------------------------------- grouped downsampling (§2.3)

    def aggregate_time(self, fact: int = None, dt: str = None, func: str = "mean") -> "Cube":
        """aggregate_time (src/aggregate_time.h:50-127): temporal downsampling
        to coarser dt. New slice k aggregates input slices [k*fact, (k+1)*fact).
        funcs: min/max/mean/median/count/var/sd/prod/sum."""
        v = self.view
        if fact is None:
            nd = Duration.parse(dt)
            if nd.unit != v.dt.unit or nd.n % v.dt.n != 0:
                raise ValueError("target dt must be a multiple of input dt in the same unit")
            fact = nd.n // v.dt.n
        else:
            nd = Duration(v.dt.n * fact, v.dt.unit)
        if func not in _REDUCERS:
            raise ValueError(f"unknown func {func!r}")
        gb = (F.col("it") / fact).cast("int").alias("it")
        aggs = [_reduce(func, b, b) for b in self.bands]
        out = self.df.groupBy(gb, "iy", "ix").agg(*aggs).select(*KEY, *self.bands)
        import math

        nv = v.with_time(v.t0, math.ceil(v.nt / fact), nd)
        return self._with(out, view=nv)

    def aggregate_space(self, fact: int, func: str = "mean") -> "Cube":
        """aggregate_space (src/aggregate_space.h:50-74): spatial downsampling
        by integer factor; per-target-cell aggregation over covered input
        pixels (fan-in re-chunk, src/aggregate_space.cpp:281-420) — in Spark
        simply a groupBy on floored coordinates (one shuffle)."""
        if func not in _REDUCERS:
            raise ValueError(f"unknown func {func!r}")
        v = self.view
        gy = (F.col("iy") / fact).cast("int").alias("iy")
        gx = (F.col("ix") / fact).cast("int").alias("ix")
        aggs = [_reduce(func, b, b) for b in self.bands]
        out = self.df.groupBy("it", gy, gx).agg(*aggs).select(*KEY, *self.bands)
        import math

        nv = dc_replace(
            v,
            nx=math.ceil(v.nx / fact), ny=math.ceil(v.ny / fact),
            right=v.left + math.ceil(v.nx / fact) * v.dx * fact,
            bottom=v.top - math.ceil(v.ny / fact) * v.dy * fact,
        )
        return self._with(out, view=nv)

    # ------------------------------------------------ moving windows (§2.3)

    def window_time(self, window: tuple, reducers=None, kernel=None) -> "Cube":
        """window_time (src/window_time.h:48-73): moving window over time per
        pixel. window=(l, r) frames rowsBetween(-l, +r) in SLICE units (the
        reference reads ±k neighbor chunks, src/window_time.cpp:140-156 — the
        Window frame is the Spark-native equivalent, no chunk bookkeeping).

        Either ``reducers`` = [(reducer, band)] or ``kernel`` = list of
        l+1+r taps (convolution, src/window_time.cpp:120-157). Missing cells
        inside the frame are ignored by reducers; for kernels they contribute
        0 (matching the reference's NaN-skip accumulate)."""
        l, r = window
        v = self.view
        # densify over time: every pixel needs all nt slices to frame correctly
        dense = self._densify_time()
        w = W.partitionBy("iy", "ix").orderBy("it").rowsBetween(-l, r)
        if kernel is not None:
            if len(kernel) != l + 1 + r:
                raise ValueError("kernel length must be l+1+r (src/window_time.h:105-109)")
            taps = F.array(*[F.lit(float(k)) for k in kernel])
            cols = {}
            for b in self.bands:
                vals = F.collect_list(F.struct(F.col("it").alias("t"), F.col(b).alias("v"))).over(w)
                # position tap by relative offset; NaN-skip like the reference
                cols[b] = F.aggregate(
                    vals,
                    F.lit(0.0),
                    lambda acc, s: acc
                    + F.when(
                        s["v"].isNotNull(), s["v"] * F.element_at(taps, (s["t"] - F.col("it") + l + 1).cast("int"))
                    ).otherwise(F.lit(0.0)),
                )
            out = dense.withColumns(cols).select(*KEY, *self.bands)
            return self._with(out)
        names, cols = [], {}
        for red, b in reducers:
            if red not in _WINDOW_REDUCERS:
                raise ValueError(f"reducer {red!r} not supported by window_time")
            name = f"{b}_{red}"
            names.append(name)
            if red != "prod":
                cols[name] = F.expr(_REDUCERS[red].format(f"`{b}`")).over(w).cast("double")
            else:
                cols[name] = F.expr(
                    f"aggregate(collect_list({b}) over (partition by iy, ix order by it rows between {l} preceding and {r} following), cast(1.0 as double), (a, x) -> a * x)"
                )
        out = dense.withColumns(cols).select(*KEY, *names)
        return self._with(out, bands=tuple(names))

    def window_space(self, window: tuple, reducers=None, kernel=None) -> "Cube":
        """Moving FOCAL window over space per time slice — the
        window_space of the user-facing gdalcubes API (the C++ core ships
        only window_time, src/window_time.h; this is the spatial
        counterpart, an extension). ``window`` = (a, b): half-sizes in y
        and x, i.e. a (2a+1)x(2b+1) neighborhood truncated at view edges.
        Either ``reducers`` = [(reducer, band)] (missing/NULL cells are
        ignored, like window_time) or ``kernel`` = 2D weight list of shape
        (2a+1)x(2b+1) (missing cells contribute 0 — zero padding, the
        same NaN-skip accumulate as the time kernel).

        Shuffle shape: each populated cell ADVERTISES its value to every
        target position of its window (a Generate of (2a+1)(2b+1) rows —
        the halo/ghost-cell exchange expressed as data instead of chunk
        bookkeeping, same formulation as fill_space_knn), then ONE
        groupBy(it, ty, tx) reduces contributions. Cost scales as
        rows x window area with no quadratic term and no dense
        materialization; a 10^12-cell cube with a 5x5 window shuffles
        25 narrow rows per cell, each a handful of doubles."""
        a, b = window
        v = self.view
        offy, offx = F.sequence(F.lit(-a), F.lit(a)), F.sequence(F.lit(-b), F.lit(b))
        pairs = F.explode(
            F.flatten(
                F.transform(
                    offy,
                    lambda dy: F.transform(offx, lambda dx: F.struct(dy.alias("dy"), dx.alias("dx"))),
                )
            )
        ).alias("o")
        adv = (
            self.df.select(*KEY, *self.bands, pairs)
            .select(
                "it",
                (F.col("iy") + F.col("o.dy")).cast("int").alias("ty"),
                (F.col("ix") + F.col("o.dx")).cast("int").alias("tx"),
                F.col("o.dy").alias("dy"), F.col("o.dx").alias("dx"),
                *self.bands,
            )
            .filter(
                (F.col("ty") >= 0) & (F.col("ty") < v.ny)
                & (F.col("tx") >= 0) & (F.col("tx") < v.nx)
            )
        )
        if kernel is not None:
            if len(kernel) != 2 * a + 1 or any(len(row) != 2 * b + 1 for row in kernel):
                raise ValueError("kernel must have shape (2a+1) x (2b+1)")
            flat = [float(w) for row in kernel for w in row]
            taps = F.array(*[F.lit(w) for w in flat])
            # source sits at offset (-dy, -dx) inside the TARGET's window
            idx = ((F.lit(a) - F.col("dy")) * (2 * b + 1) + (F.lit(b) - F.col("dx")) + 1).cast("int")
            aggs = [
                F.sum(
                    F.when(F.col(f"`{bn}`").isNotNull(), F.col(f"`{bn}`") * F.element_at(taps, idx))
                    .otherwise(F.lit(0.0))
                ).alias(bn)
                for bn in self.bands
            ]
            out = adv.groupBy("it", "ty", "tx").agg(*aggs).withColumnsRenamed(
                {"ty": "iy", "tx": "ix"}
            ).select(*KEY, *self.bands)
            return self._with(out)
        names, aggs = [], []
        for red, bn in reducers:
            if red not in _WINDOW_REDUCERS:
                raise ValueError(f"reducer {red!r} not supported by window_space")
            name = f"{bn}_{red}"
            names.append(name)
            aggs.append(_reduce(red, bn, name))
        out = adv.groupBy("it", "ty", "tx").agg(*aggs).withColumnsRenamed(
            {"ty": "iy", "tx": "ix"}
        ).select(*KEY, *names)
        return self._with(out, bands=tuple(names))

    def _densify_time(self) -> DataFrame:
        """Expand each (iy, ix) pixel to all nt slices (nulls where absent) —
        needed by window/fill ops whose frames count slices, not rows
        (output rows must exist at absent cells whose window sees values).

        ONE shuffle: groupBy(iy, ix) packs each pixel's series into an
        it->bands map, then explode+lookup rebuilds the dense series. The
        downstream Window partitionBy(iy, ix) REUSES this hash partitioning
        (no second exchange) — vs the previous distinct + re-join, which
        cost two extra shuffles of the full table (r1 VERDICT #4)."""
        v = self.view
        packed = self.df.groupBy("iy", "ix").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("it"),
                        F.struct(*[F.col(f"`{b}`") for b in self.bands]).alias("v"),
                    )
                )
            ).alias("_m")
        )
        return packed.select(
            "iy", "ix",
            F.explode(F.sequence(F.lit(0), F.lit(v.nt - 1))).alias("_it"),
            "_m",
        ).select(
            F.col("_it").cast("int").alias("it"), "iy", "ix",
            *[F.col("_m")[F.col("_it")][b].alias(b) for b in self.bands],
        )

    def fill_time(self, method: str = "linear") -> "Cube":
        """fill_time (src/fill_time.h:23-28, methods src/fill_time.cpp:137-150):
        gap-fill NaNs along time. near/linear/locf/nocb via ignorenulls
        last/first window functions + linear blend on slice distance — scans
        across chunk boundaries for free (src/fill_time.cpp:45-110 does this
        by reading neighbor chunks; Window frames don't care)."""
        v = self.view
        dense = self._densify_time()
        w_prev = W.partitionBy("iy", "ix").orderBy("it").rowsBetween(W.unboundedPreceding, 0)
        w_next = W.partitionBy("iy", "ix").orderBy("it").rowsBetween(0, W.unboundedFollowing)
        cols = {}
        for b in self.bands:
            prev_v = F.last(b, ignorenulls=True).over(w_prev)
            next_v = F.first(b, ignorenulls=True).over(w_next)
            prev_t = F.last(F.when(F.col(b).isNotNull(), F.col("it")), ignorenulls=True).over(w_prev)
            next_t = F.first(F.when(F.col(b).isNotNull(), F.col("it")), ignorenulls=True).over(w_next)
            if method == "locf":
                filled = F.coalesce(F.col(b), prev_v)
            elif method == "nocb":
                filled = F.coalesce(F.col(b), next_v)
            elif method == "near":
                filled = F.coalesce(
                    F.col(b),
                    F.when(
                        prev_v.isNotNull() & next_v.isNotNull(),
                        # tie -> previous (matches src/fill_time.cpp:137-141)
                        F.when(F.col("it") - prev_t <= next_t - F.col("it"), prev_v).otherwise(next_v),
                    ).otherwise(F.coalesce(prev_v, next_v)),
                )
            elif method == "linear":
                blend = prev_v + (next_v - prev_v) * (F.col("it") - prev_t) / (next_t - prev_t)
                # linear interpolates strictly BETWEEN known values; no extrapolation
                # (src/fill_time.cpp:142-146)
                filled = F.coalesce(
                    F.col(b),
                    F.when(prev_v.isNotNull() & next_v.isNotNull(), blend),
                )
            else:
                raise ValueError(f"unknown fill method {method!r}")
            cols[b] = filled.cast("double")
        out = dense.withColumns(cols).select(*KEY, *self.bands)
        import functools

        any_set = functools.reduce(
            lambda a, b: a | b, [F.col(b).isNotNull() for b in self.bands]
        )
        return self._with(out.filter(any_set))

    def fill_space_knn(self, k: int = 1) -> "Cube":
        """Spatial kNN gap-fill (north_star: 'kNN neighbor lookup for
        gap-filling'): every cell within Chebyshev distance <= k of a
        populated cell, missing in the sparse table or NULL in a band,
        takes the value of its nearest populated neighbor (ties break by
        smallest (distance, iy, ix) — deterministic).

        Shuffle shape: each populated cell advertises itself to its
        (2k+1)² neighbor positions (a Generate, no UDF), then one
        groupBy(it, ty, tx) min_by picks the winner — the k-ring-join
        formulation of kNN that scales as rows × ring size with no
        quadratic term. The reference has no spatial fill operator
        (only fill_time, src/fill_time.h:23-28) — this is an extension."""
        v = self.view
        off = F.sequence(F.lit(-k), F.lit(k))
        pairs = F.explode(
            F.flatten(
                F.transform(
                    off,
                    lambda dy: F.transform(off, lambda dx: F.struct(dy.alias("dy"), dx.alias("dx"))),
                )
            )
        ).alias("o")
        adv = (
            self.df.select(*KEY, *self.bands, pairs)
            .select(
                "it",
                (F.col("iy") + F.col("o.dy")).cast("int").alias("ty"),
                (F.col("ix") + F.col("o.dx")).cast("int").alias("tx"),
                (F.greatest(F.abs(F.col("o.dy")), F.abs(F.col("o.dx")))).alias("dist"),
                "iy", "ix", *self.bands,
            )
            .filter(
                (F.col("ty") >= 0) & (F.col("ty") < v.ny)
                & (F.col("tx") >= 0) & (F.col("tx") < v.nx)
            )
        )
        order = F.struct(F.col("dist"), F.col("iy"), F.col("ix"))
        agg = [
            F.min_by(F.col(f"`{b}`"), F.when(F.col(f"`{b}`").isNotNull(), order)).alias(f"f_{b}")
            for b in self.bands
        ]
        nearest = adv.groupBy("it", "ty", "tx").agg(*agg).withColumnsRenamed(
            {"ty": "iy", "tx": "ix"}
        )
        out = (
            self.df.join(nearest, KEY, "outer")
            .select(
                *KEY,
                *[
                    F.coalesce(F.col(f"`{b}`"), F.col(f"`f_{b}`")).alias(b)
                    for b in self.bands
                ],
            )
        )
        return self._with(out)

    def predict(self, model, feature_bands=None, output_col="prediction") -> "Cube":
        """Apply a fitted pyspark.ml Transformer per pixel — the
        predict.cube workflow of the user-facing gdalcubes R API (train on
        extract_geom samples, apply over the full cube; the C++ core has
        no ML surface). ``feature_bands`` (default: all bands) are
        assembled into the model's features vector JVM-side; rows with any
        NULL feature pass through with NULL prediction (ml models reject
        NaNs). The model's transform is a narrow map over the cube table —
        no shuffle, scales with the scan."""
        from pyspark.ml.feature import VectorAssembler

        bands = list(feature_bands or self.bands)
        ok = None
        for b in bands:
            c = F.col(f"`{b}`").isNotNull()
            ok = c if ok is None else (ok & c)
        pcol = (
            model.getPredictionCol() if hasattr(model, "getPredictionCol")
            else "prediction"
        )
        assembled = VectorAssembler(
            inputCols=bands, outputCol="features"
        ).transform(self.df.filter(ok))
        pred = model.transform(assembled).select(
            *KEY, *self.bands, F.col(pcol).cast("double").alias(output_col)
        )
        # complement rows pass through with NULL prediction: a union of two
        # filtered scans, NOT a join back on KEY (which would shuffle)
        passthrough = self.df.filter(~F.coalesce(ok, F.lit(False))).select(
            *KEY, *self.bands, F.lit(None).cast("double").alias(output_col)
        )
        return self._with(
            pred.unionByName(passthrough),
            bands=tuple(self.bands) + (output_col,),
        )

    # ------------------------------------------------------- joins (§2.3)

    def join_bands(self, others, prefixes=None) -> "Cube":
        """join_bands (src/join_bands.h:62-69): concatenate bands of cubes
        with identical shape; auto-prefix X1..Xn on name conflicts
        (src/join_bands.h:110-131). Equi-join on grid keys — with identical
        upstream partitioning Catalyst reuses the exchange."""
        cubes = [self] + list(others)
        shapes = {c.view.shape for c in cubes}
        if len(shapes) != 1:
            raise ValueError("join_bands requires identical cube shapes (src/join_bands.h:83-108)")
        all_names = [b for c in cubes for b in c.bands]
        conflict = len(set(all_names)) != len(all_names)
        if prefixes is None:
            prefixes = [f"X{i+1}" for i in range(len(cubes))] if conflict else [""] * len(cubes)
        out_bands = []
        dfs = []
        for c, p in zip(cubes, prefixes):
            names = [(f"{p}.{b}" if p else b) for b in c.bands]
            df = c.df
            for old, new in zip(c.bands, names):
                if old != new:
                    df = df.withColumnRenamed(old, new)
            out_bands += names
            dfs.append(df)
        # full outer on grid keys: a cell present in one cube only keeps NULLs
        # for the other's bands (NaN there in the dense reference layout)
        res = dfs[0]
        for d in dfs[1:]:
            res = res.join(d, KEY, "outer")
        cols = [F.col(f"`{b}`") for b in out_bands]
        return self._with(res.select(*KEY, *cols), bands=tuple(out_bands))

    # -------------------------------------------- user-defined kernels (§2.3)

    def _spatial_chunk_groups(self):
        """self.df grouped by spatial chunk (grid.chunk_key_sql) behind a
        plain hash exchange that AQE may coalesce: partition.by_group's 20
        partitions per group made a 4-chunk cube's UDF query 0.25-0.5 s
        slower (80 tasks, local[4])."""
        _, cy, cx = self.grid.chunk_key_sql("it", "iy", "ix")
        return self.df.selectExpr("*", f"{cy} AS _cy", f"{cx} AS _cx").groupBy("_cy", "_cx")

    def _chunk_time_map(self, fn, out_bands, nt_out: int) -> DataFrame:
        """The one chunk-grain grouped map behind apply_time and
        reduce_time_udf: one call per spatial chunk, as the reference streams
        whole chunk buffers (src/stream.cpp:66-103), never one Arrow group
        per pixel. ``fn`` maps {band: float64 (npix, nt), NaN for missing}
        to {out_band: (npix, nt_out)}; all-NaN output cells emit no row."""
        import numpy as np
        import pandas as pd

        bands = self.bands
        nt, nx = self.view.nt, self.view.nx

        def runner(pdf: pd.DataFrame) -> pd.DataFrame:
            # dense (npix, nt) matrices over the chunk's pixels that have a
            # row at any time (sparse model: the rest stay absent)
            flat = pdf["iy"].to_numpy(dtype=np.int64) * nx + pdf["ix"].to_numpy(dtype=np.int64)
            codes, uniq = pd.factorize(flat, sort=True)
            iy, ix = (uniq // nx).astype("int32"), (uniq % nx).astype("int32")
            its = pdf["it"].to_numpy(dtype=np.int64)
            mats = {}
            for b in bands:
                mats[b] = np.full((len(uniq), nt), np.nan)
                mats[b][codes, its] = pdf[b].to_numpy(dtype=np.float64, na_value=np.nan)
            res = fn(mats)
            stack = np.stack([np.asarray(res[b], dtype=np.float64).reshape(len(iy), nt_out)
                              for b in out_bands])
            keep = ~np.isnan(stack).all(axis=0)
            pp, tt = np.nonzero(keep)
            return pd.DataFrame({
                "it": tt.astype("int32"),
                "iy": iy[pp],
                "ix": ix[pp],
                **{b: stack[k, pp, tt] for k, b in enumerate(out_bands)},
            })

        schema = "it int, iy int, ix int, " + ", ".join(f"`{b}` double" for b in out_bands)
        return self._spatial_chunk_groups().applyInPandas(runner, schema=schema)

    def apply_time(self, fn, out_bands=None) -> "Cube":
        """stream_apply_time analog (src/stream_apply_time.h:11-28): a
        user-defined, shape-preserving kernel over pixel time series at chunk
        grain (_chunk_time_map): ``fn(mats)`` maps {band: (npix, nt)} to
        {out_band: (npix, nt)} — vectorize across rows."""
        out_bands = tuple(out_bands or self.bands)
        return self._with(self._chunk_time_map(fn, out_bands, self.view.nt), bands=out_bands)

    def reduce_time_udf(self, fn, out_bands) -> "Cube":
        """stream_reduce_time analog (src/stream_reduce_time.h:11-25): a
        user-defined reducer over time → nt=1, at chunk grain like
        apply_time. ``fn(mats)`` receives {band: (npix, nt)} and returns
        {out_band: (npix,)} — one value per pixel."""
        out_bands = tuple(out_bands)
        nv = self.view.with_time(self.view.t0, 1, Duration(1, "D"), time_labels=())
        return self._with(self._chunk_time_map(fn, out_bands, 1), view=nv, bands=out_bands)

    def apply_pixel_udf(self, fn, out_bands, keep_bands: bool = False) -> "Cube":
        """stream_apply_pixel analog (src/stream_apply_pixel.h:11-28): a
        user-defined function applied independently per pixel (all bands of
        one cell in, new bands out). No grouping at all — one mapInPandas
        scan, Arrow-batch vectorized: ``fn(cols)`` receives {band: float64
        array (n,)} and returns {out_band: array (n,)}."""
        import numpy as np
        import pandas as pd

        out_bands = tuple(out_bands)
        bands = self.bands
        all_out = (list(bands) if keep_bands else []) + list(out_bands)

        def runner(batches):
            for pdf in batches:
                cols = {
                    b: pdf[b].to_numpy(dtype=np.float64, na_value=np.nan) for b in bands
                }
                res = fn(cols)
                out = {
                    "it": pdf["it"], "iy": pdf["iy"], "ix": pdf["ix"],
                    **({b: cols[b] for b in bands} if keep_bands else {}),
                    **{b: np.asarray(res[b], dtype=np.float64) for b in out_bands},
                }
                o = pd.DataFrame(out)
                keep = o[list(all_out)].notna().any(axis=1)
                yield o.loc[keep]

        schema = "it int, iy int, ix int, " + ", ".join(f"`{b}` double" for b in all_out)
        df = self.df.select(*KEY, *bands).mapInPandas(runner, schema=schema)
        return self._with(df, bands=tuple(all_out))

    def reduce_space_udf(self, fn, out_bands) -> "Cube":
        """stream_reduce_space analog (src/stream_reduce_space.h:11-25): a
        user-defined reducer over ALL space per time slice → nx=ny=1.
        ``fn(cols, iy, ix)`` receives {band: (ncells,)} plus the cell
        coordinate arrays for one time slice and returns a dict of scalars.
        One group per time slice — the same grain as the reference, which
        streams each slice's full plane to the user process."""
        import numpy as np
        import pandas as pd

        out_bands = tuple(out_bands)
        bands = self.bands

        def runner(pdf: pd.DataFrame) -> pd.DataFrame:
            cols = {b: pdf[b].to_numpy(dtype=np.float64, na_value=np.nan) for b in bands}
            res = fn(cols, pdf["iy"].to_numpy(), pdf["ix"].to_numpy())
            row = {"it": [np.int32(pdf["it"].iloc[0])], "iy": [0], "ix": [0]}
            for b in out_bands:
                row[b] = [np.float64(res[b])]
            return pd.DataFrame(row)

        schema = "it int, iy int, ix int, " + ", ".join(f"`{b}` double" for b in out_bands)
        df = self.df.groupBy("it").applyInPandas(runner, schema=schema)
        nv = dc_replace(self.view, nx=1, ny=1)
        return self._with(df, view=nv, bands=out_bands)

    def stream_exec(self, cmd) -> "Cube":
        """stream_cube: pipe each chunk to an EXTERNAL command over the
        reference's exact binary file protocol + env contract
        (src/stream.h:41-131, src/stream.cpp:51-158) — the literal
        subprocess surface; the four *_udf methods above are the in-worker
        Arrow equivalents at the same grain. See operators/streamexec.py."""
        from .operators.streamexec import stream_exec as _se

        return _se(self, cmd)

    # ------------------------------------------------------- materialize

    def write_chunks(self, path: str, mode: str = "overwrite") -> None:
        """netCDF-export analog (src/cube.cpp:736): persist the cube as
        parquet partitioned by chunk_id — re-readable via sources/ncdf.py."""
        self.with_chunk_id().write.mode(mode).partitionBy("chunk_id").parquet(path)

    def collect_dense(self) -> "np.ndarray":
        """to_double_array analog (src/cube.cpp:1739) — tests only."""
        import numpy as np

        v = self.view
        out = np.full((len(self.bands), v.nt, v.ny, v.nx), np.nan)
        for row in self.df.collect():
            for bi, b in enumerate(self.bands):
                val = row[b]
                if val is not None:
                    out[bi, row["it"], row["iy"], row["ix"]] = val
        return out
