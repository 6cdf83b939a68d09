"""Cube sources other than the full image-collection scan.

- dummy_cube / empty_cube: synthetic test cubes (src/dummy.h:46-107);
- simple_cube: cube from a flat (file, datetime, band) list without a
  collection format (src/simple_cube.h:50-54) — here: from an in-memory
  metadata list, decoding through the same build kernel;
- read_chunks: re-read a cube previously written by Cube.write_chunks — the
  ncdf_cube analog (src/ncdf_cube.h:48-50 reads only gdalcubes-written
  files; we read only our own parquet layout).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession, functions as F

from ..cube import KEY, Cube
from ..view import CubeView


def dummy_cube(spark: SparkSession, view: CubeView, bands=("B1",), fill: float = 1.0) -> Cube:
    """Constant-fill cube (src/dummy.h:46-49). Generated distributively from
    spark.range — no driver materialization."""
    n = view.nt * view.ny * view.nx
    df = spark.range(n).select(
        (F.col("id") / (view.ny * view.nx)).cast("int").alias("it"),
        ((F.col("id") % (view.ny * view.nx)) / view.nx).cast("int").alias("iy"),
        (F.col("id") % view.nx).cast("int").alias("ix"),
        *[F.lit(float(fill)).alias(b) for b in bands],
    )
    return Cube(df, view, tuple(bands))


def formula_cube(spark: SparkSession, view: CubeView, bands_exprs: dict) -> Cube:
    """Dense cube whose band values are SQL expressions of it/iy/ix —
    the deterministic-value test source (extends dummy_cube; values like
    ``(it*7 + iy*3 + ix) % 11`` are reproducible in any SQL engine, which is
    how the DuckDB oracle cross-checks operator semantics)."""
    n = view.nt * view.ny * view.nx
    base = spark.range(n).select(
        (F.col("id") / (view.ny * view.nx)).cast("int").alias("it"),
        ((F.col("id") % (view.ny * view.nx)) / view.nx).cast("int").alias("iy"),
        (F.col("id") % view.nx).cast("int").alias("ix"),
    )
    df = base.withColumns({b: F.expr(e).cast("double") for b, e in bands_exprs.items()})
    return Cube(df.select(*KEY, *bands_exprs), view, tuple(bands_exprs))


def empty_cube(spark: SparkSession, view: CubeView, bands=("B1",)) -> Cube:
    """All-empty cube (src/dummy.h:105-107)."""
    schema = "it int, iy int, ix int, " + ", ".join(f"`{b}` double" for b in bands)
    return Cube(spark.createDataFrame([], schema), view, tuple(bands))


def simple_cube(spark: SparkSession, records, view: CubeView, bands=("B1", "B2"), **kw) -> Cube:
    """simple_cube (src/simple_cube.h:50-54): records is a list of dicts with
    image_id, bytes, fmt, w, h, left, right, bottom, top, ts."""
    from ..operators.build import build_cube
    from ..synth import SCHEMA_DDL

    def _ts(t):
        import pandas as pd

        return pd.Timestamp(t).to_pydatetime()  # Spark rejects pd.Timestamp

    df = spark.createDataFrame(
        [
            (
                r["image_id"], r["bytes"], r["w"], r["h"], r.get("fmt", "png"),
                r.get("caption", ""), r.get("phash", 0), r["left"], r["right"],
                r["bottom"], r["top"], _ts(r["ts"]), r.get("srs", "EPSG:4326"),
            )
            for r in records
        ],
        schema=SCHEMA_DDL,
    )
    return build_cube(df, view, bands=bands, **kw)


def default_view(images, chunk_size=(16, 256, 256)) -> CubeView:
    """Derive a default view from the collection extent
    (src/image_collection_cube.cpp:623-678): SRS = the images' common SRS
    else EPSG:3857; ~512x512 spatial cells split by aspect ratio; time unit
    chosen as the coarsest with span > 4 units, 4 slices."""
    from pyspark.sql import functions as F

    from .. import srs as _srs

    row = images.agg(
        F.min("left").alias("l"), F.max("right").alias("r"),
        F.min("bottom").alias("b"), F.max("top").alias("t"),
        F.min("ts").alias("t0"), F.max("ts").alias("t1"),
        F.count_distinct("srs").alias("nsrs"), F.first("srs").alias("srs"),
    ).collect()[0]
    srs = row["srs"] if row["nsrs"] == 1 else "EPSG:3857"
    l, r, b, t = row["l"], row["r"], row["b"], row["t"]
    if _srs.resolve(srs)[0] is _srs.WEBMERC:
        l, r = float(_srs.lon_to_x(l)), float(_srs.lon_to_x(r))
        b, t = float(_srs.lat_to_y(b)), float(_srs.lat_to_y(t))
    import math

    ncells = 512 * 512
    asp = (r - l) / max(t - b, 1e-12)
    nx = max(int(math.sqrt(ncells * asp)), 1)
    ny = max(int(math.sqrt(ncells / asp)), 1)
    t0, t1 = row["t0"], row["t1"]
    span_s = (t1 - t0).total_seconds()
    if span_s <= 0:
        dt, nt = "P1D", 1
    else:
        years = t1.year - t0.year
        months = (t1.year - t0.year) * 12 + (t1.month - t0.month)
        if years > 4:
            unit, n_units = "Y", years
        elif months > 4:
            unit, n_units = "M", months
        elif span_s / 86400 > 4:
            unit, n_units = "D", int(span_s // 86400)
        elif span_s / 3600 > 4:
            unit, n_units = "H", int(span_s // 3600)
        elif span_s / 60 > 4:
            unit, n_units = "MIN", int(span_s // 60)
        else:
            unit, n_units = "S", max(int(span_s), 4)
        step = max(1, math.ceil((n_units + 1) / 4))
        dt, nt = f"P{'T' if unit in ('H','MIN','S') else ''}{step}{'M' if unit=='MIN' else unit}".replace("PT", "PT"), 4
        if unit in ("H", "MIN", "S"):
            dt = f"PT{step}{'M' if unit == 'MIN' else unit}"
        else:
            dt = f"P{step}{unit}"
    return CubeView.create(
        srs=srs, left=l, right=r, bottom=b, top=t, nx=nx, ny=ny,
        t0=t0, nt=nt if isinstance(nt, int) else 4, dt=dt,
        aggregation="first", resampling="near", chunk_size=chunk_size,
    )


def write_cube(cube: Cube, path: str, mode: str = "overwrite") -> None:
    """Materialize cube + sidecar view json (the netCDF-file analog)."""
    cube.write_chunks(path + "/cells", mode=mode)
    meta = {"view": json.loads(cube.view.to_json()), "bands": list(cube.bands)}
    sc = cube.df.sparkSession.sparkContext
    # tiny metadata: single json file via the JVM-free local write
    import os

    os.makedirs(path, exist_ok=True)
    with open(path + "/cube.json", "w") as f:
        json.dump(meta, f)
    _ = sc  # driver-side write is fine for a <1KB sidecar


def read_chunks(
    spark: SparkSession, path: str,
    ix_range=None, iy_range=None, it_range=None,
) -> Cube:
    """ncdf_cube analog (src/ncdf_cube.h:48-50): re-read a materialized cube.

    The cells are partitioned by chunk_id; optional coordinate ranges are
    translated to the covering chunk-id set and pushed as a partition
    filter, so a crop touches only matching chunk directories — the
    partition-pruning discipline that replaces the reference's
    chunk-wise file reads (and maps to Iceberg partition pruning at scale)."""
    from pyspark.sql import functions as F

    from ..grid import ChunkGrid

    with open(path + "/cube.json") as f:
        meta = json.load(f)
    view = CubeView.from_json(json.dumps(meta["view"]))
    bands = tuple(meta["bands"])
    df = spark.read.parquet(path + "/cells")
    if ix_range or iy_range or it_range:
        g = ChunkGrid(view)
        want = (it_range or (0, view.nt), iy_range or (0, view.ny), ix_range or (0, view.nx))
        cids = [cid for cid in g.chunk_ids()
                if all(lo < w1 and hi > w0
                       for (lo, hi), (w0, w1) in zip(g.chunk_limits(cid), want))]
        df = df.filter(F.col("chunk_id").isin(cids))
    cube = Cube(df.select(*KEY, *bands), view, bands)
    if ix_range or iy_range or it_range:
        cube = cube.crop(ix_range=ix_range, iy_range=iy_range, it_range=it_range)
    return cube
