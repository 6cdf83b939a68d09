"""JSON cube-plan (de)serialization — the cube_factory analog.

The reference serializes every cube DAG to nested JSON via
``make_constructible_json`` (src/cube.h:893) and rebuilds it with a
generator registry (src/cube_factory.cpp:62-109). Our logical plan is the
DataFrame lineage itself (Catalyst), so the JSON plan exists for the same
reasons the reference's does: ship a pipeline spec to another process /
checkpoint metadata — not for execution scheduling.

A plan is: {"source": {...}, "ops": [{"op": name, ...args}...],
"extract": {...}?, "sink": {...}?}.
Sources: synth (n images, optional mask spec), formula (bands exprs),
read (materialized cube). Ops: every derived operator of cube.Cube by
method name (join_bands takes nested sub-plans). A plan may end with ONE
terminal: "extract" (extract_geom / zonal_statistics / query_points —
DataFrame-shaped results; run via run_plan) or "sink" (chunks / packed /
netcdf / netcdf4 / gtiff / cog file exports — the write side of
src/cube_factory.cpp's registered cube types).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ..cube import Cube
from ..view import CubeView


def _mask_from_spec(a: dict):
    """{"kind": value|range|band, ...} -> mask object
    (operators/build.py classes; the reference's image_mask hierarchy,
    src/image_collection_cube.h:34-146). A FileMask needs a mask table
    joined at the collection level, which no plan source supplies, so
    plans have no file kind."""
    from ..operators.build import BandMask, RangeMask, ValueMask

    kind = a["kind"]
    if kind == "value":
        return ValueMask(a["band_idx"], a["values"], a.get("invert", False))
    if kind == "range":
        return RangeMask(a["band_idx"], a["vmin"], a["vmax"],
                         a.get("invert", False))
    if kind == "band":
        return BandMask(a["channel"], values=a.get("values"),
                        vmin=a.get("vmin"), vmax=a.get("vmax"),
                        invert=a.get("invert", False))
    raise ValueError(f"unknown mask kind {kind!r}")


def _join_bands(c: Cube, a: dict) -> Cube:
    spark = c.df.sparkSession
    others = [build_plan(spark, p) for p in a["others"]]
    return c.join_bands(others, prefixes=a.get("prefixes"))


def _filter_geom(c: Cube, a: dict) -> Cube:
    from ..vector.queries import filter_geom

    return filter_geom(c, a["wkt"])


_OPS = {
    "select_bands": lambda c, a: c.select_bands(a["bands"]),
    "rename_bands": lambda c, a: c.rename_bands(a["mapping"]),
    "apply_pixel": lambda c, a: c.apply_pixel(a["exprs"], a.get("keep_bands", False)),
    "filter_pixel": lambda c, a: c.filter_pixel(a["predicate"]),
    "crop": lambda c, a: c.crop(
        tuple(a["ix_range"]) if a.get("ix_range") else None,
        tuple(a["iy_range"]) if a.get("iy_range") else None,
        tuple(a["it_range"]) if a.get("it_range") else None,
    ),
    "slice_time": lambda c, a: c.slice_time(a["it"]),
    "slice_space": lambda c, a: c.slice_space(a["ix"], a["iy"]),
    "select_time": lambda c, a: c.select_time(a["its"]),
    "reduce_time": lambda c, a: c.reduce_time([tuple(x) for x in a["reducers"]]),
    "reduce_space": lambda c, a: c.reduce_space([tuple(x) for x in a["reducers"]]),
    "aggregate_time": lambda c, a: c.aggregate_time(
        fact=a.get("fact"), dt=a.get("dt"), func=a.get("func", "mean")
    ),
    "aggregate_space": lambda c, a: c.aggregate_space(a["fact"], a.get("func", "mean")),
    "window_time": lambda c, a: c.window_time(
        tuple(a["window"]), reducers=[tuple(x) for x in a.get("reducers", [])] or None,
        kernel=a.get("kernel"),
    ),
    "fill_time": lambda c, a: c.fill_time(a.get("method", "linear")),
    "window_space": lambda c, a: c.window_space(
        tuple(a["window"]),
        reducers=[tuple(x) for x in a.get("reducers", [])] or None,
        kernel=a.get("kernel"),
    ),
    "join_bands": _join_bands,
    "filter_geom": _filter_geom,
}


def _features_df(spark: SparkSession, a: dict):
    """Inline [{"fid","wkt"}] features or a vector file path
    (read_features — GeoJSON/Shapefile)."""
    if "features_path" in a:
        from ..vector.features import read_features

        return read_features(spark, a["features_path"], srs=a.get("srs"))
    rows = [(int(f["fid"]), str(f["wkt"])) for f in a["features"]]
    return spark.createDataFrame(rows, "fid bigint, wkt string")


def _run_extract(spark: SparkSession, cube: Cube, a: dict):
    kind = a["kind"]
    if kind == "extract_geom":
        from ..vector.queries import extract_geom

        return extract_geom(cube, _features_df(spark, a),
                            time_column=a.get("time_column", False))
    if kind == "zonal_statistics":
        from ..vector.queries import zonal_statistics

        return zonal_statistics(cube, _features_df(spark, a),
                                stats=tuple(a.get("stats", ("mean", "count"))))
    if kind == "query_points":
        import pandas as pd

        from ..vector.queries import query_points

        pts = spark.createDataFrame(pd.DataFrame(a["points"]))
        return query_points(cube, pts)
    raise ValueError(f"unknown extract kind {kind!r}")


def _run_sink(cube: Cube, a: dict) -> str:
    kind = a["kind"]
    path = a["path"]
    if kind == "chunks":
        from ..sources.collection import write_cube

        write_cube(cube, path, mode=a.get("mode", "overwrite"))
    elif kind == "packed":
        from ..operators.export import Packing, write_packed

        p = a["packing"]
        write_packed(cube, path, Packing(
            type=p["type"], scale=tuple(p.get("scale", (1.0,))),
            offset=tuple(p.get("offset", (0.0,))),
            nodata=tuple(p.get("nodata", (None,)))))
    elif kind == "netcdf":
        from ..sources.netcdf3 import write_netcdf

        write_netcdf(cube, path, packing=a.get("packing"),
                     version=a.get("version"))
    elif kind == "netcdf4":
        from ..sources.hdf5 import write_netcdf4

        write_netcdf4(cube, path, packing=a.get("packing"),
                      deflate=a.get("deflate", 1),
                      shuffle=a.get("shuffle", True))
    elif kind == "gtiff":
        from ..sources.geotiff import write_gtiff

        write_gtiff(cube, path)
    elif kind == "cog":
        from ..sources.geotiff import write_cog

        write_cog(cube, path, tile=a.get("tile", 256),
                  levels=tuple(a.get("levels", (2, 4))))
    else:
        raise ValueError(f"unknown sink kind {kind!r}")
    return path


def build_plan(spark: SparkSession, plan: dict) -> Cube:
    src = plan["source"]
    kind = src["kind"]
    view = CubeView.from_json(json.dumps(src["view"])) if "view" in src else None
    if kind == "synth":
        from ..operators.build import build_cube
        from ..synth import images_df

        imgs = images_df(spark, src["n"], with_bytes=src.get("with_bytes", True))
        mask = _mask_from_spec(src["mask"]) if src.get("mask") else None
        cube = build_cube(imgs, view, bands=tuple(src.get("bands", ("B1", "B2"))),
                          mask=mask)
    elif kind == "formula":
        from ..sources.collection import formula_cube

        cube = formula_cube(spark, view, src["bands_exprs"])
    elif kind == "read":
        from ..sources.collection import read_chunks

        cube = read_chunks(spark, src["path"])
    else:
        raise ValueError(f"unknown source kind {kind!r}")
    for op in plan.get("ops", []):
        name = op["op"]
        if name not in _OPS:
            raise ValueError(f"unknown op {name!r} (registry: {sorted(_OPS)})")
        cube = _OPS[name](cube, op)
    return cube


def plan_from_json(spark: SparkSession, s: str) -> Cube:
    return build_plan(spark, json.loads(s))


def run_plan(spark: SparkSession, plan: dict):
    """Execute a full pipeline spec: source -> ops -> optional terminal.
    Returns the Cube (no terminal), a DataFrame ("extract"), or the
    written path ("sink") — the executable counterpart of the
    reference's cube_factory::create_from_json (src/cube_factory.cpp:
    62-109) extended with its write_* entry points."""
    if "extract" in plan and "sink" in plan:
        raise ValueError("a plan takes at most one terminal (extract|sink)")
    cube = build_plan(spark, plan)
    if "extract" in plan:
        return _run_extract(spark, cube, plan["extract"])
    if "sink" in plan:
        return _run_sink(cube, plan["sink"])
    return cube


def run_plan_json(spark: SparkSession, s: str):
    return run_plan(spark, json.loads(s))
