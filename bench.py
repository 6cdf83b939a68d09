#!/usr/bin/env python
"""Per-round benchmark harness.

Runs the headline pipeline (deterministic image table with REAL encoded
bytes -> st_join -> decode+warp+temporal-agg cube -> reduce) plus the
representative operator queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on), and
prints ONE JSON line:
  {"metric": ..., "value": <suite sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "images_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdalcubes_cpp_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "200000"))

BENCH_QUERIES = [
    "stjoin_rows", "stjoin_s2", "cube_mean", "cube_median", "cube_count_images",
    # all twelve cube_srs_suite members (r3 VERDICT next #9: folded driver
    # suites get per-member timings here so regressions localize)
    "cube_utm_mean", "cube_polar_mean", "cube_sinu_mean", "cube_lcc_mean",
    "cube_laea_mean", "cube_aea_mean", "cube_osgb_mean", "cube_swiss_mean",
    "cube_hom_mean", "cube_cea_mean", "cube_aeqd_mean", "cube_eqc_mean",
    # remaining folded-suite members
    "cube_first", "cube_last", "cube_count_values",
    "cube_mask_value", "cube_mask_range", "cube_mask_file",
    "window_time_kernel", "fill_time_locf", "query_timeseries",
    "reduce_time_full", "zonal_topk",
    "reduce_time_udf_range", "reduce_space_udf_spread",
    "cube_average_decode", "cube_real_decode", "simple_cube_decode",
    "cube_mask_band_decode",
    "format_ingest", "hdf4_modis_pixels",
    "window_time_mean",
    "fill_time_linear", "aggregate_time", "aggregate_space",
    "apply_time_udf_cumsum", "apply_pixel_udf_poly",
    "query_points", "zonal_statistics", "extract_geom",
    "s2_cells", "s2_knn",
    "stjoin_hex", "hex_cells_img", "cube_jpegbase_decode", "cube_jp2_decode",
    # round-5 surfaces: nc4 container roundtrip, image-column stats,
    # 3-source vector ingest (extract_geom above now covers it)
    "netcdf_roundtrip", "image_stats_phash",
    # per-member walls for the grown suites (r5 VERDICT #8): the three
    # extract_geom sources time separately so window diffs localize member
    # growth vs drift
    "extract_geom_wkt", "extract_geom_geojson", "extract_geom_shp",
]


PIPE_VIEW_KW = dict(
    left=-50.0, right=50.0, bottom=-40.0, top=40.0, nx=1000, ny=800,
    t0="2020-01-01", t1="2020-12-31", dt="P1M",
    aggregation="mean", resampling="near", chunk_size=(4, 100, 125),
)


def materialize_images(spark, n_images: int) -> str:
    """Generate the deterministic input table ONCE to parquet (not timed) —
    the benchmark then measures scan -> join/tile -> aggregate, matching the
    production shape (the input is an Iceberg table, not a generator)."""
    import os

    path = f"/tmp/spark_graft_bench_images_{n_images}.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        from gdalcubes_cpp_spark.synth import images_df

        images_df(spark, n_images).write.mode("overwrite").parquet(path)
    return path


def images_pipeline(spark, n_images: int, path: str | None = None,
                    method: str = "auto") -> int:
    """The BASELINE.json headline: cube-chunk tiling with real decode over
    the input_hint image table. An explicit ``method`` (broadcast/cells/s2/
    hex) runs the (image, chunk) assignment join of that st_join method on
    the same view instead, so the scaling probe can evidence each one: the
    cube build itself never runs a join for a mean cube."""
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(**PIPE_VIEW_KW)
    if path is None:
        from gdalcubes_cpp_spark.synth import images_df

        imgs = images_df(spark, n_images)
    else:
        imgs = spark.read.parquet(path)
    if method != "auto":
        from gdalcubes_cpp_spark.grid import ChunkGrid
        from gdalcubes_cpp_spark.operators.stjoin import assignment

        return assignment(imgs, ChunkGrid(v), method=method).count()
    cube = build_cube(imgs, v, bands=("B1", "B2"))
    out = cube.reduce_time([("mean", "B1"), ("count", "B1")])
    return out.df.count()


N_CODEC = int(os.environ.get("SPARK_GRAFT_BENCH_CODEC_IMAGES", "20000"))


def materialize_images_codec(spark, n_images: int) -> str:
    """Same table shape, REAL baseline-JPEG payloads (sources/jpegbase.py)
    — the honest codec-in-the-loop sibling of the memcpy-payload flagship
    (r4 VERDICT #7). 48x48 2-band frames; encode cost paid here, untimed."""
    import os

    path = f"/tmp/spark_graft_bench_jpeg_{n_images}.parquet"
    if not os.path.exists(path + "/_SUCCESS"):
        import pandas as pd

        from gdalcubes_cpp_spark import synth
        from gdalcubes_cpp_spark.codecs import encode_jpeg

        def gen(batches):
            for b in batches:
                idx = b["id"].to_numpy()
                m = synth.meta_arrays(idx)
                out = pd.DataFrame({
                    "image_id": [f"jpg{i}" for i in idx],
                    "bytes": [encode_jpeg(synth.make_pixels(int(s), 48, 48))
                              for s in m["seed"]],
                    "w": 48, "h": 48, "fmt": "jpeg",
                    "left": m["left"], "right": m["right"],
                    "bottom": m["bottom"], "top": m["top"], "ts": m["ts"],
                })
                yield out

        (spark.range(n_images).repartition(CPUS * 4)
         .mapInPandas(gen, "image_id string, bytes binary, w int, h int, "
                           "fmt string, left double, right double, "
                           "bottom double, top double, ts timestamp")
         .write.mode("overwrite").parquet(path))
    return path


def warmup(spark) -> None:
    """Absorb one-time JVM/codegen/Arrow/python-worker startup costs."""
    import pandas as pd

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.createDataFrame(pd.DataFrame({"x": [1.0] * 256})).mapInPandas(
        lambda it: it, "x double"
    ).count()


def main() -> None:
    from gdalcubes_cpp_spark.benchqueries import DEFS
    from gdalcubes_cpp_spark.session import get_spark

    spark = get_spark(app="gdalcubes-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    warmup(spark)
    path = materialize_images(spark, N_IMAGES)

    # decode-member fixtures (parquet synth tables + driver-side encoded
    # payload memos) build HERE, outside the timed region, so member walls
    # measure scan->join->decode->aggregate, not pure-python ENCODE
    # (r5 VERDICT #1: fixture cost made the decode trio unattributable)
    from gdalcubes_cpp_spark.benchqueries import prepare_fixtures

    t_fix = time.time()
    prepare_fixtures(spark)
    fixture_prep_s = round(time.time() - t_fix, 3)

    timings: dict = {}
    t_suite = time.time()

    runs = []
    for _ in range(2):  # single-machine timing is noisy; report both, rate = best
        t0 = time.time()
        rows = images_pipeline(spark, N_IMAGES, path=path)
        runs.append(time.time() - t0)
    pipeline_s = min(runs)
    timings["images_pipeline_run1"] = round(runs[0], 3)
    timings["images_pipeline"] = round(pipeline_s, 3)

    # codec-in-the-loop sibling: same pipeline, real JPEG decode inside
    # the scan (swap sources/jpegbase.py for libjpeg-turbo in production
    # and this number rises toward the memcpy flagship)
    cpath = materialize_images_codec(spark, N_CODEC)
    cruns = []
    for _ in range(2):
        t0 = time.time()
        images_pipeline(spark, N_CODEC, path=cpath)
        cruns.append(time.time() - t0)
    codec_s = min(cruns)
    timings["images_pipeline_codec"] = round(codec_s, 3)

    for name in BENCH_QUERIES:
        fn, _sql = DEFS[name]
        t0 = time.time()
        fn(spark, SF_DIR).count()
        timings[name] = round(time.time() - t0, 3)

    total = time.time() - t_suite
    common = {
        "metric": "operator-suite wall time (flagship images/sec in images_per_sec)",
        "value": round(total, 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "images_per_sec": round(N_IMAGES / pipeline_s, 1),
        "images_per_sec_codec": round(N_CODEC / codec_s, 1),
        "n_images": N_IMAGES,
        "n_images_codec": N_CODEC,
        "cpus": CPUS,
        "pipeline_rows": rows,
        "fixture_prep_s": fixture_prep_s,
    }
    # Full per-member walls go to a FILE: the driver records only the last
    # 2000 chars of stdout, and the ~80-member dict overflowed that window
    # every round (BENCH_r05 'parsed' was null). The printed ONE JSON line
    # keeps the headline members + a pointer to the full table.
    full = dict(common, statistic=(
        "one bench.py suite run; images_pipeline and images_pipeline_codec "
        "are the min of 2 in-run repeats, every other query is a single run"),
        queries=timings)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH", "bench_full.json")
    os.makedirs(os.path.dirname(full_path), exist_ok=True)
    with open(full_path, "w") as f:
        json.dump(full, f, indent=2)
    headline = [
        "images_pipeline", "images_pipeline_codec", "cube_average_decode",
        "cube_real_decode", "simple_cube_decode", "cube_jpegbase_decode",
        "cube_jp2_decode", "format_ingest", "stjoin_rows", "cube_mean",
        "s2_knn",
    ]
    compact = dict(common,
                   queries={k: timings[k] for k in headline if k in timings},
                   queries_full="BENCH/bench_full.json")
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
