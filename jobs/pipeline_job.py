"""spark-submit entry point (north_rule deployment surface).

Self-contained driver script: everything it imports beyond the standard
library ships in the ``--py-files`` zip (jobs/make_pyfiles.py), so it runs
identically on a bare cluster node and in local mode::

    ZIP=$(python jobs/make_pyfiles.py)
    # any registry query against a parquet table dir:
    spark-submit --master local[8] --py-files "$ZIP" jobs/pipeline_job.py \
        --query cube_mean_median --sf-dir /root/testdata/sf0.01 --out /tmp/o.parquet
    # the flagship image pipeline (synth input_hint table -> S2/grid join ->
    # chunk tiling -> decode -> temporal reduce):
    spark-submit --master local[8] --py-files "$ZIP" jobs/pipeline_job.py \
        --flagship-images 100000 --out /tmp/flag.parquet

On a real cluster, ``--master``/``--num-executors``/memory come from the
CLI; gdalcubes_cpp_spark.session.get_spark only defaults master for bare
python launches. Emits ONE json line with rows + wall seconds.
"""

from __future__ import annotations

import argparse
import json
import time


def flagship(spark, n_images: int):
    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.synth import images_df
    from gdalcubes_cpp_spark.view import CubeView

    v = CubeView.create(
        left=-50.0, right=50.0, bottom=-40.0, top=40.0, nx=1000, ny=800,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(4, 100, 125),
    )
    cube = build_cube(images_df(spark, n_images), v, bands=("B1", "B2"))
    return cube.reduce_time([("mean", "B1"), ("count", "B1")]).df


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--query", default=None,
                   help="registry query name (gdalcubes_cpp_spark.benchqueries)")
    p.add_argument("--flagship-images", type=int, default=None,
                   help="run the flagship image pipeline on N synthetic images")
    p.add_argument("--out", required=True, help="parquet output directory")
    args = p.parse_args()
    if not args.query and not args.flagship_images:
        p.error("pass --query NAME or --flagship-images N")

    from gdalcubes_cpp_spark.session import get_spark

    spark = get_spark(app=f"gdalcubes-{args.query or 'flagship'}")
    t0 = time.time()
    if args.flagship_images:
        df = flagship(spark, args.flagship_images)
    else:
        from gdalcubes_cpp_spark.benchqueries import DEFS

        df = DEFS[args.query][0](spark, args.sf_dir)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "query": args.query or f"flagship:{args.flagship_images}",
        "rows": n,
        "wall_s": round(time.time() - t0, 2),
    }))


if __name__ == "__main__":
    main()
