#!/usr/bin/env python
"""Isolated per-query measurement harness (optimization guide §1.4).

NOT part of the frozen driver contract (bench.py is). This tool times each
DEFS query through the noop sink so the computation is measured without the
sink, captures .explain("formatted") to plans/<tag>/<query>_<suffix>.txt,
and reports build-vs-execute wall seconds per trial.

Usage:
  python bench_extra.py q1 q2 ...            # time the named queries
  python bench_extra.py --all                # every DEFS entry
  python bench_extra.py q1 --explain before  # also write plans/r07/q1_before.txt
  env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the CPUs this process
  may run on), BENCH_EXTRA_TRIALS (default 3)
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
TRIALS = int(os.environ.get("BENCH_EXTRA_TRIALS", "3"))
PLAN_TAG = os.environ.get("BENCH_EXTRA_PLAN_TAG", "r07")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_all = "--all" in sys.argv
    explain_suffix = None
    if "--explain" in sys.argv:
        i = sys.argv.index("--explain")
        explain_suffix = sys.argv[i + 1] if i + 1 < len(sys.argv) else "before"
        if explain_suffix in args:
            args.remove(explain_suffix)

    from gdalcubes_cpp_spark.benchqueries import DEFS, prepare_fixtures
    from gdalcubes_cpp_spark.session import get_spark

    names = list(DEFS) if do_all else args
    spark = get_spark(app="bench-extra", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # same warmup as bench.py so first-trial numbers are comparable
    import pandas as pd

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.createDataFrame(pd.DataFrame({"x": [1.0] * 256})).mapInPandas(
        lambda it: it, "x double").count()
    prepare_fixtures(spark)

    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plans", PLAN_TAG)
    os.makedirs(plans_dir, exist_ok=True)

    report: dict = {}
    for name in names:
        fn, _sql = DEFS[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        trials = []
        for t in range(TRIALS):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t_build = time.time() - t0
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.time() - t0
            trials.append({"build": round(t_build, 3), "exec": round(t_exec, 3),
                           "total": round(t_build + t_exec, 3)})
            if t == 0 and explain_suffix:
                with open(os.path.join(plans_dir,
                                       f"{name}_{explain_suffix}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        report[name] = {
            "trials": trials,
            "best": min(x["total"] for x in trials),
            "median": sorted(x["total"] for x in trials)[len(trials) // 2],
        }
        print(f"{name}: best={report[name]['best']} "
              f"median={report[name]['median']} {trials}", flush=True)
        spark.sparkContext.setJobDescription(None)

    out = os.environ.get("BENCH_EXTRA_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(report, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
