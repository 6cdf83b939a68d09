"""The spark-submit --py-files deployment surface (north_rule): a REAL
``spark-submit`` subprocess, run from a neutral cwd with the repo stripped
from PYTHONPATH, so the ``--py-files`` zip is provably the only way the
executors and driver can import the package."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_bin():
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else "spark-submit"


def _submit(extra_args, timeout=420):
    sys.path.insert(0, REPO)
    from jobs.make_pyfiles import build

    zip_path = build("/tmp/gdalcubes_pyfiles_test.zip")
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    proc = subprocess.run(
        [_spark_submit_bin(), "--master", "local[8]", "--py-files", zip_path,
         os.path.join(REPO, "jobs", "pipeline_job.py")] + extra_args,
        cwd="/tmp", env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def test_submit_registry_query(tmp_path):
    out = str(tmp_path / "cube_mean_median.parquet")
    res = _submit(["--query", "cube_mean_median", "--sf-dir", "/root/testdata/sf0.001",
                   "--out", out])
    assert res["rows"] > 0
    import pyarrow.parquet as pq

    assert pq.read_table(out).num_rows == res["rows"]


def test_submit_flagship_pipeline(tmp_path):
    out = str(tmp_path / "flagship.parquet")
    res = _submit(["--flagship-images", "20000", "--out", out])
    assert res["rows"] > 0
