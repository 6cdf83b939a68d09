"""The worker zip-importer pin (gdalcubes_cpp_spark/_worker.py).

PySpark calls importlib.invalidate_caches() at the start of every task; a
worker that has loaded the package must answer it without re-reading
pyspark.zip, while imports from zips keep working and the driver stays
untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE_SCHEMA = "zips long, pinned long, hook_pinned boolean, invalidate_ms double"


def _probe(batches):
    import importlib
    import time
    import zipimport

    import gdalcubes_cpp_spark  # noqa: F401  (what every UDF unpickle does)
    from gdalcubes_cpp_spark._worker import PinnedZipImporter

    for _ in batches:
        pass
    zips = [z for z in sys.path_importer_cache.values()
            if isinstance(z, zipimport.zipimporter)]
    ms = float("inf")
    for _ in range(5):  # best of 5: a pause from a busy core is not the call's cost
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = min(ms, (time.perf_counter() - t) * 1e3)
    yield pd.DataFrame({
        "zips": [len(zips)],
        "pinned": [sum(type(z) is PinnedZipImporter for z in zips)],
        "hook_pinned": [PinnedZipImporter in sys.path_hooks
                        and zipimport.zipimporter not in sys.path_hooks],
        "invalidate_ms": [ms],
    })


def test_worker_zip_importers_pinned(spark):
    df = spark.range(0, 64, 1, 4)
    df.mapInPandas(_probe, PROBE_SCHEMA).collect()  # every worker has loaded the package
    rows = df.mapInPandas(_probe, PROBE_SCHEMA).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0 and r.pinned == r.zips and r.hook_pinned
        assert r.invalidate_ms < 5.0, rows


def test_driver_not_pinned():
    import zipimport

    import gdalcubes_cpp_spark  # noqa: F401
    from gdalcubes_cpp_spark._worker import PinnedZipImporter

    assert zipimport.zipimporter in sys.path_hooks
    assert PinnedZipImporter not in sys.path_hooks
    assert not any(type(z) is PinnedZipImporter for z in sys.path_importer_cache.values())


_CANDIDATES = ("pyspark.find_spark_home", "pyspark.install", "pyspark.ml.util",
               "pyspark.mllib.common", "pyspark.sql.observation")


def _fresh_submodule(batches):
    import importlib

    import gdalcubes_cpp_spark  # noqa: F401
    from gdalcubes_cpp_spark._worker import PinnedZipImporter

    for _ in batches:
        pass
    name = next((m for m in _CANDIDATES if m not in sys.modules), "")
    mod = importlib.import_module(name) if name else None
    yield pd.DataFrame({
        "name": [name],
        "file": [getattr(mod, "__file__", "") or ""],
        "loader_pinned": [type(getattr(mod, "__loader__", None)) is PinnedZipImporter],
    })


def test_new_pyspark_submodule_imports_from_zip_in_pinned_worker(spark):
    rows = spark.range(0, 1, 1, 1).mapInPandas(
        _fresh_submodule, "name string, file string, loader_pinned boolean").collect()
    (r,) = rows
    assert r.name, "every candidate submodule was already imported"
    assert ".zip" in r.file and r.loader_pinned


def test_addpyfile_zip_importable_after_pin(spark, tmp_path):
    df = spark.range(0, 4, 1, 4)
    df.mapInPandas(_probe, PROBE_SCHEMA).collect()  # workers pinned first
    name = f"pinprobe_{os.getpid()}"
    zpath = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zpath))

    def use(batches):
        import importlib

        import gdalcubes_cpp_spark  # noqa: F401
        from gdalcubes_cpp_spark._worker import PinnedZipImporter

        for _ in batches:
            pass
        mod = importlib.import_module(name)
        yield pd.DataFrame({"value": [mod.VALUE],
                            "loader_pinned": [type(mod.__loader__) is PinnedZipImporter]})

    rows = df.mapInPandas(use, "value long, loader_pinned boolean").collect()
    assert [r.value for r in rows] == [42] * 4
    assert all(r.loader_pinned for r in rows)


def test_package_import_does_not_import_pyspark():
    code = ("import sys, gdalcubes_cpp_spark; "
            "print(any(m == 'pyspark' or m.startswith('pyspark.') for m in sys.modules))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, check=True, env={**os.environ, "PYTHONPATH": ROOT})
    assert out.stdout.strip() == "False"
