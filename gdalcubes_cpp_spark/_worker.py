"""Pin the zip importers of a PySpark Python worker.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 every
``zipimport.zipimporter`` on the worker's path answers by re-reading its
whole archive directory — ``pyspark.zip`` 14-16 times per task (cost: see the
``session`` module docstring). The archives on a worker's path never change
while the worker lives (Spark ships each ``addPyFile`` zip under its own
path), so ``pin_zip_importers`` turns every cached zipimporter into a
``PinnedZipImporter`` whose ``invalidate_caches`` does nothing, and swaps the
``sys.path_hooks`` entry so importers created later are pinned as well.

It runs on import of this package, and only in a process that has loaded
``pyspark.worker_util``: every PySpark worker entry point imports it, a
driver does not. Every UDF of this package imports the package when it is
unpickled, so every task after a worker's first runs pinned. This module must
not import ``pyspark``: child processes of ``stream_exec`` import the package
without it.
"""

from __future__ import annotations

import sys
import zipimport


class PinnedZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps the archive listing it read when created."""

    def invalidate_caches(self):
        pass


def pin_zip_importers() -> None:
    sys.path_hooks[:] = [
        PinnedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = PinnedZipImporter


if "pyspark.worker_util" in sys.modules:
    pin_zip_importers()
