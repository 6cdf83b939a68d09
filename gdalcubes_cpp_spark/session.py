"""SparkSession factory with scale-appropriate defaults.

Local mode for tests/bench; on a real cluster the same config ships via
``spark-submit --py-files`` (north_rule). AQE is on: runtime coalescing +
skew-join splitting handle residual hot-cell skew after explicit salting.

Python workers: every task of every Python stage (the cell_long scan, the
chunk kernel, the s2/hex covers, the streaming UDFs) starts with PySpark's
``worker_util.setup_spark_files``, which calls ``importlib.invalidate_caches()``.
Workers import PySpark from ``$SPARK_HOME/python/lib/pyspark.zip``, and on
Python 3.11 each of a worker's 14-16 ``zipimport.zipimporter`` entries answers
that call by re-reading the whole archive directory (1,328 entries): 0.13-0.18 s
per task, 0.21-0.36 s with 4 tasks at once on a 4-core box, so a trivial
4-task ``mapInPandas`` took ~0.5 s against ~0.1 s for a JVM-only query. The
package import pins those importers once per worker (``_worker.py``); the
per-task call then costs ~0.1 ms and the same ``mapInPandas`` ~0.17 s. No
setting here is involved: the pin runs wherever a UDF of this package is
unpickled, and nowhere else.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_protoshim() -> None:
    """transformWithStateInPandas's python workers import the generated
    StateMessage_pb2, which needs google.protobuf. When the real package is
    absent, put the vendored minimal runtime (vendor/protoshim) on BOTH
    this process's sys.path and PYTHONPATH — the latter BEFORE the JVM
    starts, so forked python workers inherit it."""
    import sys

    try:
        import google.protobuf as _gp
        if "protoshim" not in (getattr(_gp, "__file__", "") or ""):
            return                     # the real package is installed
        # the shim is already imported in THIS process (e.g. a test put it
        # on sys.path) — still fall through so PYTHONPATH reaches workers
    except ImportError:
        pass
    shim = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "vendor", "protoshim")
    if shim not in sys.path:
        sys.path.insert(0, shim)
    pp = os.environ.get("PYTHONPATH", "")
    if shim not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = shim + (os.pathsep + pp if pp else "")


def get_spark(
    app: str = "gdalcubes_cpp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    _ensure_protoshim()
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # one BLAS thread per python worker: N workers x M-thread OpenBLAS
    # spin-waits destroy scaling (each tiny numpy op wakes M spinning
    # threads; at 32 workers that is 32xM runnable threads)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    from pyspark import SparkConf

    b = SparkSession.builder
    # under spark-submit the CLI --master lands in the JVM system properties
    # (SparkConf picks it up); forcing local[] here would silently override
    # a real cluster deploy, so only default it for bare-python launches
    if not SparkConf().contains("spark.master"):
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: big binary columns in 2048-row batches hit
        # heavy allocator contention in local mode (40s vs 3s at 32 threads
        # for the same 1GB transfer); ~2-3MB batches stay in cheap pools
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # binary image payloads make rows heavy: smaller splits keep every
        # core fed (default 128m yields too few scan partitions for wide
        # tables of encoded bytes)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # ParallelGC: G1's region management collapses under the
        # many-threads x large-binary-batch allocation pattern (young pauses
        # up to 880ms, 10-15x wall blowup at 32 threads); ParallelGC handles
        # the same load with sub-50ms pauses
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.io.tmpdir=/tmp -XX:+UseParallelGC",
        )
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", "1")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
