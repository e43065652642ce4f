"""SparkSession factory with scale-appropriate defaults.

Tuned for the execution model the engine targets (SURVEY.md §4): AQE on for
runtime re-planning + skew-join splitting + small-partition coalescing
(size-aware coalescing per the north rule), Arrow enabled for
``toPandas``/``createDataFrame(pandas)`` (Arrow UDFs and ``*InArrow``
stages use Arrow regardless), and ``max(cores, 32)`` shuffle partitions
(``cores`` defaults to ``SPARK_GRAFT_CPUS``, else the CPUs this process may
run on), driver memory from ``SPARK_DRIVER_MEM``, else half of physical
RAM, and no Python call-site capture for DataFrame error messages; every
setting stays overridable through ``extra_conf``.

Python workers run under `filterz_spark.spark.pydaemon` instead of
`pyspark.daemon` (``spark.python.daemon.module``). On CPython < 3.13 each
Python task's ``importlib.invalidate_caches()`` made every worker re-read
the pyspark.zip directory ~16 times, ~0.2 s of CPU per task, which dwarfed
the filter kernels when one section is one task; the daemon re-reads a zip
only when it changed. The daemon is imported before any task ships code, so
the package root is appended to the workers' PYTHONPATH. Sessions built
elsewhere (e.g. by spark-submit) keep `pyspark.daemon` unless they set the
conf themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(cores: int | None = None, app_name: str = "filterz-spark",
                shuffle_partitions: int | None = None, **extra_conf) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS",
                                        len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    # default driver heap: half of physical RAM, in whole MB; a heap sized
    # past the host lets concurrent drivers outgrow it
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    driver_memory = os.environ.get("SPARK_DRIVER_MEM", f"{ram // 2 >> 20}m")
    # One BLAS thread per python worker: Spark already runs `cores`
    # concurrent tasks, so a multi-threaded numpy matmul inside an Arrow
    # UDF oversubscribes cores^2 threads and collapses into kernel-side
    # scheduler thrash (observed: 32 ivf_assign workers at ~98% SYSTEM
    # time, zero progress, on the 1M-vector semdedup rehearsal). Workers
    # inherit the driver env in local mode; on a real cluster set the
    # same vars via spark.executorEnv.* — done below so it applies there
    # too. setdefault: an explicit caller override wins.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # The parent of filterz_spark/, a directory or a --py-files zip; appended
    # after any caller value so the caller's entries still win.
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    python_path = os.pathsep.join(
        p for p in (extra_conf.pop("spark.executorEnv.PYTHONPATH", None), root) if p)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # AQE: runtime coalescing of small shuffle partitions + skew-join splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # toPandas/createDataFrame(pandas) go through Arrow (tests and
        # tools/check_oracles.py collect that way); the batch size below is
        # what every Arrow UDF and *InArrow stage sees: bigger batches =
        # fewer Python crossings (SIMD lanes -> batch parallelism, SURVEY §4)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        # cached key columns are hashes (high-entropy, incompressible):
        # columnar-cache compression costs a full decode pass per read for
        # ~zero space win, and 10k-row cached batches bottleneck the
        # cache->Arrow feed (measured 11s -> 0.7s for 20M longs at local[32]
        # with these two settings)
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "262144")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures the Python call site of every DataFrame and
        # Column call for error messages, at several extra py4j round trips
        # per call; without it errors lack the file:line fragment. Set it
        # to "true" through extra_conf to debug a plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # cluster-mode twin of the os.environ pinning above
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.OMP_NUM_THREADS",
                os.environ["OMP_NUM_THREADS"])
        .config("spark.executorEnv.MKL_NUM_THREADS",
                os.environ["MKL_NUM_THREADS"])
        # see the module docstring
        .config("spark.python.daemon.module", "filterz_spark.spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", python_path)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
