"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are chosen so
the same code scales to a real cluster: AQE on (runtime re-planning, skew-join
splitting), shuffle partitions sized to cores locally (set it to ~2-3x total
executor cores on a cluster), Arrow enabled for the Pandas-UDF vector paths, and
session timezone pinned to UTC so results hash-match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "duckdb_ann_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Cap BLAS threads: N python workers x N OpenBLAS threads thrashes
    # the box (numpy kernels inside mapInPandas are many small ops, not
    # one big GEMM). Python workers inherit the JVM's env, which inherits
    # ours — set before the JVM starts. The DRIVER-side cap is applied in
    # the package __init__ (it must precede the first numpy import;
    # OpenBLAS reads the env at library load); this repeat covers callers
    # that imported session directly.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "2")
    builder = SparkSession.builder
    # Only force a local master when none is provided by the launch
    # environment (spark-submit --master / SPARK_MASTER set by a cluster);
    # note getOrCreate() reuses any existing session and ignores configs.
    if not os.environ.get("SPARK_MASTER") and not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr parseable: the console progress bar writes
        # carriage-return escape spam that pollutes captured bench output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # off: PySpark otherwise wraps every functions.* call in a call-site
        # capture (~2 extra py4j round trips each, and an IPython import on
        # the first). pyspark caches the value on its first read, so it
        # must be set here, before any plan is built. DataFrame errors then
        # carry no Python call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
