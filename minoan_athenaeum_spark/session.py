"""SparkSession factory.

``get_spark`` sets only what changes a result, a file format or the
deployment: local parallelism, the UTC session time zone, INT64
timestamps, Arrow, the JVM heap, the warehouse location and the
workers' package path. Everything else, AQE and its skew-join split
included, runs at Spark's defaults. On a cluster the same code runs
unchanged; only the master, memory and shuffle-partition count move to
spark-submit conf. ``extra_conf`` is the one override path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "minoan-athenaeum-spark",
    cpus: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = len(os.sched_getaffinity(0))
    # Python workers must import this package whatever the driver's cwd:
    # cloudpickle ships module-level functions by reference. Only helps
    # a session this call starts; an existing JVM keeps its launch env.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Match local parallelism, not the 200 default.
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        # Write timestamps as INT64 micros, never legacy INT96: INT96
        # carries neither a unit nor a UTC-adjustment annotation and is
        # deprecated in the parquet spec. Derived copies (compaction,
        # sinks) then keep the annotations catalog.read_plan reads.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Arrow for any pandas-UDF path and fast toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode runs every task in this one JVM, so this is the
        # whole engine's heap.
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        # Home of every derived copy (index_family.warehouse_index_path),
        # outside the repo.
        .config("spark.sql.warehouse.dir", "/tmp/mas_spark_warehouse")
        # Same package path for workers, via conf as well as the env.
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
