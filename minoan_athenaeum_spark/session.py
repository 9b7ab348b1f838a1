"""SparkSession factory.

Local-mode settings mirror what we would set on a real cluster where it
matters for plan shape (AQE, shuffle partitions, Arrow, UTC); memory
sizing is local-only. On a 1000-executor cluster the same code runs
unchanged — only master/memory/shuffle-partition counts move to
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
        # AQE: runtime shuffle coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Match local parallelism, not the 200 default.
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        # Start shuffles wide so large joins sort in memory; AQE
        # coalesces small ones back down.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
        # Widen the runtime bloom-filter window so a hard-filtered join
        # side prunes the other side's scan at local data volumes.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "256MB"
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "256MB",
        )
        # Let AQE coalesce cached plans too, or every cached aggregate
        # keeps all 1024 initial partitions.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # A lower coalescing floor keeps CPU-heavy but byte-small
        # shuffles parallel.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        # The cleaner's 30-minute default GC lets dead shuffle and
        # broadcast state pile up over a multi-query session.
        .config("spark.cleaner.periodicGC.interval", "90s")
        .config("spark.sql.session.timeZone", "UTC")
        # Write timestamps as INT64 micros, never legacy INT96: INT96
        # loses the unit annotation (footer-based unit detection in
        # catalog.events_ts_unit can't see it) and is deprecated in the
        # parquet spec. Derived copies (compaction, sinks) must stay
        # loadable by the same catalog.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Arrow for any pandas-UDF path and fast toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A larger heap made allocation-heavy stages churn GC.
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables) outside the repo.
        .config("spark.sql.warehouse.dir", "/tmp/mas_spark_warehouse")
        # Same package path for workers, via conf as well as the env.
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
