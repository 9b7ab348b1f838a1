"""Hypertable-style continuous-aggregate rollups.

Materialize time-bucketed aggregates at multiple grains (e.g. 1h, 1d)
once; answer queries from the coarsest grain that divides the request.
At 100 TB this converts repeated full scans into reads of tiny rollup
tables; rollups are themselves re-aggregable (sums of sums) because
every stored aggregate is decomposable (count/sum/min/max).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRAINS = {"1h": 3600, "1d": 86400}


def build_rollups(
    events: DataFrame, out_dir: str, grains: dict[str, int] | None = None
) -> None:
    """Write one parquet rollup table per grain, partitioned by
    event_type (partition pruning on the common filter column)."""
    grains = grains or GRAINS
    for name, secs in grains.items():
        aggregate_at_grain(events, secs).write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(f"{out_dir}/rollup_{name}")


def pick_grain(requested_secs: int, grains: dict[str, int] | None = None) -> str:
    """Coarsest materialized grain that divides the requested bucket."""
    grains = grains or GRAINS
    fitting = [(s, n) for n, s in grains.items() if requested_secs % s == 0]
    if not fitting:
        raise ValueError(f"no rollup grain divides {requested_secs}s")
    return max(fitting)[1]


def query_rollup(
    spark: SparkSession,
    out_dir: str,
    requested_secs: int,
    event_type: str | None = None,
    grains: dict[str, int] | None = None,
) -> DataFrame:
    """Re-aggregate the chosen rollup to the requested bucket size.
    countDistinct is NOT re-aggregable and is only exposed when the
    requested grain equals the stored grain. ``grains`` must match the
    dict the store was built with (defaults to GRAINS)."""
    grains = grains or GRAINS
    grain = pick_grain(requested_secs, grains)
    df = spark.read.parquet(f"{out_dir}/rollup_{grain}")
    if event_type is not None:
        df = df.filter(F.col("event_type") == event_type)
    exact_grain = grains[grain] == requested_secs
    rolled = (
        df.withColumn(
            "bucket", (F.floor(F.col("bucket") / requested_secs) * requested_secs).cast("long")
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            *( [F.sum("nd_users").alias("nd_users")] if exact_grain else [] ),
        )
    )
    return rolled


def aggregate_at_grain(events: DataFrame, secs: int) -> DataFrame:
    """Aggregate raw events to one grain: the single source of truth
    for the rollup schema (build_rollups and the incremental refresh
    both delegate here, so stored and recomputed buckets can never
    diverge structurally)."""
    return (
        events.select(
            "event_type",
            "user_id",
            F.col("value").cast("decimal(12,2)").alias("v"),
            (
                F.floor(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000") / secs) * secs
            ).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.countDistinct("user_id").alias("nd_users"),
        )
    )


def refresh_dirty_buckets(
    existing: DataFrame, all_events: DataFrame, delta: DataFrame, secs: int
) -> DataFrame:
    """Incremental continuous-aggregate refresh via dirty-bucket
    invalidation (the TimescaleDB continuous-aggregate model): the
    delta marks (event_type, bucket) pairs dirty; ONLY those buckets
    are re-aggregated from raw events, everything else is served
    unchanged from the existing rollup.

    Recompute-not-merge is deliberate: COUNT(DISTINCT user_id) is not
    mergeable across partial aggregates, and recomputing only dirty
    buckets keeps it exact while still never rescanning clean history.

    Scale shape: the raw re-scan is pre-filtered by the delta's minimum
    bucket time (a pushed-down predicate that prunes time partitions —
    late data is almost always recent) and then exact-filtered by a
    broadcastable semi-join on the dirty keys; the clean side is a
    rollup-sized anti-join. Raw history outside the dirty window is
    never read.
    """
    bucket_of = (
        F.floor(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000") / secs) * secs
    ).cast("long")
    dirty = delta.select("event_type", bucket_of.alias("bucket")).distinct()
    min_bucket = dirty.agg(F.min("bucket")).collect()[0][0]
    if min_bucket is None:  # empty delta: nothing to refresh
        return existing
    recomputed = aggregate_at_grain(
        all_events.where(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000") >= min_bucket),
        secs,
    ).join(F.broadcast(dirty), ["event_type", "bucket"], "left_semi")
    kept = existing.join(
        F.broadcast(dirty), ["event_type", "bucket"], "left_anti"
    )
    return kept.unionByName(recomputed)
