"""Continuous-aggregate (rollup-store) queries surfaced through the
driver contract.

The rollup store (operators/rollup_store.py) materializes decomposable
per-grain aggregates once and answers coarser-grain questions from the
stored tables instead of the raw events — the hypertable continuous-
aggregate pattern. Here the store is built on first use per events
fingerprint (in the warehouse, through index_family.warehouse_index_path)
and the registered query reads ONLY the rollup, while the oracle
recomputes from raw events — so the driver's hash gate proves
store+re-aggregation end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.operators.rollup_store import build_rollups, query_rollup
from minoan_athenaeum_spark.registry import query
from minoan_athenaeum_spark.sources.index_family import ensure_copy, warehouse_index_path


def _store_dir(spark, sf_dir: str) -> str:
    """Build (once per events fingerprint) and return the rollup store
    path; ``index_family.ensure_copy`` renames the store into place only
    once every grain is written, so a crashed build is rebuilt, not
    served."""
    out = warehouse_index_path(spark, sf_dir, "mas_rollup_store", "events")
    # build_rollups is looked up at call time so tests can patch it
    return ensure_copy(out, lambda d: build_rollups(load_table(spark, sf_dir, "events"), d))


@query(
    "rollup_daily_by_type",
    oracle="""
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000) // 86400 * 86400 AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_v
    FROM events
    GROUP BY event_type, bucket
    """,
    tags=("rollup", "continuous-aggregate"),
)
def rollup_daily_by_type(spark, sf_dir):
    """Daily aggregates per event type answered FROM THE ROLLUP STORE
    (1-day materialized grain; raw events are never scanned at query
    time), while the oracle recomputes from raw events — the driver's
    hash gate therefore certifies build + re-aggregation together.

    Scale shape: queries read the rollup table (orders of magnitude
    smaller than raw events, partitioned by event_type for pruning);
    sums of decimal sums stay exact."""
    out = _store_dir(spark, sf_dir)
    df = query_rollup(spark, out, 86400)
    return df.select(
        "event_type",
        "bucket",
        "cnt",
        F.col("sum_v").cast("double").alias("sum_v"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
    )


@query(
    "rollup_6h_purchases",
    oracle="""
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000) // 21600 * 21600 AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY event_type, bucket
    """,
    tags=("rollup", "continuous-aggregate"),
)
def rollup_6h_purchases(spark, sf_dir):
    """6-hour purchase totals from the 1-hour rollup grain (6 h divides
    into stored 1 h buckets; the event_type filter prunes the store's
    partition layout before any read)."""
    out = _store_dir(spark, sf_dir)
    df = query_rollup(spark, out, 21600, event_type="purchase")
    return df.select(
        "event_type",
        "bucket",
        "cnt",
        F.col("sum_v").cast("double").alias("sum_v"),
    )


@query(
    "rollup_incremental_refresh",
    oracle="""
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000) // 3600 * 3600 AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_v,
           COUNT(DISTINCT user_id) AS nd_users
    FROM events
    GROUP BY event_type, bucket
    """,
    tags=("rollup", "incremental"),
)
def rollup_incremental_refresh(spark, sf_dir):
    """Incremental continuous-aggregate maintenance: the last two days
    of events arrive as a late delta against a rollup built from older
    history; dirty (event_type, hour) buckets are re-aggregated from
    raw, clean buckets are served untouched from the existing rollup
    (`operators/rollup_store.py::refresh_dirty_buckets`).

    The oracle recomputes the WHOLE grain from scratch — a green row
    therefore proves incremental == full, including the non-mergeable
    COUNT(DISTINCT user_id) (the reason dirty buckets recompute from
    raw instead of merging partials).

    Scale shape: clean history is read only at rollup granularity; the
    raw re-scan is bounded below by the delta's min bucket (pushed-down
    time predicate) and exact-filtered by a broadcast semi-join on the
    dirty keys.
    """
    from minoan_athenaeum_spark.operators.rollup_store import (
        aggregate_at_grain,
        refresh_dirty_buckets,
    )

    ev = load_table(spark, sf_dir, "events")
    max_day = ev.agg(
        F.max(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000 div 86400"))
    ).collect()[0][0]
    split_us = (max_day - 1) * 86400 * 1_000_000  # last 2 calendar days
    base = ev.where(F.expr("unix_micros(CAST(ts AS TIMESTAMP))") < split_us)
    delta = ev.where(F.expr("unix_micros(CAST(ts AS TIMESTAMP))") >= split_us)

    existing = aggregate_at_grain(base, 3600)
    merged = refresh_dirty_buckets(existing, ev, delta, 3600)
    return merged.select(
        "event_type",
        "bucket",
        "cnt",
        F.col("sum_v").cast("double").alias("sum_v"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        "nd_users",
    )
