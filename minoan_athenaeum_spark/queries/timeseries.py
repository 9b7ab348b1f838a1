"""Time-series queries: as-of join, banded range join, gap-filled
resampling over the events table — all oracle-checked (the as-of
running-max formulation is plain window SQL in DuckDB too).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.operators.timeseries import (
    asof_join,
    banded_range_join,
    resample_gapfill,
)
from minoan_athenaeum_spark.queries._util import t
from minoan_athenaeum_spark.registry import query


@query(
    "ts_asof_join",
    oracle="""
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
      FROM events WHERE event_type IN ('click', 'purchase')
    ), filled AS (
      SELECT user_id, us, event_id, is_purchase,
             MAX(click_us) OVER (PARTITION BY user_id ORDER BY us, is_purchase, event_id
                                 ROWS UNBOUNDED PRECEDING) AS asof_ts,
             MAX(click_id) OVER (PARTITION BY user_id ORDER BY us, is_purchase, event_id
                                 ROWS UNBOUNDED PRECEDING) AS last_click_id_m
      FROM u
    )
    SELECT user_id, event_id AS purchase_id, us AS purchase_us, asof_ts
    FROM filled WHERE is_purchase = 1
    """,
    tags=("timeseries", "asof"),
)
def ts_asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest prior (or
    simultaneous) click. Implemented with the union+running-max
    composition in operators/timeseries.py — one shuffle on user_id,
    no nested loop (the scale-correct as-of plan)."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("us").alias("purchase_us")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("us").alias("click_us")
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_us",
        right_ts="click_us", right_payload=["click_id"],
    )
    return joined.select("user_id", "purchase_id", "purchase_us", "asof_ts")


@query(
    "ts_range_join",
    oracle="""
    SELECT e.event_id AS err_id, p.event_id AS pur_id, e.user_id AS uid,
           epoch_us(e.ts) - epoch_us(p.ts) AS delta_us
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND e.event_type = 'error' AND p.event_type = 'purchase'
     AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 600000000
    """,
    tags=("timeseries", "range-join"),
)
def ts_range_join(spark, sf_dir):
    """Banded range join: error events within ±10 min of a purchase by
    the same user. The user_id equality keys a hash join; the band is a
    post-filter — never a cartesian."""
    e = t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("err_us"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("pur_us"),
    )
    j = banded_range_join(
        errors.withColumnRenamed("user_id", "uid"),
        purchases.withColumnRenamed("p_user_id", "uid"),
        on="uid",
        left_ts=F.col("err_us"),
        right_ts=F.col("pur_us"),
        band=F.lit(600000000),
    )
    return j.select(
        "err_id", "pur_id", F.col("uid"), (F.col("err_us") - F.col("pur_us")).alias("delta_us")
    )


@query(
    "ts_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id < 5 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(b0, b1 + 21600, 21600)) AS bucket FROM spans
    )
    SELECT g.user_id, g.bucket,
           COALESCE(b.cnt, 0) AS cnt,
           COALESCE(b.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
    """,
    tags=("timeseries", "resample"),
)
def ts_resample_gapfill(spark, sf_dir):
    """6-hour resampling with gap filling: dense per-user time grid via
    sequence()+explode (distributed; no driver loop), left join the
    aggregated actuals, zero-fill the gaps."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 5).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "value",
    )
    out = resample_gapfill(
        e,
        key="user_id",
        epoch_s=F.expr("us div 1000000"),
        bucket_seconds=21600,
        aggs={
            "cnt": F.count("*"),
            "sum_value": F.sum(F.col("value").cast("decimal(12,2)")).cast("double"),
        },
        fill={"cnt": F.lit(0), "sum_value": F.lit(0.0)},
    )
    return out.select("user_id", "bucket", "cnt", "sum_value")
