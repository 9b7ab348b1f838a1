"""Window functions (extension surface — the reference has none).

All deterministic: every ORDER BY inside a window frame is tie-broken by
a unique key so Spark and DuckDB agree row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from minoan_athenaeum_spark.queries._util import dec, t
from minoan_athenaeum_spark.registry import query


@query(
    "win_row_number_topk_per_group",
    oracle="""
    SELECT seg, okey, price, rn FROM (
      SELECT c.c_mktsegment AS seg, o.o_orderkey AS okey,
             o.o_totalprice AS price,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def win_row_number_topk_per_group(spark, sf_dir):
    """Top-3 orders per market segment via ROW_NUMBER. One shuffle on the
    partition key; at scale this beats a global sort by construction."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    w = W.partitionBy("seg").orderBy(F.col("price").desc(), F.col("okey"))
    return j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey AS ckey, o_orderkey AS okey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey <= 100
    """,
    tags=("window",),
)
def win_running_sum(spark, sf_dir):
    """Running total per customer (ROWS UNBOUNDED PRECEDING). Decimal
    accumulation keeps it exact vs the oracle."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("ckey"),
        F.col("o_orderkey").alias("okey"),
        F.sum(dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_total"),
    )


@query(
    "win_time_range_moving_sum",
    oracle="""
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS hour_sum,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS n_in_hour
    FROM events WHERE user_id <= 200
    """,
    tags=("window", "range-frame", "timeseries"),
)
def win_time_range_moving_sum(spark, sf_dir):
    """Trailing 1-hour moving sum per user with a RANGE (time-interval)
    window frame — the frame boundary is a VALUE offset on the ordering
    column, not a row count, so equal-timestamp peers are always in or
    out together (ROWS frames cannot express this). Ordering on epoch
    micros makes the frame arithmetic integer-exact and engine-portable;
    decimal accumulation keeps the sum exact vs the oracle.

    Scale shape: one shuffle on user_id; frames are evaluated with a
    sliding aggregate over each partition's sort order — no
    self-join-per-row (the naive SQL-92 formulation)."""
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    e = t(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    return e.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.sum(dec(F.col("value"), 12, 2)).over(w).cast("double").alias("hour_sum"),
        F.count("*").over(w).alias("n_in_hour"),
    )


@query(
    "win_distribution_funcs",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WHERE c_acctbal > 9000
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "distribution"),
)
def win_distribution_funcs(spark, sf_dir):
    """Distribution window functions — percent_rank, cume_dist,
    ntile(4) — per market segment over account balance. The ORDER BY is
    made total with the unique custkey tiebreak so ntile (which splits
    by row position, not value) is deterministic; percent_rank and
    cume_dist are exact-integer ratios through one IEEE division, so
    all three are bit-equal across engines."""
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@query(
    "win_grouped_topk_two_phase",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk", "two-phase"),
)
def win_grouped_topk_two_phase(spark, sf_dir):
    """Top-3 orders by price per customer via the TWO-PHASE grouped
    top-k (operators/scan.py::grouped_topk_two_phase): local per-
    partition top-k discards everything but k candidates per (input
    partition, group) BEFORE the shuffle, so the final per-group window
    sees a bounded row count however hot the group — the plan
    ``row_number over partitionBy(group)`` cannot deliver when one
    group dominates (whole group on one reducer). Same results as the
    plain window (the oracle IS the plain window), different physics."""
    from minoan_athenaeum_spark.operators.scan import grouped_topk_two_phase

    o = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    top = grouped_topk_two_phase(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )
    return top.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "rn",
    )
