"""Driver queries over pre-bucketed (co-located) tables.

The registered query answers from tables bucketed on the join key — the
read path a repeated-join workload would use — while the oracle
recomputes the same answer from the raw parquet, so the driver's hash
gate certifies the bucketed write + exchange-free join together. The
bucketed files live in the warehouse under
index_family.warehouse_index_path like every other derived copy, so a
rewritten source resolves to a fresh copy and its stale one is deleted.
tests/test_plan_shape.py pins the no-Exchange property.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.operators.bucketing import bucketed_table
from minoan_athenaeum_spark.queries._util import t
from minoan_athenaeum_spark.registry import query
from minoan_athenaeum_spark.sources.index_family import warehouse_index_path


def _bucketed_pair(spark, sf_dir):
    """orders + lineitem bucketed on orderkey (16 buckets), written once
    per sf_dir and source fingerprint."""

    def bucketed(name, cols, key):
        path = warehouse_index_path(spark, sf_dir, f"mas_bucketed_{name}", name)
        return bucketed_table(spark, t(spark, sf_dir, name).select(*cols), path, key)

    return (
        bucketed("orders", ["o_orderkey", "o_orderpriority"], "o_orderkey"),
        bucketed("lineitem", ["l_orderkey", "l_quantity"], "l_orderkey"),
    )


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("bucketing", "join"),
)
def bucketed_colocated_join(spark, sf_dir):
    """orders⋈lineitem on orderkey answered from CO-LOCATED bucketed
    tables: both sides were hash-bucketed and sorted on the key at write
    time, so the join itself runs with no Exchange on either side (plan
    pinned in tests/test_plan_shape.py) — at 100 TB this turns every
    repeated fact-fact join into a bucket-local merge. The oracle
    recomputes from raw parquet, certifying write + join end-to-end."""
    o, l = _bucketed_pair(spark, sf_dir)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )
