"""Skew-handling operators: salting for hot keys.

AQE's skew-join splitting handles most cases automatically
(spark.sql.adaptive.skewJoin.enabled is on by Spark's default); these
helpers cover the two places AQE can't:
  - aggregation skew (one giant group saturates one reducer),
  - broadcast-infeasible skewed joins.

Both are pure DataFrame rewrites — no RDDs, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with a synthetic salt key.

    Phase 1 aggregates on (keys, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the partials on keys.
    Only works for decomposable aggregates; callers pass the partial
    aggregation in ``aggs`` and this helper applies the matching merge
    (sum→sum, count→sum, min→min, max→max) by re-aggregating the named
    columns with the combiner given in ``merge_fn`` of each entry.

    ``aggs`` maps output column name → (partial Column expression); the
    merge is a SUM for count/sum semantics and is selected per name
    prefix: columns named ``min_*``/``max_*`` merge with min/max.
    """
    salted = df.withColumn(
        "__salt", (F.spark_partition_id() + F.monotonically_increasing_id()) % salt_buckets
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    merges = []
    for name in aggs:
        if name.startswith("min_"):
            merges.append(F.min(name).alias(name))
        elif name.startswith("max_"):
            merges.append(F.max(name).alias(name))
        else:
            merges.append(F.sum(name).alias(name))
    return phase1.groupBy(*keys).agg(*merges)


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skewed equi-join without broadcast: salt the fact side's key with
    a random-ish bucket, replicate the dim side once per bucket, join on
    (key, salt). The hot key's rows land on ``salt_buckets`` different
    reducers instead of one."""
    salted_facts = facts.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)).cast(
            "int"
        ),
    )
    buckets = facts.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("__salt")
    )
    replicated_dim = dim.crossJoin(buckets)
    return salted_facts.join(
        replicated_dim,
        (F.col(f"{fact_key}") == F.col(f"{dim_key}"))
        & (salted_facts["__salt"] == replicated_dim["__salt"]),
    ).drop("__salt")
