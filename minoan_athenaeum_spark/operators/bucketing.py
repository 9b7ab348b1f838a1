"""Bucketed-table co-located joins.

At 100 TB the dominant cost of a repeated fact-fact join is re-shuffling
both sides on the join key every query. Bucketing pays that shuffle ONCE
at write time: both tables are hash-partitioned into the same number of
buckets on the key and sorted within buckets, so every later join reads
bucket i of A against bucket i of B directly — `.explain` shows a
SortMergeJoin with NO Exchange on either side.

This is plain `DataFrameWriter.bucketBy` + parquet; no custom machinery.
The bucketed files are a derived copy like any other, built once through
``index_family.ensure_copy``; the catalog only holds an external table
over them, which each session registers again from the files, so a new
session reuses the layout instead of rewriting it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from minoan_athenaeum_spark.sources.index_family import ensure_copy


def bucketed_table(
    spark: SparkSession, df: DataFrame, path: str, key: str, n_buckets: int = 16
) -> DataFrame:
    """``df`` as the table ``basename(path)``: parquet files at ``path``,
    bucketed AND sorted by ``key`` — the layout that makes every future
    equi-join or aggregation on ``key`` exchange-free. The files are
    written once; the table is registered over them when the catalog
    lacks it."""
    name = os.path.basename(path)

    def write(staging):
        # an external table under a throwaway name: dropping it keeps the files
        tmp = os.path.basename(staging)
        (
            df.write.format("parquet")
            .option("path", staging)
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(tmp)
        )
        spark.sql(f"DROP TABLE {tmp}")

    ensure_copy(path, write)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(name)
