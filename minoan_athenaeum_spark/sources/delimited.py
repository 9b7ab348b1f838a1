"""CSV / JSON-lines sources and sinks with explicit schemas.

The reference's only format is its bespoke ``.table.json``
(sources/table_json.py); real pipelines ingest delimited text and
JSONL. Schemas are always explicit — inference means a second full
scan at 100 TB and nondeterministic types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        # Fail loudly on malformed rows rather than silently nulling.
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)
