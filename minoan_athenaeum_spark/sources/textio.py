"""CSV and JSON-lines connectors — the interchange formats every
ingestion pipeline meets before data lands in parquet.

Exactness discipline: the export schema is chosen so the text round
trip is LOSSLESS — timestamps become epoch microseconds (BIGINT; no
timezone/format parsing hazards), monetary doubles become integer
cents (BIGINT; no float-repr round-trip), ids stay BIGINT, strings
stay strings. Reads always pass an EXPLICIT schema: schema inference
is a full extra pass over the data at 100 TB and can silently widen or
mistype columns; a declared schema makes the scan single-pass and the
result deterministic.

Materialized exports live in the warehouse under
index_family.warehouse_index_path (keyed by the events source
fingerprint): regenerating the testdata changes the directory name, so
a stale export can never be served.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.sources.index_family import warehouse_index_path

EVENTS_TEXT_SCHEMA = (
    "event_id BIGINT, us BIGINT, user_id BIGINT, event_type STRING, "
    "cents BIGINT"
)


def _events_text_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )


def _export_path(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    base = warehouse_index_path(spark, sf_dir, "mas_textio", "events")
    return os.path.join(base, f"events_{fmt}")


def ensure_events_export(
    spark: SparkSession, sf_dir: str, fmt: str
) -> str:
    """Write the events table as CSV or JSONL once per (source
    fingerprint); later calls reuse the files. Returns the directory."""
    assert fmt in ("csv", "json")
    path = _export_path(spark, sf_dir, fmt)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = _events_text_df(spark, sf_dir)
        w = df.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(path)
        else:
            w.json(path)
    return path


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.schema(EVENTS_TEXT_SCHEMA)
        .option("header", True)
        .csv(path)
    )


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(EVENTS_TEXT_SCHEMA).json(path)


def ensure_events_orc(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table as ORC once per source fingerprint (same
    lossless schema as the text exports — epoch-µs BIGINT + integer
    cents — so the three interchange connectors share one oracle)."""
    path = _export_path(spark, sf_dir, "orc")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _events_text_df(spark, sf_dir).write.mode("overwrite").orc(path)
    return path


def read_events_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(EVENTS_TEXT_SCHEMA).orc(path)
