"""CSV, JSON-lines and ORC exports of the events table — the interchange
formats every ingestion pipeline meets before data lands in parquet.

Exactness discipline: the export schema is chosen so the text round
trip is LOSSLESS — timestamps become epoch microseconds (BIGINT; no
timezone/format parsing hazards), monetary doubles become integer
cents (BIGINT; no float-repr round-trip), ids stay BIGINT, strings
stay strings. Reads always pass an EXPLICIT schema: schema inference
is a full extra pass over the data at 100 TB and can silently widen or
mistype columns; a declared schema makes the scan single-pass and the
result deterministic. CSV and JSONL go through the one delimited-text
connector (sources/delimited.py), which fails on a malformed field
instead of reading it as null.

Materialized exports live in the warehouse under
index_family.warehouse_index_path (keyed by the events source
fingerprint and the format) and are built through
index_family.ensure_copy: regenerating the testdata changes the
directory name, so a stale export can never be served.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.sources.delimited import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from minoan_athenaeum_spark.sources.index_family import (
    ensure_copy,
    warehouse_index_path,
)

EVENTS_TEXT_SCHEMA = (
    "event_id BIGINT, us BIGINT, user_id BIGINT, event_type STRING, "
    "cents BIGINT"
)

_WRITERS = {
    "csv": write_csv,
    "json": write_jsonl,
    "orc": lambda df, path: df.write.orc(path),
}


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


def ensure_events_export(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Export the events table as ``fmt`` (csv, json or orc) once per
    source fingerprint; later calls reuse the files. Returns the
    directory."""
    path = warehouse_index_path(spark, sf_dir, "mas_textio", "events", params=fmt)
    write = _WRITERS[fmt]
    return ensure_copy(path, lambda d: write(_events_text_df(spark, sf_dir), d))


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    return read_csv(spark, path, EVENTS_TEXT_SCHEMA)


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    return read_jsonl(spark, path, EVENTS_TEXT_SCHEMA)


def read_events_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(EVENTS_TEXT_SCHEMA).orc(path)
