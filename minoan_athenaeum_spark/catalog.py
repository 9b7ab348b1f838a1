"""Parquet catalog over the driver testdata directories.

The reference resolves ``<name>.table.json`` files relative to CWD as its
catalog (``/root/reference/database.py:905-996``); ours is a directory of
parquet files registered as temp views. ``load_table`` returns a lazy
Spark scan, so the same code handles 100 TB directories. The scan's
schema is pinned from the parquet footer (read in-process with
pyarrow), so opening a table runs no schema-inference Spark job. Handles
are cached per session and source fingerprint: a rewritten source gets a
fresh scan. ``engine.Athenaeum.register_parquet_dir`` snapshots small
tables into in-memory local relations on top of these scans; the
handles returned here stay file scans.

Special case: ``events.parquet``'s ``ts`` column. Some driver rounds
generate it as parquet TIMESTAMP(NANOS), which Spark's parquet reader
rejects (PARQUET_TYPE_ILLEGAL); others as TIMESTAMP(MICROS), which
Spark reads natively. The unit is detected from the parquet footer per
source fingerprint (NOT assumed — round 4's testdata silently switched
ns → µs and the hardcoded ns workaround divided every microsecond
timestamp by 1000). For ns we read the physical INT64 with an explicit
schema and convert ns → a microsecond TIMESTAMP column (session tz is
UTC, so values agree with DuckDB's naive TIMESTAMP_NS truncated to µs).
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Physical read schema for events: ts as raw int64 nanoseconds.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# Native read schema for events when ts is already a µs/ms timestamp
# (file streams require an explicit schema, so both variants are here).
EVENTS_NATIVE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

def events_ts_unit(sf_dir: str) -> str:
    """Timestamp unit of ``events.parquet``'s ``ts`` column ('ns', 'us',
    'ms', 's'), read from the parquet footer of one part file. 'ns'
    needs the raw-INT64 workaround; everything else reads natively.
    Not cached: ``load_table`` reads it once per source fingerprint, on
    a handle-cache miss, so a rewritten source is read at its new unit."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    pf = pq.ParquetFile(path)
    # Legacy INT96 timestamps carry no unit annotation — pyarrow
    # surfaces them as timestamp[ns], which would mis-route them to
    # the raw-int64 reader. Detect the physical type and let Spark's
    # native INT96 path read them instead.
    pschema = pf.schema
    ts_idx = next(
        i for i in range(len(pschema)) if pschema.column(i).name == "ts"
    )
    if pschema.column(ts_idx).physical_type == "INT96":
        return "int96"
    field = pf.schema_arrow.field("ts")
    if not pa.types.is_timestamp(field.type):
        raise TypeError(
            f"events.ts is {field.type}, expected a parquet timestamp"
        )
    return field.type.unit


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    unit = events_ts_unit(sf_dir)
    if unit == "int96":
        # Spark reads legacy INT96 into a native TimestampType itself;
        # forcing a schema would fight the vectorized reader.
        return spark.read.parquet(f"{sf_dir}/events.parquet")
    if unit == "ns":
        raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        # Integer division — float division loses µs precision on
        # 19-digit ns.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(EVENTS_NATIVE_SCHEMA).parquet(
        f"{sf_dir}/events.parquet"
    )


# Per-session handle cache: re-creating a DataFrame re-reads parquet
# footers and re-lists files; reusing the analyzed relation skips that
# (plans are immutable, so sharing is safe). Weak-keyed on the
# SparkSession itself so a stopped, garbage-collected session's entries
# vanish with it — no id()-reuse hazard, no unbounded growth. Each
# entry keeps the source fingerprint it was opened at; a rewritten
# source (new part files, sizes or mtimes) gets a fresh scan instead of
# a handle whose file listing no longer exists.
_HANDLE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def source_files(path: str) -> list[str]:
    """Data files of the parquet source at ``path``: the file itself, or
    every file under the directory whose name does not start with ``_``
    or ``.`` (Spark's rule for metadata and hidden files), in directory
    walk order."""
    if not os.path.isdir(path):
        return [path] if os.path.exists(path) else []
    return [
        os.path.join(root, f)
        for root, _dirs, files in sorted(os.walk(path))
        for f in sorted(files)
        if not f.startswith(("_", "."))
    ]


def source_fingerprint(path: str) -> str:
    """Deterministic fingerprint of the parquet source at ``path``: every
    data file's relative path, size and mtime. Anything derived from the
    source (a cached handle, a managed table, an index) keys on it, so a
    rewritten source never resolves to a stale copy."""
    h = hashlib.md5()
    is_dir = os.path.isdir(path)
    for fp in source_files(path):
        st = os.stat(fp)
        rel = f"{os.path.relpath(fp, path)}:" if is_dir else ""
        h.update(f"{rel}{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:8]


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """A read schema for the parquet source at ``path``, taken in-process
    from the footer of its first part file instead of by a Spark job. A
    scan given it has the schema ``spark.read.parquet(path)`` infers:
    Spark's reader makes a given schema nullable throughout, as its
    inference does, and timestamps without a UTC adjustment map to
    TIMESTAMP_NTZ under the same session conf. None when there is no
    part file or a top-level nanosecond timestamp (INT96 or
    TIMESTAMP(NANOS), which Spark's inference maps differently): the
    caller then lets Spark infer."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = source_files(path)
    if not files:
        return None
    arrow = pq.read_schema(files[0])
    if any(pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _HANDLE_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _HANDLE_CACHE[spark] = per_session
    path = f"{sf_dir}/{name}.parquet"
    fingerprint = source_fingerprint(path)
    cached = per_session.get((sf_dir, name))
    if cached is not None and cached[0] == fingerprint:
        return cached[1]
    if name == "events":
        df = load_events(spark, sf_dir)
    else:
        schema = footer_schema(spark, path)
        df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    per_session[(sf_dir, name)] = (fingerprint, df)
    return df
