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

Every table, whatever its name, is read through one plan taken from
its first data file's footer (:func:`read_plan`), in batch and as a
stream. Each column maps to the type Spark infers for it (a timestamp
stored without a UTC adjustment, like the testdata's ``o_orderdate``
and ``events.ts``, is TIMESTAMP_NTZ), with two rules chosen by the
column's parquet type, never by its name: an INT64 TIMESTAMP(NANOS)
column, which Spark's reader rejects, is read as its raw ``bigint`` and
converted to microseconds (integer division, so a 19-digit value loses
no µs); a legacy INT96 column, which pyarrow shows as a naive ns
timestamp, reads as TIMESTAMP, as Spark infers it. The plan is taken
per source fingerprint, so a table rewritten at another unit is read at
its new one.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
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
    data file's relative path, size, mtime and ctime. Anything derived
    from the source (a cached handle, a bucketed table, an index) keys on
    it, so a rewritten source never resolves to a stale copy. The ctime
    catches a rewrite that keeps size and mtime (``cp -p``,
    ``shutil.copytree``): no copy can set it."""
    h = hashlib.md5()
    is_dir = os.path.isdir(path)
    for fp in source_files(path):
        st = os.stat(fp)
        rel = f"{os.path.relpath(fp, path)}:" if is_dir else ""
        h.update(f"{rel}{st.st_size}:{st.st_mtime_ns}:{st.st_ctime_ns}".encode())
    return h.hexdigest()[:8]


def read_plan(
    spark: SparkSession, path: str
) -> tuple[T.StructType | None, dict[str, Column]]:
    """How to read the parquet source at ``path``: a read schema taken
    in-process from the footer of its first data file, so opening the
    source runs no schema-inference Spark job, and the conversions to
    apply to the scan. For every column Spark can infer, the schema is
    what ``spark.read.parquet(path)`` infers (a given schema is made
    nullable throughout, as inference does, and timestamps without a
    UTC adjustment map to TIMESTAMP_NTZ under the same session conf).
    An INT96 column reads as TIMESTAMP. A top-level TIMESTAMP(NANOS)
    column, which Spark's reader rejects, reads as ``bigint`` and is
    converted to the microsecond timestamp type the same column would
    infer at µs. The schema is None only when there is no data file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = source_files(path)
    if not files:
        return None, {}
    footer = pq.ParquetFile(files[0])
    leaves = map(footer.schema.column, range(len(footer.schema)))
    physical = {c.path: c.physical_type for c in leaves}
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    arrow, nanos = footer.schema_arrow, {}
    for i, f in enumerate(arrow):
        if physical.get(f.name) == "INT96":
            # A tz-aware arrow timestamp maps to TIMESTAMP.
            arrow = arrow.set(i, f.with_type(pa.timestamp("us", "UTC")))
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            arrow = arrow.set(i, f.with_type(pa.int64()))
            epoch = (
                "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
                if ntz and f.type.tz is None
                else "timestamp_micros(0)"
            )
            nanos[f.name] = F.expr(
                f"timestampadd(MICROSECOND, `{f.name}` div 1000, {epoch})"
            )
    return from_arrow_schema(arrow, prefer_timestamp_ntz=ntz), nanos


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
    schema, nanos = read_plan(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if nanos:
        df = df.withColumns(nanos)
    per_session[(sf_dir, name)] = (fingerprint, df)
    return df
