"""Pins for catalog timestamp handling: the three parquet physical
encodings an events table can arrive in — INT64 µs (our writes), INT64
ns (the driver testdata), and legacy INT96 (Hive-era writers, and
Spark's own default before the session factory pinned
outputTimestampType) — must all load to identical rows."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import events_ts_unit, load_table


def _checksum(df):
    return df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(event_id, unix_micros(ts))) AS x"),
    ).first()


def test_int96_events_copy_loads_identically(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "events")
    want = _checksum(src)

    int96_dir = str(tmp_path / "ev96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        src.write.mode("overwrite").parquet(f"{int96_dir}/events.parquet")
    finally:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )

    assert events_ts_unit(int96_dir) == "int96"
    got = _checksum(load_table(spark, int96_dir, "events"))
    assert (got.n, got.x) == (want.n, want.x)
    shutil.rmtree(int96_dir, ignore_errors=True)


def test_session_writes_int64_micros(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "ev64")
    load_table(spark, sf_dir, "events").limit(100).write.parquet(out)
    part = glob.glob(f"{out}/*.parquet")[0]
    sch = pq.ParquetFile(part).schema
    idx = next(i for i in range(len(sch)) if sch.column(i).name == "ts")
    assert sch.column(idx).physical_type == "INT64"


def test_rewritten_events_are_read_at_their_new_unit(spark, tmp_path):
    """The ts unit is read per source fingerprint: rewriting a
    TIMESTAMP(NANOS) events file as µs must not keep the ns reader (that
    divides every µs value by 1000)."""
    us = 1704067798778549
    path = tmp_path / "events.parquet"

    def write(ts, unit, mtime_ns):
        pq.write_table(
            pa.table({
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ts], pa.timestamp(unit)),
                "user_id": pa.array([7], pa.int64()),
                "event_type": ["click"],
                "value": [1.5],
                "props": ["{}"],
            }),
            path,
        )
        os.utime(path, ns=(mtime_ns, mtime_ns))

    def micros():
        return load_table(spark, str(tmp_path), "events").select(
            F.unix_micros("ts")
        ).first()[0]

    write(us * 1000 + 123, "ns", 1_700_000_000_000_000_000)
    assert events_ts_unit(str(tmp_path)) == "ns"
    assert micros() == us
    write(us, "us", 1_700_000_001_000_000_000)
    assert micros() == us
    assert events_ts_unit(str(tmp_path)) == "us"
