"""Pins for catalog timestamp handling: every table is read through its
own footer, whatever its name. The parquet encodings a timestamp can
arrive in — INT64 µs (the testdata and our writes), INT64 ns, and legacy
INT96 (Hive-era writers, and Spark's own default before the session
factory pinned outputTimestampType) — must all load to identical rows,
in batch, in the engine's small-table tier and as a stream."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.engine import Athenaeum
from minoan_athenaeum_spark.streaming.ops import read_stream, run_to_memory


def _checksum(df):
    return df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(event_id, unix_micros(CAST(ts AS TIMESTAMP)))) AS x"),
    ).first()


def test_int96_events_copy_loads_identically(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "events")
    want = _checksum(src)

    int96_dir = str(tmp_path / "ev96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        # Spark writes TIMESTAMP_NTZ as INT64 whatever the conf; only a
        # TIMESTAMP column is written as INT96.
        src.withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(f"{int96_dir}/events.parquet")
    finally:
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )

    part = glob.glob(f"{int96_dir}/events.parquet/*.parquet")[0]
    assert _physical_type(part, "ts") == "INT96"
    got = _checksum(load_table(spark, int96_dir, "events"))
    assert (got.n, got.x) == (want.n, want.x)
    shutil.rmtree(int96_dir, ignore_errors=True)


def _physical_type(path, column):
    sch = pq.ParquetFile(path).schema
    return next(sch.column(i).physical_type for i in range(len(sch)) if sch.column(i).name == column)


def test_session_writes_int64_micros(spark, sf_dir, tmp_path):
    out = str(tmp_path / "ev64")
    events = load_table(spark, sf_dir, "events").limit(100)
    # A TIMESTAMP column, which the session conf decides the encoding of.
    events.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(out)
    part = glob.glob(f"{out}/*.parquet")[0]
    assert _physical_type(part, "ts") == "INT64"


def test_rewritten_table_is_read_at_its_new_unit(spark, tmp_path):
    """The read plan is taken per source fingerprint: rewriting a
    TIMESTAMP(NANOS) table as µs must not keep the ns conversion (that
    divides every µs value by 1000)."""
    us = 1704067798778549
    path = tmp_path / "clicks.parquet"

    def write(ts, unit, mtime_ns):
        pq.write_table(
            pa.table({
                "click_id": pa.array([1], pa.int64()),
                "ts": pa.array([ts], pa.timestamp(unit)),
            }),
            path,
        )
        os.utime(path, ns=(mtime_ns, mtime_ns))

    def micros():
        return load_table(spark, str(tmp_path), "clicks").select(
            F.unix_micros(F.col("ts").cast("timestamp"))
        ).first()[0]

    write(us * 1000 + 123, "ns", 1_700_000_000_000_000_000)
    assert micros() == us
    write(us, "us", 1_700_000_001_000_000_000)
    assert micros() == us


def test_nanosecond_table_loads_in_batch_and_tier(spark, tmp_path):
    """A TIMESTAMP(NANOS) column in a table of any name reads as its
    microsecond timestamp, through load_table and through the tier."""
    d = str(tmp_path)
    ns = [1704067798778549123, None, -1500]
    pq.write_table(
        pa.table({
            "click_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "ts_utc": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        }),
        f"{d}/clicks.parquet",
    )
    scan = load_table(spark, d, "clicks")
    assert scan.schema.simpleString() == "struct<click_id:bigint,ts:timestamp_ntz,ts_utc:timestamp>"
    got = scan.select(
        "click_id",
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.unix_micros("ts_utc"),
    ).orderBy("click_id").collect()
    assert [tuple(r) for r in got] == [
        (1, 1704067798778549, 1704067798778549),
        (2, None, None),
        (3, -1, -1),
    ]
    eng = Athenaeum(spark)
    eng.register_parquet_dir(d)
    tier = eng.table("clicks")
    assert tier.schema == scan.schema
    assert sorted(tier.collect(), key=repr) == sorted(scan.collect(), key=repr)


def _copies(sf_dir, tmp_path, tz):
    """Copies of the testdata events table, its ts at µs and at ns (and,
    with a UTC adjustment, as INT96), each in its own directory."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    out = {}
    for unit in ("us", "ns", "int96"):
        if unit == "int96" and tz is None:
            continue  # INT96 carries no UTC flag: Spark reads it as TIMESTAMP
        d = tmp_path / unit
        d.mkdir()
        ts = t["ts"].cast(pa.timestamp("ns" if unit == "int96" else unit, tz=tz))
        pq.write_table(
            t.set_column(i, "ts", ts),
            d / "events.parquet",
            use_deprecated_int96_timestamps=unit == "int96",
        )
        out[unit] = str(d)
    return out


@pytest.mark.parametrize("tz", [None, "UTC"], ids=["naive", "utc"])
def test_timestamp_encodings_agree_in_batch_tier_and_stream(spark, sf_dir, tmp_path, tz):
    copies = _copies(sf_dir, tmp_path, tz)
    if tz:
        assert _physical_type(f"{copies['int96']}/events.parquet", "ts") == "INT96"
    want = load_table(spark, copies["us"], "events")
    want_rows = sorted(want.collect(), key=repr)
    ts_type = "timestamp" if tz else "timestamp_ntz"
    assert dict(want.dtypes)["ts"] == ts_type
    for unit, d in copies.items():
        eng = Athenaeum(spark)
        eng.register_parquet_dir(d)
        stream = run_to_memory(read_stream(spark, d, "events"), f"enc_{tz}_{unit}", mode="append")
        for how, df in (
            ("load_table", load_table(spark, d, "events")),
            ("tier", eng.table("events")),
            ("read_stream", stream),
        ):
            assert df.schema == want.schema, (unit, how)
            assert sorted(df.collect(), key=repr) == want_rows, (unit, how)
