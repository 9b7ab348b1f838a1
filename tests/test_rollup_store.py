from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.operators.rollup_store import (
    build_rollups,
    pick_grain,
    query_rollup,
)


def test_pick_grain():
    assert pick_grain(3600) == "1h"
    assert pick_grain(86400) == "1d"
    assert pick_grain(7200) == "1h"
    assert pick_grain(86400 * 7) == "1d"


def test_rollup_matches_raw_recompute(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "rollups")
    build_rollups(events, out)

    # 6-hour buckets must route to the 1h rollup and match a raw scan.
    got = query_rollup(spark, out, 21600).select(
        "event_type", "bucket", "cnt", F.col("sum_v").cast("double").alias("sv")
    )
    raw = (
        events.select(
            "event_type",
            (F.floor(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000") / 21600) * 21600)
            .cast("long")
            .alias("bucket"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"), F.sum("v").cast("double").alias("sv"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in raw.collect()}


def test_rollup_partition_pruning(spark, sf_dir, tmp_path):
    import contextlib
    import io

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "rollups2")
    build_rollups(events, out)
    df = query_rollup(spark, out, 3600, event_type="purchase")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_type" in plan
    assert df.count() > 0
    # Exact grain exposes the distinct-user sketch column.
    assert "nd_users" in df.columns
    assert "nd_users" not in query_rollup(spark, out, 7200).columns
