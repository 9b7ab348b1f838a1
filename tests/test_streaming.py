"""Structured Streaming correctness: drain the events file source with
availableNow and assert equivalence with the oracle-checked batch twins
(queries/events.py) or direct batch computations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.queries.events import evt_tumbling_window
from minoan_athenaeum_spark.streaming.ops import (
    read_stream,
    run_to_memory,
    session_windows,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = tumbling_counts(read_stream(spark, sf_dir, "events"))
    got = run_to_memory(stream, "t_tumbling", mode="complete")
    expected = evt_tumbling_window(spark, sf_dir)
    assert rows(got) == rows(expected)


def test_stream_sliding_matches_batch(spark, sf_dir):
    stream = sliding_counts(read_stream(spark, sf_dir, "events"))
    got = run_to_memory(stream, "t_sliding", mode="complete")
    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart"),
            "event_type",
            "cnt",
        )
    )
    assert rows(got) == rows(expected)


def test_stream_session_windows(spark, sf_dir):
    stream = session_windows(read_stream(spark, sf_dir, "events"))
    got = run_to_memory(stream, "t_sessions", mode="complete")
    # Same gap semantics as the batch lag/cumsum sessionizer: compare
    # (user_id, n_events) multiset and total event conservation.
    batch = load_table(spark, sf_dir, "events")
    assert got.agg(F.sum("n_events")).collect()[0][0] == batch.count()
    # Session starts must be actual event timestamps.
    starts = {r.start_us for r in got.collect()}
    event_us = {
        r[0] for r in batch.select(F.unix_micros(F.col("ts").cast("timestamp"))).collect()
    }
    assert starts <= event_us


def test_streaming_dedup(spark, sf_dir):
    stream = streaming_dedup(read_stream(spark, sf_dir, "events"))
    got = run_to_memory(stream, "t_dedup", mode="append")
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stream_dedup_exec_injection_is_real(spark, sf_dir):
    # The oracle-gated stream_dedup_exec doubles the stream before
    # deduping; pin that the doubling alone really yields 2× rows, so
    # the green oracle row can only come from the dedup operator.
    ev = read_stream(spark, sf_dir, "events")
    doubled = ev.withColumn(
        "_c", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("_c")
    got = run_to_memory(doubled, "t_doubled", mode="append")
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == 2 * batch.count()


def test_stateful_running_totals(spark, sf_dir):
    import math

    from minoan_athenaeum_spark.streaming.stateful import user_running_totals

    stream = user_running_totals(read_stream(spark, sf_dir, "events"))
    got = run_to_memory(stream, "t_stateful", mode="update")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    expected = {r.user_id: (r.n, r.v) for r in batch.collect()}
    # Single input file → one microbatch → totals equal the batch agg
    # (values via isclose: pandas and Spark sum doubles in different
    # orders).
    rows_got = {r.user_id: (r.total_events, r.total_value) for r in got.collect()}
    assert rows_got.keys() == expected.keys()
    for uid, (n, v) in expected.items():
        gn, gv = rows_got[uid]
        assert gn == n and math.isclose(gv, v, rel_tol=1e-9)


def test_stateful_accumulates_across_microbatches(spark, sf_dir, tmp_path):
    """Split events into 4 files; maxFilesPerTrigger=1 forces 4
    microbatches, so GroupState must carry totals across batches."""
    import math

    from minoan_athenaeum_spark.streaming.stateful import user_running_totals

    batch = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    batch.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_to_memory(user_running_totals(stream), "t_multibatch", mode="update")
    rows = got.collect()
    # More emissions than users ⇒ state actually spanned >1 microbatch.
    n_users = batch.select("user_id").distinct().count()
    assert len(rows) > n_users
    # Final (max) running totals equal the batch aggregate.
    final = {}
    for r in rows:
        cur = final.get(r.user_id)
        if cur is None or r.total_events > cur[0]:
            final[r.user_id] = (r.total_events, r.total_value)
    expected = {
        r.user_id: (r.n, r.v)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert final.keys() == expected.keys()
    for uid, (n, v) in expected.items():
        gn, gv = final[uid]
        assert gn == n and math.isclose(gv, v, rel_tol=1e-9)


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy: an event older than the watermark horizon is
    dropped. Two sequential availableNow runs share a checkpoint, so
    run 2 starts with the watermark advanced by run 1 — deterministic
    batch ordering."""
    import pandas as pd

    src = str(tmp_path / "late_events")
    cp = str(tmp_path / "ckpt")
    base = pd.Timestamp("2024-03-01 10:00:00")

    def write_batch(offsets_minutes, start_id):
        pdf = pd.DataFrame(
            {
                "event_id": range(start_id, start_id + len(offsets_minutes)),
                "ts": [
                    int((base + pd.Timedelta(minutes=m)).value)  # ns
                    for m in offsets_minutes
                ],
                "user_id": [1] * len(offsets_minutes),
                "event_type": ["click"] * len(offsets_minutes),
                "value": [1.0] * len(offsets_minutes),
                "props": ["{}"] * len(offsets_minutes),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "late_out")

    def run_once(_name):
        stream_raw = spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).parquet(src)
        events = stream_raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
        agg = (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("cnt"))
            .select(
                F.unix_timestamp(F.col("window.start")).alias("wstart"), "cnt"
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.wstart: r.cnt for r in spark.read.parquet(out).collect()}

    # Run 1: on-time events 10:05..12:00 → final watermark 11:00; the
    # [10:00, 11:00) window (2 events) finalizes and is emitted.
    write_batch([5, 15, 65, 120], 0)
    rows1 = run_once("t_late_r1")
    ten = int(pd.Timestamp("2024-03-01 10:00:00").timestamp())
    nine = int(pd.Timestamp("2024-03-01 09:00:00").timestamp())
    assert rows1 == {ten: 2}

    # Run 2 (same checkpoint → inherited watermark 11:00): a LATE event
    # at 09:30 must be dropped; 12:30 goes into open state. Nothing new
    # finalizes below the new watermark, so run 2 emits no rows — and in
    # particular no [09:00) window ever appears.
    write_batch([-30, 150], 10)
    rows2 = run_once("t_late_r2")  # cumulative file-sink contents
    assert nine not in rows2
    assert rows2 == rows1  # nothing new emitted; late event vanished


def test_idempotent_sink_replay_and_restart(spark, sf_dir, tmp_path):
    """Exactly-once pin for the batch-id-keyed foreachBatch sink:

    1. drain the stream -> output equals the batch source exactly;
    2. REPLAY the same micro-batch through the writer (what checkpoint
       recovery does after a crash between sink write and commit) ->
       output is byte-identical, no duplicate rows;
    3. RESTART the stream on the same checkpoint -> source is already
       committed, nothing new is written.
    """
    from minoan_athenaeum_spark.streaming.ops import (
        idempotent_parquet_writer,
        run_with_idempotent_sink,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_with_idempotent_sink(read_stream(spark, sf_dir, "events"), out, ckpt)

    batch = load_table(spark, sf_dir, "events")
    cols = batch.columns
    first = {tuple(r) for r in spark.read.parquet(out).select(*cols).collect()}
    n_first = spark.read.parquet(out).count()
    assert first == {tuple(r) for r in batch.collect()}
    assert n_first == batch.count()  # also no duplicates WITHIN the set

    # 2. Crash-recovery replay: Spark re-invokes foreachBatch with the
    # same batch df and the SAME batch_id. availableNow drained the
    # whole source as batch 0, so replaying (batch, 0) reproduces it.
    idempotent_parquet_writer(out)(batch, 0)
    after_replay = spark.read.parquet(out).select(*cols)
    assert after_replay.count() == n_first
    assert {tuple(r) for r in after_replay.collect()} == first

    # 3. Restart on the same checkpoint: source offsets are committed,
    # so the run writes nothing (a NAIVE append sink would also pass
    # this one — step 2 is what it would fail).
    run_with_idempotent_sink(read_stream(spark, sf_dir, "events"), out, ckpt)
    assert spark.read.parquet(out).count() == n_first


def test_idempotent_sink_multi_batch(spark, sf_dir, tmp_path):
    """Multi-batch exactly-once: split the source into several files,
    drain with maxFilesPerTrigger=1 so MULTIPLE micro-batches hit the
    sink, then replay the LAST batch (the one checkpoint recovery would
    re-deliver) and assert the union is unchanged."""
    import os

    from minoan_athenaeum_spark.streaming.ops import (
        idempotent_parquet_writer,
    )
    from pyspark.sql import functions as F

    # Three source FILES (flat in one dir — the file-stream source
    # globs one level, nested dirs read zero rows) -> three batches.
    import glob
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    events = load_table(spark, sf_dir, "events")
    raw = events.withColumn(
        "__b", F.pmod(F.col("event_id"), F.lit(3))
    )
    for b in range(3):
        d = str(tmp_path / f"slice{b}")
        raw.filter(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(part, f"{src}/slice{b}.parquet")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(idempotent_parquet_writer(out))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    )
    assert len(batch_dirs) >= 2, f"expected multiple batches, got {batch_dirs}"
    expected = {tuple(r) for r in load_table(spark, sf_dir, "events").collect()}
    cols = load_table(spark, sf_dir, "events").columns
    sunk = spark.read.parquet(out).select(*cols)
    n0 = sunk.count()
    assert {tuple(r) for r in sunk.collect()} == expected
    assert n0 == len(expected)

    # Replay the last delivered batch with its original batch_id — the
    # overwrite must leave the union byte-identical, no duplicates.
    # (Materialize the batch before handing it to the writer: a lazy
    # self-read would race the overwrite of its own input files —
    # Spark's real replay passes the re-computed source batch, not a
    # read of the sink.)
    last_id = max(int(d.split("=")[1]) for d in batch_dirs)
    src_of_last = spark.read.parquet(f"{out}/batch_id={last_id}")
    last_batch = spark.createDataFrame(
        src_of_last.collect(), schema=src_of_last.schema
    )
    idempotent_parquet_writer(out)(last_batch, last_id)
    again = spark.read.parquet(out).select(*cols)
    assert again.count() == n0
    assert {tuple(r) for r in again.collect()} == expected
