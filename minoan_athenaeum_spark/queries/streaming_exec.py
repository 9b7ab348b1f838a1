"""Streaming queries surfaced through the driver contract.

These actually execute Structured Streaming (file source → availableNow
→ memory sink) and return the materialized result, sharing the SAME
DuckDB oracle as their batch twins — so the driver's value-hash gate
covers the streaming engine, not just batch.
"""

from __future__ import annotations

import itertools

from minoan_athenaeum_spark.registry import query
from minoan_athenaeum_spark.streaming.ops import (
    read_events_stream,
    run_to_memory,
    tumbling_counts,
)

_counter = itertools.count()

_TUMBLING_ORACLE = """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
"""


@query("stream_tumbling_exec", oracle=_TUMBLING_ORACLE, tags=("streaming", "exec"))
def stream_tumbling_exec(spark, sf_dir):
    """Watermarked tumbling-window aggregation EXECUTED AS A STREAM
    (availableNow drain), checked against the same DuckDB oracle as the
    batch twin evt_tumbling_window — proving batch/stream result parity
    through the driver's own gate."""
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    name = f"q_stream_tumbling_{next(_counter)}"
    return run_to_memory(stream, name, mode="complete")


_SLIDING_ORACLE = """
    SELECT CAST((floor(epoch(ts) / 900) - ks.k) * 900 AS BIGINT) AS wstart,
           event_type,
           COUNT(*) AS cnt
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
    GROUP BY 1, 2
"""


@query("stream_sliding_exec", oracle=_SLIDING_ORACLE, tags=("streaming", "exec"))
def stream_sliding_exec(spark, sf_dir):
    """Sliding-window counts (1 h window, 15 min slide) EXECUTED AS A
    STREAM. Oracle: every event lands in exactly the four epoch-aligned
    windows starting at floor(t/900)·900 − k·900, k ∈ 0..3 — the same
    alignment Structured Streaming uses, expressed as a 4-row unnest
    cross join in SQL."""
    from minoan_athenaeum_spark.streaming.ops import sliding_counts

    stream = sliding_counts(read_events_stream(spark, sf_dir))
    name = f"q_stream_sliding_{next(_counter)}"
    return run_to_memory(stream, name, mode="complete")


_SESSION_ORACLE = """
    WITH x AS (
      SELECT user_id, ts, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts)
                    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                    >= 1800000000
                  OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), y AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    )
    SELECT user_id, MIN(us) AS start_us, COUNT(*) AS n_events
    FROM y GROUP BY user_id, sess_id
"""


@query("stream_session_exec", oracle=_SESSION_ORACLE, tags=("streaming", "exec"))
def stream_session_exec(spark, sf_dir):
    """Native gap-based session windows (30 min) per user EXECUTED AS A
    STREAM. Oracle: the classic lag/cumsum gaps-and-islands sessionizer
    with the session_window boundary rule — an event exactly at the
    previous session's end ([start, last + gap)) opens a NEW session,
    hence the >= gap comparison."""
    from minoan_athenaeum_spark.streaming.ops import session_windows

    stream = session_windows(read_events_stream(spark, sf_dir))
    name = f"q_stream_session_{next(_counter)}"
    return run_to_memory(stream, name, mode="complete")


_STATEFUL_ORACLE = """
    SELECT user_id,
           COUNT(*) AS total_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
"""


@query(
    "stream_stateful_totals_exec",
    oracle=_STATEFUL_ORACLE,
    tags=("streaming", "stateful", "exec"),
)
def stream_stateful_totals_exec(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) EXECUTED AS A
    STREAM: per-user running totals held in GroupState, drained with
    availableNow, then the FINAL per-user state is read back (the row
    with the highest running event count — totals are strictly
    increasing per emission, so that is the last state update). The
    final state must equal the batch aggregate, which IS
    SQL-expressible, so the driver's value-hash gate now covers the
    stateful path end-to-end; per-microbatch update-mode emission stays
    pinned in tests/test_streaming.py::test_stateful_running_totals.

    Value totals are accumulated as exact integer CENTS: the stream
    feeds the operator value·100 as integer-valued doubles (double
    addition of integers < 2^53 is exact and order-independent), so the
    cross-batch Python accumulation matches DuckDB's decimal sum
    bit-for-bit regardless of batch boundaries."""
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.streaming.stateful import user_running_totals

    cents = read_events_stream(spark, sf_dir).withColumn(
        "value",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").cast("double"),
    )
    stream = user_running_totals(cents)
    name = f"q_stream_stateful_{next(_counter)}"
    updates = run_to_memory(stream, name, mode="update")
    return updates.groupBy("user_id").agg(
        F.max("total_events").alias("total_events"),
        F.max_by("total_value", "total_events").cast("bigint").alias("total_cents"),
    )


_IDEMPOTENT_SINK_ORACLE = """
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
"""


@query(
    "stream_idempotent_sink_exec",
    oracle=_IDEMPOTENT_SINK_ORACLE,
    tags=("streaming", "sink", "exec"),
)
def stream_idempotent_sink_exec(spark, sf_dir):
    """EXACTLY-ONCE FILE SINK executed as a stream: the event stream is
    drained through a foreachBatch parquet sink keyed by batch_id
    (streaming.ops.idempotent_parquet_writer — per-batch partition
    overwrite, so checkpoint-recovery replays cannot duplicate rows),
    then the sink's own output is read back and aggregated. The oracle
    aggregates the source table directly, so a green row proves the
    stream → sink → read-back round trip is lossless and duplicate-free.
    Replay/restart idempotency is separately pinned in
    tests/test_streaming.py."""
    import tempfile

    from minoan_athenaeum_spark.streaming.ops import run_with_idempotent_sink

    base = tempfile.mkdtemp(prefix="mas_idem_sink_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    stream = read_events_stream(spark, sf_dir)
    run_with_idempotent_sink(stream, out, ckpt)
    from pyspark.sql import functions as F

    sunk = spark.read.parquet(out)
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


_STREAM_STATIC_ORACLE = """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
           CAST(user_id % 4 AS BIGINT) AS segment,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
"""


@query(
    "stream_static_join_exec",
    oracle=_STREAM_STATIC_ORACLE,
    tags=("streaming", "join", "exec"),
)
def stream_static_join_exec(spark, sf_dir):
    """STREAM-STATIC JOIN executed as a stream: the live event stream is
    enriched against a static (batch) user-segment dimension — Spark
    re-plans the static side per microbatch, broadcasting it when small,
    which is the standard streaming enrichment pattern (dim tables don't
    stream). Windowed counts per segment after the join; oracle derives
    the same segments inline over batch events.

    At scale the static dim is the broadcast side, so the stream never
    shuffles for the join — only for the windowed aggregate."""
    from minoan_athenaeum_spark.catalog import load_events
    from minoan_athenaeum_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
    )
    from pyspark.sql import functions as F

    segments = (
        load_events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", F.col("user_id") % 4)
    )
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .join(F.broadcast(segments), "user_id")
        .groupBy(F.window("ts", "1 hour"), "segment")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart"),
            "segment",
            "cnt",
        )
    )
    name = f"q_stream_static_{next(_counter)}"
    return run_to_memory(stream, name, mode="complete")


_STREAM_STREAM_ORACLE = """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
"""


@query(
    "stream_stream_join_exec",
    oracle=_STREAM_STREAM_ORACLE,
    tags=("streaming", "join", "exec"),
)
def stream_stream_join_exec(spark, sf_dir):
    """STREAM-STREAM interval join executed as two live streams: each
    purchase matches the same user's clicks from the preceding hour.
    Both sides carry watermarks and the join condition bounds event-time
    distance, so the engine can size and EVICT join state (unbounded
    stream-stream joins are rejected by Spark for exactly this reason).
    Append-mode pairs; the oracle is the equivalent batch interval
    join."""
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
    )

    p = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id")
    name = f"q_stream_stream_{next(_counter)}"
    return run_to_memory(joined, name, mode="append")


_DEDUP_ORACLE = """
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS us,
           CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS BIGINT) AS cents
    FROM events
"""


@query(
    "stream_dedup_exec",
    oracle=_DEDUP_ORACLE,
    tags=("streaming", "dedup", "exec"),
)
def stream_dedup_exec(spark, sf_dir):
    """Streaming exact dedup EXECUTED AS A STREAM with
    ``dropDuplicatesWithinWatermark`` — the state-BOUNDED dedup API (a
    key's state is evicted once the watermark passes it, so unbounded
    streams don't accumulate unbounded state, unlike plain
    dropDuplicates). The stream is doubled first (explode ×2 downstream
    of the source, so every event_id arrives exactly twice), then
    deduped on event_id; the oracle is simply the ORIGINAL events table
    — a green row proves the operator dropped exactly the injected
    duplicates (without it the row count doubles and the gate goes
    red).

    Scale shape: dedup state is hash-partitioned by key and bounded by
    the watermark horizon; the doubling is map-side."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir)
    doubled = ev.withColumn(
        "_copy", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("_copy")
    deduped = doubled.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    name = f"q_stream_dedup_{next(_counter)}"
    return run_to_memory(out, name, mode="append")


_STREAM_ROLLUP_ORACLE = """
    SELECT event_type,
           CAST((epoch_us(ts) // 1000000) // 3600 * 3600 AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
           CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_v,
           COUNT(DISTINCT user_id) AS nd_users
    FROM events
    GROUP BY event_type, bucket
"""


@query(
    "stream_rollup_refresh_exec",
    oracle=_STREAM_ROLLUP_ORACLE,
    tags=("streaming", "rollup", "exec"),
)
def stream_rollup_refresh_exec(spark, sf_dir):
    """STREAMING CONTINUOUS AGGREGATE executed end-to-end: the event
    stream drains through a foreachBatch sink that lands raw batches
    idempotently AND incrementally refreshes the hourly rollup store
    (dirty-bucket recompute, versioned snapshots —
    streaming/ops.py::run_with_rollup_refresh); the FINAL snapshot is
    read back and must equal the oracle's full recompute over all
    events. maxFilesPerTrigger=1 forces a genuinely multi-batch drain,
    so a green row proves the incremental maintenance math is
    batch-split-invariant — including the non-mergeable
    COUNT(DISTINCT user_id)."""
    import tempfile

    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.streaming.ops import run_with_rollup_refresh

    base = tempfile.mkdtemp(prefix="mas_stream_rollup_")
    stream = read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    latest = run_with_rollup_refresh(stream, base, 3600)
    out = spark.read.parquet(latest)
    return out.select(
        "event_type",
        "bucket",
        "cnt",
        F.col("sum_v").cast("double").alias("sum_v"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        "nd_users",
    )


_STREAM_LEFT_ORACLE = """
    SELECT p.event_id AS purchase_id,
           coalesce(c.event_id, CAST(-1 AS BIGINT)) AS click_id
    FROM events p LEFT JOIN events c
      ON c.event_type = 'click' AND p.user_id = c.user_id
      AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
    WHERE p.event_type = 'purchase'
      AND p.ts < TIMESTAMP '2024-01-28 00:00:00'
"""


@query(
    "stream_stream_left_join_exec",
    oracle=_STREAM_LEFT_ORACLE,
    tags=("streaming", "join", "exec"),
)
def stream_stream_left_join_exec(spark, sf_dir):
    """Watermarked STREAM-STREAM LEFT OUTER interval join executed
    live: every purchase pairs with the same user's clicks from the
    preceding hour, and purchases with NO qualifying click still emit
    (click_id = -1) — the "did marketing touch this conversion?"
    shape, which needs the outer side. Outer results can only emit
    once the watermark proves no match can arrive, so rows are
    restricted to purchases before a fixed cutoff 3 days before the
    stream's end — far past the 2 h watermark delay + 1 h join window,
    making the availableNow drain provably complete for every emitted
    row (a trailing-edge purchase would otherwise stay in state with
    its outer verdict undecided at shutdown, and the gate would
    rightly go red).

    Scale shape: join state is bounded by watermark + interval exactly
    as the inner variant (stream_stream_join_exec); null padding adds
    no state. The cutoff filter is a pushed-down event-time predicate.
    """
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
    )

    # The cutoff filter sits AFTER the watermark node: filtering first
    # would cap the purchase-side watermark at cutoff - 2 h, and the
    # global watermark (min of both inputs) would strand the last
    # pre-cutoff unmatched purchase in state (observed: exactly one
    # missing outer row per SF before this ordering was fixed).
    p = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
        .filter(F.col("p_ts") < F.lit("2024-01-28 00:00:00").cast("timestamp"))
    )
    c = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        "purchase_id",
        F.coalesce(F.col("click_id"), F.lit(-1).cast("long")).alias("click_id"),
    )
    name = f"q_stream_left_{next(_counter)}"
    return run_to_memory(joined, name, mode="append")


def _quality_gate_oracle() -> str:
    from minoan_athenaeum_spark.queries.classifier import (
        _D,
        _SDOT,
        _steps_sql,
        _feats_sql,
    )

    return (
        _steps_sql()
        + f"""
    , final AS (
      SELECT {", ".join(f"CAST(SUM(w{i}) AS BIGINT) AS s{i}" for i in range(_D))}
      FROM steps WHERE it >= 1
    ), feats_id AS ({_feats_sql(with_id=True)})
    SELECT doc_id, CAST({_SDOT} AS BIGINT) AS logit
    FROM feats_id, final
    WHERE {_SDOT} > 0
    """
    )


@query(
    "stream_quality_gate_exec",
    oracle=_quality_gate_oracle(),
    tags=("streaming", "ml", "quality", "exec"),
)
def stream_quality_gate_exec(spark, sf_dir):
    """Model-gated STREAMING ingest: the averaged-perceptron quality
    model is trained OFFLINE on the batch corpus (bounded driver
    artifact — the standard train-offline / serve-online split), then
    the documents arrive as a file-source STREAM and each micro-batch
    is scored map-only with the integer weights folded into the filter
    expression; only logit > 0 documents pass the gate (append mode —
    fully stateless, so state is zero regardless of corpus size). The
    availableNow drain materializes exactly the kept (doc_id, logit)
    rows; the oracle re-derives the same weights via the recursive CTE
    and applies the same integer filter to all documents."""
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.queries.classifier import (
        averaged_weights,
        feature_frame,
        logit_expr,
    )
    from minoan_athenaeum_spark.streaming.ops import read_documents_stream

    w = averaged_weights(spark, sf_dir)
    stream = read_documents_stream(spark, sf_dir)
    feats = feature_frame(stream, with_id=True)
    logit = logit_expr(w)
    gated = feats.select(
        "doc_id", logit.cast("bigint").alias("logit")
    ).filter(F.col("logit") > 0)
    name = f"q_stream_quality_{next(_counter)}"
    return run_to_memory(gated, name, mode="append")


_MINHASH_GATE_ORACLE = r"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS sh
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(sh, x ->
                 CAST(('0x' || substr(md5(x || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)))) AS sg
      FROM s
    ), banded AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               CAST(('0x' || substr(md5(array_to_string(list_slice(sg, b*4 + 1, b*4 + 4), ',')
                                        || '#' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)) AS bk
      FROM sig
    ), ex AS (
      SELECT doc_id, unnest(bk) AS bucket FROM banded
    ), cand AS (
      SELECT DISTINCT e.doc_id AS a, n.doc_id AS b
      FROM ex e JOIN ex n ON e.bucket = n.bucket
      WHERE e.doc_id % 10 != 0 AND n.doc_id % 10 = 0
    ), scored AS (
      SELECT c.a AS a, c.b AS b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE)
                  - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jacc
      FROM cand c JOIN s sa ON c.a = sa.doc_id JOIN s sb ON c.b = sb.doc_id
    ), dup AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_dups, MAX(jacc) AS max_jacc
      FROM scored WHERE jacc >= 0.5 GROUP BY b
    )
    SELECT d.doc_id,
           COALESCE(dup.n_dups, 0) AS n_dups,
           dup.max_jacc AS max_jacc,
           CASE WHEN dup.n_dups IS NOT NULL THEN 'quarantine' ELSE 'pass' END AS status
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN dup ON d.doc_id = dup.b
"""


@query(
    "stream_minhash_dedup_exec",
    oracle=_MINHASH_GATE_ORACLE,
    tags=("streaming", "dedup", "minhash", "incremental", "exec"),
)
def stream_minhash_dedup_exec(spark, sf_dir):
    """STREAMING NEAR-DUP INGEST GATE — the MinHash sibling of
    stream_quality_gate_exec, composing the persisted LSH band index
    (sources/lsh_index.py, built once over the existing corpus) with
    the streaming ingest path: document batches (doc_id % 10 == 0)
    arrive via a file-source stream with an availableNow drain; each
    micro-batch is shingled/signed/banded MAP-ONLY, joined against the
    STATIC index on bucket, exact-Jaccard-verified against the static
    shingle table, and every batch document is emitted as `pass`
    (no existing near-dup) or `quarantine` (n_dups partners, max
    Jaccard) through the idempotent batch_id-partitioned parquet sink
    (exactly-once under replay). The oracle re-derives both
    generations from scratch in DuckDB — the drain must hash-match the
    full-recompute batch twin exactly.

    foreachBatch is the production shape here: the gate needs a
    left-join + per-doc aggregate against the batch's own candidates,
    and doing it per micro-batch keeps the streaming state ZERO (the
    only state is the durable index on disk) — the same
    serve-vs-maintain split as dedup_minhash_incremental, now on the
    live ingest path. At 100 TB each arriving batch pays O(batch +
    matched index buckets); the corpus is never re-shingled."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.operators.dedup import jaccard
    from minoan_athenaeum_spark.sources.lsh_index import (
        band_rows,
        ensure_minhash_index,
        hashed_shingles,
        shingled,
    )
    from minoan_athenaeum_spark.streaming.ops import read_documents_stream

    idx_path = ensure_minhash_index(spark, sf_dir)
    idx_bands = spark.read.parquet(os.path.join(idx_path, "bands"))
    idx_sh = spark.read.parquet(os.path.join(idx_path, "shingles"))

    # Deterministic scratch next to the index, wiped at query start
    # (same discipline as stream_bm25_index_append_exec's _streamwork
    # dir) — repeated bench/test runs reuse one directory instead of
    # accumulating mkdtemp leftovers in /tmp. The wipe also clears the
    # checkpoint, so the availableNow drain always replays the batch.
    base = idx_path + "_gatework"
    if os.path.isdir(base):
        shutil.rmtree(base)
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def gate(batch_df, batch_id: int) -> None:
        docs = batch_df.filter(F.col("doc_id") % 10 == 0)
        batch_sh = shingled(docs).localCheckpoint(eager=True)
        try:
            new_keys = band_rows(batch_sh).select(
                "bucket", F.col("doc_id").alias("b")
            )
            cand = (
                idx_bands.join(F.broadcast(new_keys), "bucket")
                .select(F.col("doc_id").alias("a"), "b")
                .dropDuplicates(["a", "b"])
            )
            # semi-join reduction: broadcast only the distinct
            # candidate doc-ids into the corpus shingle scan, then
            # join candidate-sized sides — the corpus payloads never
            # broadcast/shuffle wholesale and the verify stays
            # parallel (same shape as dedup_minhash_incremental,
            # measured A/B in BASELINE.md r9)
            a_ids = cand.select("a").distinct()
            idx_matched = idx_sh.join(
                F.broadcast(a_ids), idx_sh["doc_id"] == a_ids["a"]
            ).select(F.col("a"), F.col("sh").alias("a_sh"))
            ver = cand.join(idx_matched, "a").join(
                F.broadcast(
                    batch_sh.select(
                        F.col("doc_id").alias("b"),
                        # the index stores xxhash64'd shingle sets
                        # (r13, sources/lsh_index.py) — hash the batch
                        # side to match
                        hashed_shingles(F.col("sh")).alias("b_sh"),
                    )
                ),
                "b",
            )
            j = jaccard(F.col("a_sh"), F.col("b_sh"))
            dup = (
                ver.select("b", j.alias("jacc"))
                .filter(F.col("jacc") >= 0.5)
                .groupBy("b")
                .agg(
                    F.count("*").cast("bigint").alias("n_dups"),
                    F.max("jacc").alias("max_jacc"),
                )
            )
            verdicts = (
                batch_sh.select(F.col("doc_id"))
                .join(dup, F.col("doc_id") == F.col("b"), "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("n_dups"), F.lit(0).cast("bigint")).alias(
                        "n_dups"
                    ),
                    "max_jacc",
                    F.when(F.col("n_dups").isNotNull(), "quarantine")
                    .otherwise("pass")
                    .alias("status"),
                )
            )
            verdicts.write.mode("overwrite").parquet(
                os.path.join(out, f"batch_id={batch_id}")
            )
        finally:
            batch_sh.unpersist()

    stream = read_documents_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).select("doc_id", "n_dups", "max_jacc", "status")


def _bm25_full_oracle():
    from minoan_athenaeum_spark.queries.text import _bm25_oracle

    return _bm25_oracle()


@query(
    "stream_bm25_index_append_exec",
    oracle=_bm25_full_oracle(),
    tags=("streaming", "text", "bm25", "index", "incremental", "exec"),
)
def stream_bm25_index_append_exec(spark, sf_dir):
    """STREAMING SEARCH-INDEX MAINTENANCE: the arriving document batch
    (doc_id % 10 == 0) flows through the file-source stream
    (availableNow) and each micro-batch is folded into a scratch copy
    of the persisted BM25 base index via `append_to_bm25_index` inside
    foreachBatch — delta posting segments + exact stats merge per
    batch, the LSM ingest loop on the live path (the BM25 sibling of
    stream_minhash_dedup_exec's gate). After the drain the standard
    _BM25_TERMS query is served from the appended index; the oracle is
    the FULL-corpus BM25 twin, so a green row proves
    stream-append-then-serve ≡ batch-rebuild-then-serve even when the
    appends arrive as independent micro-batches (segment generations
    and stats merges commute — addition is associative and the posting
    sets are disjoint by doc).

    Replay safety: each fold passes its micro-batch id, so a batch
    replayed from the checkpoint is a no-op append (the id is already
    in the index manifest)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.queries.text import bm25_serve_from_index
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        ensure_bm25_index,
    )
    from minoan_athenaeum_spark.streaming.ops import read_documents_stream

    base = ensure_bm25_index(spark, sf_dir, slice_="existing")
    work = base + "_streamwork"
    for d in (work, work + "_ckpt"):
        if os.path.isdir(d):
            shutil.rmtree(d)  # stale checkpoint would skip the replayed batch
    shutil.copytree(base, work)

    def fold(batch_df, batch_id: int) -> None:
        batch = batch_df.filter(F.col("doc_id") % 10 == 0)
        if batch.isEmpty():
            return
        append_to_bm25_index(spark, work, batch, batch_id=batch_id)

    stream = read_documents_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", work + "_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return bm25_serve_from_index(spark, work)


def _novelty_stream_oracle() -> str:
    from minoan_athenaeum_spark.queries.text import _NOVELTY_INC_ORACLE

    return _NOVELTY_INC_ORACLE


@query(
    "stream_novelty_gate_exec",
    oracle=_novelty_stream_oracle(),
    tags=("streaming", "novelty", "incremental", "exec"),
)
def stream_novelty_gate_exec(spark, sf_dir):
    """STREAMING NOVELTY-INDEX MAINTENANCE: the arriving batch
    (doc_id % 10 == 0) flows through the file-source stream
    (availableNow) and each micro-batch folds its (gram, batch_min)
    rows into a scratch copy of the persisted first-occurrence gram
    index via `append_to_gram_index` inside foreachBatch — the fifth
    index family's live ingest loop (sibling of
    stream_bm25_index_append_exec). After the drain, per-doc novelty
    is served from the MIN-MERGED index: a gram belongs to the batch
    doc that owns its corpus-wide first occurrence, so
    n_novel(d) = |{grams : min-merged first_doc = d}|.

    Order independence is DEFINITIONAL here: first-occurrence is a
    MIN, and min is associative and commutative, so any micro-batch
    arrival order — including doc_ids interleaved across batches,
    where an "is it novel right now" gate would answer
    order-dependently — min-merges to exactly the rebuilt-from-union
    table. That is why the oracle can be the same FULL-recompute twin
    text_novelty_incremental uses: stream-fold-then-serve ≡
    batch-rebuild, proven by one green row.

    Replay safety note: the scratch copy is rebuilt per run, so the
    appends are idempotent per execution; a production sink keys
    delta generation directories by batch_id (the
    idempotent_parquet_writer pattern) so checkpoint replays
    overwrite rather than double-append."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.operators.text import ngram_structs, tokens
    from minoan_athenaeum_spark.queries._util import t
    from minoan_athenaeum_spark.sources.gram_index import (
        GRAM_N,
        append_to_gram_index,
        ensure_gram_index,
    )
    from minoan_athenaeum_spark.streaming.ops import read_documents_stream

    base = ensure_gram_index(spark, sf_dir)
    work = base + "_streamwork"
    for d in (work, work + "_ckpt"):
        if os.path.isdir(d):
            shutil.rmtree(d)  # stale checkpoint would skip the replayed batch
    shutil.copytree(base, work)

    def fold(batch_df, batch_id: int) -> None:
        batch = batch_df.filter(F.col("doc_id") % 10 == 0)
        if batch.isEmpty():
            return
        append_to_gram_index(spark, work, batch)

    stream = read_documents_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", work + "_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # Serve from the min-merged index: novel-gram counts per batch doc
    # are one lean index aggregate; per-doc totals are a batch-only
    # featurize. Same output contract (and oracle) as
    # text_novelty_incremental.
    merged = (
        spark.read.parquet(os.path.join(work, "grams"))
        .groupBy("gram")
        .agg(F.min("first_doc").alias("first_doc"))
    )
    novel = (
        merged.where(F.col("first_doc") % 10 == 0)
        .groupBy("first_doc")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    n = GRAM_N
    bpairs = (
        docs.select("doc_id", tokens().alias("tk"))
        .select("doc_id", F.explode(ngram_structs("tk", n)).alias("g"))
        .select(
            "doc_id",
            F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(n)]).alias(
                "gram"
            ),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    bper = bpairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("c").cast("bigint").alias("n_grams"),
    )
    return (
        docs.select("doc_id")
        .join(bper, "doc_id", "left")
        .join(novel, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias(
                "n_grams"
            ),
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias(
                "n_distinct_grams"
            ),
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel_grams"
            ),
            F.when(
                F.coalesce(F.col("n_distinct"), F.lit(0)) > 0,
                F.expr("(100 * COALESCE(n_novel, 0)) div n_distinct"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("novel_pct"),
        )
    )


def _lines_stream_oracle() -> str:
    from minoan_athenaeum_spark.queries.dedup import _LINES_INC_ORACLE

    return _LINES_INC_ORACLE


@query(
    "stream_lines_gate_exec",
    oracle=_lines_stream_oracle(),
    tags=("streaming", "lines", "incremental", "exec"),
)
def stream_lines_gate_exec(spark, sf_dir):
    """STREAMING LINE-INDEX MAINTENANCE: the arriving batch
    (doc_id % 10 == 0) flows through the file-source stream
    (availableNow) and each micro-batch folds its per-fingerprint
    (fp, batch-min owner) rows into a scratch copy of the persisted
    first-occurrence LINE index via `append_to_line_index` inside
    foreachBatch — the sixth index family's live ingest loop (sibling
    of stream_novelty_gate_exec). After the drain, per-doc line
    retention is served from the MIN-MERGED index: a batch line is
    kept iff its (doc_id, line_no) owns the line's corpus-wide first
    occurrence.

    Order independence is definitional: first-occurrence over the
    (doc_id, line_no) struct is a MIN, associative and commutative, so
    any micro-batch arrival order min-merges to exactly the
    rebuilt-from-union ownership table — which is why the oracle is
    the same FULL-recompute twin dedup_lines_incremental uses:
    stream-fold-then-serve ≡ batch-rebuild, one green row proves both.

    Replay safety: the scratch copy is rebuilt per run so appends are
    idempotent per execution; a production sink keys delta generation
    directories by batch_id (the idempotent_parquet_writer pattern)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.queries._util import t
    from minoan_athenaeum_spark.sources.line_index import (
        append_to_line_index,
        doc_lines,
        ensure_line_index,
    )
    from minoan_athenaeum_spark.streaming.ops import read_documents_stream

    base = ensure_line_index(spark, sf_dir)
    work = base + "_streamwork"
    for d in (work, work + "_ckpt"):
        if os.path.isdir(d):
            shutil.rmtree(d)
    shutil.copytree(base, work)

    def fold(batch_df, batch_id: int) -> None:
        batch = batch_df.filter(F.col("doc_id") % 10 == 0)
        if batch.isEmpty():
            return
        append_to_line_index(spark, work, batch)

    stream = read_documents_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", work + "_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # Serve from the min-merged index (which now CONTAINS the batch
    # generations): the global owner of each batch fingerprint is one
    # candidate-sized aggregate over the index scan probed by the
    # broadcast batch-fp set; kept/dropped joins back broadcast. Same
    # output contract (and oracle) as dedup_lines_incremental.
    bl = doc_lines(
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    ).localCheckpoint(eager=True)
    owner = (
        spark.read.parquet(os.path.join(work, "lines"))
        .join(F.broadcast(bl.select("fp").distinct()), "fp")
        .groupBy("fp")
        .agg(
            F.min(
                F.struct(
                    F.col("first_doc").alias("doc_id"),
                    F.col("first_line").alias("line_no"),
                )
            ).alias("own")
        )
    )
    return (
        bl.join(F.broadcast(owner), "fp")
        .select(
            "doc_id",
            "n_tok",
            (
                (F.col("doc_id") == F.col("own.doc_id"))
                & (F.col("line_no") == F.col("own.line_no"))
            ).alias("kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
