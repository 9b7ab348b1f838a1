"""Event/time-series queries over the events table.

These are the batch-semantics twins of the Structured Streaming
operators in ``minoan_athenaeum_spark/streaming/`` (same windowing
logic; streaming adds watermarks/state). Window starts are emitted as
epoch seconds (BIGINT) so Spark and DuckDB compare exactly regardless of
timestamp-type plumbing. ``events.ts`` is read like every other column,
through ``catalog.read_plan``: the testdata's TIMESTAMP(MICROS) without
a UTC adjustment loads as TIMESTAMP_NTZ, and a TIMESTAMP(NANOS) copy
gives the same rows. ``unix_micros`` takes a TIMESTAMP, so epoch-µs
arithmetic casts ``ts`` first (the session time zone is UTC, so the
value is unchanged).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from minoan_athenaeum_spark.queries._util import dec, t
from minoan_athenaeum_spark.registry import query


@query(
    "evt_tumbling_window",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
           event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window", "streaming-twin"),
)
def evt_tumbling_window(spark, sf_dir):
    """1-hour tumbling-window counts/sums per event type — batch twin of
    the streaming tumbling aggregation. Spark `window()` starts align to
    the epoch, i.e. floor(epoch/3600)*3600."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(dec(F.col("value"), 12, 2)).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@query(
    "evt_sliding_window",
    oracle="""
    SELECT wstart, event_type, COUNT(*) AS cnt
    FROM (
      SELECT CAST(floor(epoch(ts) / 900) * 900 - 900 * j AS BIGINT) AS wstart,
             event_type
      FROM events
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    )
    GROUP BY wstart, event_type
    """,
    tags=("events", "window", "streaming-twin"),
)
def evt_sliding_window(spark, sf_dir):
    """1-hour window sliding every 15 min: each event lands in 4 windows
    (Spark expands exactly this way internally)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart"),
            "event_type",
            "cnt",
        )
    )


@query(
    "evt_sessionize",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts)
                    - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > 1800000000
                  OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), y AS (
      SELECT user_id, event_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    )
    SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
           MIN(us) AS start_us, MAX(us) AS end_us
    FROM y GROUP BY user_id, sess_id
    """,
    tags=("events", "session", "streaming-twin"),
)
def evt_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) via lag +
    running sum — batch twin of streaming session windows. Integer-µs
    arithmetic keeps both engines exact."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    x = e.withColumn(
        "new_sess",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1800000000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    y = x.withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return y.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


@query(
    "evt_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("events", "json"),
)
def evt_json_extract(spark, sf_dir):
    """JSON field extraction from the props column (semi-structured
    path), aggregated per event type."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count("*").alias("cnt"),
    )


@query(
    "evt_pivot_counts",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click_cnt,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view_cnt,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_cnt,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup_cnt,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error_cnt
    FROM events GROUP BY user_id
    """,
    tags=("events", "pivot"),
)
def evt_pivot_counts(spark, sf_dir):
    """Pivot event_type → per-user count columns (conditional aggregation
    — identical plan shape to groupBy().pivot() but with stable column
    names for the oracle)."""
    e = t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))
        .cast("bigint")
        .alias(f"{et}_cnt")
        for et in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


@query(
    "evt_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("events", "variant", "json"),
)
def evt_variant_extract(spark, sf_dir):
    """Semi-structured extraction through the VARIANT type (Spark 4):
    props parses once into the binary variant encoding
    (``parse_json``), then fields are read with typed
    ``variant_get`` — the engine path that replaces repeated
    string-level ``get_json_object`` parsing. At scale the difference
    is structural: VARIANT parses each JSON document ONCE into a
    shredded binary form that all downstream extractions share, while
    the string path re-parses per extraction expression. The oracle
    computes the same aggregates with DuckDB's JSON functions."""
    e = t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get(F.col("v"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count("*").alias("cnt"),
    )


_FUNNEL_ORACLE = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'view' AS name, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users
    UNION ALL
    SELECT 2, 'view>click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT 3, 'view>click>purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
"""


@query("evt_funnel_stages", oracle=_FUNNEL_ORACLE, tags=("events", "funnel"))
def evt_funnel_stages(spark, sf_dir):
    """ORDERED-SEQUENCE FUNNEL (view -> click -> purchase): how many
    users completed each prefix of the journey IN ORDER — the core
    product-analytics operator (a user who purchased before ever
    clicking does not count for stage 3). Each stage is the
    conditional-min pattern: earliest qualifying event strictly after
    the previous stage's timestamp.

    Scale shape — ONE shuffle total: all three conditional mins are
    unbounded per-user window aggregates over the SAME partitioning
    (partitionBy user_id, no ordering), so Catalyst plans a single
    Exchange with three stacked Window operators; the earlier
    three-groupBy + two-join form cost 3 shuffles and 109 s at 256×,
    this form replaces them with one pass over the co-located user
    partitions. Timestamps never appear in the output (driver-hash
    discipline) — only stage counts."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    e1 = e.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    e2 = e1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        e2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.max(F.col("t1").isNotNull().cast("int")).alias("s1"),
            F.max(F.col("t2").isNotNull().cast("int")).alias("s2"),
            F.max(F.col("t3").isNotNull().cast("int")).alias("s3"),
        )
    )
    totals = per_user.agg(
        F.sum("s1").alias("n1"), F.sum("s2").alias("n2"), F.sum("s3").alias("n3")
    )
    # stack() unpivots the single totals row in one evaluation — a
    # 3-way union of projections would re-run the whole aggregate per
    # branch (3 ReusedExchange-stitched copies in the plan).
    return totals.selectExpr(
        """stack(3,
             1, 'view', CAST(n1 AS BIGINT),
             2, 'view>click', CAST(n2 AS BIGINT),
             3, 'view>click>purchase', CAST(n3 AS BIGINT)
           ) AS (stage, name, users)"""
    )


_RETENTION_ORACLE = """
    WITH cohort AS (
      SELECT user_id,
             strftime(date_trunc('week', MIN(ts)), '%Y-%m-%d') AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             strftime(date_trunc('week', ts), '%Y-%m-%d') AS active_week
      FROM events
    )
    SELECT c.cohort_week, a.active_week,
           CAST(COUNT(*) AS BIGINT) AS users
    FROM cohort c JOIN activity a USING (user_id)
    GROUP BY c.cohort_week, a.active_week
"""


@query("evt_retention_cohorts", oracle=_RETENTION_ORACLE, tags=("events", "retention"))
def evt_retention_cohorts(spark, sf_dir):
    """COHORT RETENTION matrix: users bucketed by first-seen week
    (cohort), counted in every week they were active — the triangle
    behind every retention curve. Weeks are Monday-truncated dates
    rendered as strings (identical in Spark and DuckDB; raw timestamps
    never reach the output).

    Scale shape — ONE shuffle on user_id: a single groupBy collects
    each user's first-seen timestamp AND distinct active weeks
    (collect_set over week strings is bounded by the calendar — weeks
    per user can't exceed the horizon), then a map-side explode and a
    tiny week×week aggregate. The earlier cohort-groupBy + distinct +
    join form cost three shuffles of the event stream and 68 s at
    256×."""
    e = t(spark, sf_dir, "events")
    wk = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    per_user = e.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.collect_set(wk).alias("weeks"),
    )
    return (
        per_user.select(
            "cohort_week", F.explode("weeks").alias("active_week")
        )
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("users"))
    )


_ANOMALY_ORACLE = """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ), z AS (
      SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
             (CAST(e.value AS DOUBLE) - s.sx / s.n)
               / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS zscore
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_id, event_type, value, zscore
    FROM z WHERE abs(zscore) > 2.5
"""


@query("evt_anomaly_zscore", oracle=_ANOMALY_ORACLE, tags=("events", "anomaly"))
def evt_anomaly_zscore(spark, sf_dir):
    """Z-SCORE ANOMALY DETECTION: events whose value deviates > 2.5
    sample standard deviations from their event-type mean. Group
    statistics come from exact decimal power sums (the engine-portable
    variance recipe), broadcast back onto the stream — a map-only
    second pass, the standard two-pass outlier screen at any scale.
    All divisions and the sqrt are single IEEE operations on exact
    inputs, so the z-scores (and the > 2.5 cut) are bit-identical
    across engines."""
    e = t(spark, sf_dir, "events")
    val = dec(F.col("value"), 12, 2)
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(val).cast("double").alias("sx"),
        F.sum(val * val).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("value").cast("double") - mean) / F.sqrt(var)
    return (
        e.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("value").cast("double").alias("value"),
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.5)
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (closed form: windows only, exact integers)
# ---------------------------------------------------------------------------

_CUSUM_H_MULT = 20  # alarm threshold: 20 above-mean events (scaled by n buckets)

_CUSUM_ORACLE = """
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ), y AS (
      SELECT d.event_type, d.day, d.cnt,
             s.n_buckets * d.cnt - s.total AS yv, s.n_buckets
      FROM daily d JOIN stats s USING (event_type)
    ), c AS (
      SELECT event_type, day, cnt, n_buckets,
             sum(yv) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM y
    ), s AS (
      SELECT event_type, day, cnt, n_buckets, cum,
             cum - least(CAST(0 AS BIGINT),
                         min(cum) OVER (PARTITION BY event_type ORDER BY day
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_scaled
      FROM c
    )
    SELECT event_type, day, cnt, CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           CASE WHEN cusum_scaled > {h} * n_buckets THEN 1 ELSE 0 END AS alarm
    FROM s
""".format(h=_CUSUM_H_MULT)


@query("evt_cusum_changepoint", oracle=_CUSUM_ORACLE, tags=("events", "anomaly"))
def evt_cusum_changepoint(spark, sf_dir):
    """CUSUM CHANGEPOINT DETECTION (Page 1954) over daily event counts
    per type — the sequential drift detector next to the pointwise
    z-score screen (evt_anomaly_zscore): a run of slightly-elevated
    days accumulates and alarms even though no single day is a z-score
    outlier.

    The recurrence s_t = max(0, s_{t-1} + y_t) is NOT computed as a
    sequential fold: it collapses to the closed form
    s_t = cum_t - min(0, min_{j<=t} cum_j), i.e. a running sum minus a
    running minimum — two stock window frames, fully parallel within
    each partition's sort. Everything stays integer: deviations are
    scaled by the bucket count (y_d = n·cnt_d - total, which sums to
    zero) so no mean division ever happens; the alarm threshold
    scales identically.

    Scale shape: one groupBy to daily counts, broadcast per-type
    stats, then per-type windows over BOUNDED partitions (buckets per
    type = days in range, not events — a hot type costs nothing).
    Observed buckets only; compose with ts_resample_gapfill first for
    a dense grid.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    y = daily.join(F.broadcast(stats), "event_type").withColumn(
        "yv", F.col("n_buckets") * F.col("cnt") - F.col("total")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = y.withColumn("cum", F.sum("yv").over(w))
    s = c.withColumn(
        "cusum_scaled",
        F.col("cum")
        - F.least(F.lit(0).cast("bigint"), F.min("cum").over(w)),
    )
    return s.select(
        "event_type",
        "day",
        "cnt",
        "cusum_scaled",
        F.when(
            F.col("cusum_scaled") > _CUSUM_H_MULT * F.col("n_buckets"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("alarm"),
    )


# ---------------------------------------------------------------------------
# Event path analysis: Markov transition matrix
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), totals AS (
      SELECT from_type, CAST(sum(cnt) AS BIGINT) AS from_total FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.cnt, tot.from_total,
           CAST(t.cnt AS DOUBLE) / CAST(tot.from_total AS DOUBLE) AS p
    FROM trans t JOIN totals tot USING (from_type)
"""


@query("evt_markov_transitions", oracle=_MARKOV_ORACLE, tags=("events", "paths"))
def evt_markov_transitions(spark, sf_dir):
    """EVENT PATH ANALYSIS: the first-order Markov transition matrix of
    user journeys — for every (from, to) event-type pair, how often a
    user's next action follows the current one, with the conditional
    probability P(to | from) — the model under "what do users do after
    an error?" and journey-simulation questions (funnels fix the path;
    this measures ALL paths). Exact counts, one IEEE division.

    Scale shape: the lead() window is partitioned BY USER and ordered
    by (ts, event_id) — per-user state only, the same bounded shape as
    evt_sessionize; transitions aggregate to |types|² rows with
    map-side combine; the from-state totals re-aggregate that tiny
    matrix and broadcast back.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    trans = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("cnt").cast("bigint").alias("from_total")
    )
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "cnt",
        "from_total",
        (F.col("cnt").cast("double") / F.col("from_total").cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Time-decayed aggregate with exactly-representable dyadic decay
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
    WITH base AS (
      SELECT event_type,
             CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS BIGINT) AS cents,
             date_diff('day', CAST(ts AS DATE),
                       (SELECT max(CAST(ts AS DATE)) FROM events)) AS age_days
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(age_days) AS BIGINT) AS max_age,
           CAST(sum(CAST(cents * (CAST(1 AS BIGINT) << (40 - age_days)) AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE) AS decayed_cents
    FROM base
    GROUP BY event_type
"""


@query("evt_time_decayed_value", oracle=_DECAY_ORACLE, tags=("events", "decay"))
def evt_time_decayed_value(spark, sf_dir):
    """TIME-DECAYED VALUE per event type with half-life 1 day — the
    recency-weighted score under trending/decay rankings — computed
    with EXACTLY-REPRESENTABLE arithmetic: weight 2^-age is dyadic, so
    the decayed sum is an exact BIGINT of cents·2^(40-age) (ages span
    ≤31 days) accumulated in DECIMAL(38,0), and the final
    value is ONE double division by 2^40. No pow(), no float
    summation-order drift — the sum is integer associativity-exact on
    any partitioning, unlike the textbook exp(-λ·age) form. The same
    trick generalizes to any power-of-two half-life.

    Scale shape: the max date is a broadcast 1-row aggregate; weights
    are map-side bit shifts; one partial-agg groupBy.
    """
    e = t(spark, sf_dir, "events")
    max_day = e.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    base = e.crossJoin(F.broadcast(max_day)).select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        F.datediff(F.col("maxd"), F.col("ts").cast("date")).alias("age_days"),
    )
    # per-row products fit int64 (cents·2^40 ≤ ~1e17) but corpus-scale
    # SUMS do not — the accumulator is DECIMAL(38,0), exact in both
    # engines, cast to double only at the end (the repo's decimal-sum
    # discipline)
    scaled = F.expr(
        "CAST(cents * shiftleft(CAST(1 AS BIGINT), 40 - age_days) AS DECIMAL(38,0))"
    )
    return base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("age_days").cast("bigint").alias("max_age"),
        (F.sum(scaled).cast("double") / F.lit(float(1 << 40))).alias("decayed_cents"),
    )


# ---------------------------------------------------------------------------
# Exact rolling 7-day distinct users
# ---------------------------------------------------------------------------

_ROLLING_DAU_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), win AS (
      SELECT DISTINCT user_id, day + to_days(CAST(u.off AS INTEGER)) AS wday
      FROM ud, UNNEST(range(0, 7)) AS u(off)
    ), bounds AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM ud
    )
    SELECT strftime(w.wday, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS distinct_users_7d
    FROM win w, bounds b
    WHERE w.wday BETWEEN b.d0 AND b.d1
    GROUP BY w.wday
"""


@query("evt_rolling_distinct_users", oracle=_ROLLING_DAU_ORACLE, tags=("events", "distinct"))
def evt_rolling_distinct_users(spark, sf_dir):
    """EXACT ROLLING 7-DAY DISTINCT USERS (the WAU curve): for every
    day, how many distinct users were active in the trailing week.
    Sliding DISTINCT does not decompose into window sums — the classic
    "can't window this" aggregate — so the plan inverts membership:
    each (user, active-day) pair CONTRIBUTES itself to the 7 window
    days it falls in (a bounded ×7 map-side explode of the already
    tiny distinct pairs), and the per-day count is then an ordinary
    distinct count. Exact, no sketch, no quadratic self-join.

    Scale shape: the corpus collapses to distinct (user, day) in one
    partial-agg pass; everything after is |users|·|days|-sized. The
    HLL-mergeable variant (sketch_hll_mergeable) is the O(1)-space
    sibling when exactness can be traded.
    """
    e = t(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    bounds = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    win = (
        ud.select(
            "user_id",
            F.explode(
                F.array(*[F.date_add(F.col("day"), off) for off in range(7)])
            ).alias("wday"),
        )
        .distinct()
    )
    return (
        win.crossJoin(F.broadcast(bounds))
        .where((F.col("wday") >= F.col("d0")) & (F.col("wday") <= F.col("d1")))
        .groupBy(F.date_format("wday", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").cast("bigint").alias("distinct_users_7d"))
    )
