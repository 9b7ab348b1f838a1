"""Statistical aggregates, grouping sets, and remaining join types.

Variance/stddev/correlation are computed from exact INTEGER-CENTS
power sums (Σx, Σx², Σxy in DECIMAL(38,0)) cast to double at the end —
the engines' built-in moment aggregations use different summation
orders (not reproducible), power sums are exact, and the final double
formula is deterministic IEEE arithmetic. Integer-valued (scale-0)
decimals are load-bearing: a DECIMAL(·,k>0) → DOUBLE conversion is
double-rounded in DuckDB (hugeint→double, then /10^k) but
single-rounded on the JVM — stat_group_ols caught a real 1-ulp
divergence on exactly that path. This is also how the partial/merge
phases work at scale: power sums are associative, so the map-side
partial aggregation Spark plans for them is exact too.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.queries._util import dec, t
from minoan_athenaeum_spark.registry import query


@query(
    "stat_variance_stddev",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS rflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc
      FROM lineitem
    ), s AS (
      SELECT rflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM c GROUP BY rflag
    )
    SELECT rflag, n,
           ((sxx - sx * sx / n) / (n - 1)) / 10000.0 AS var_qty,
           sqrt(((sxx - sx * sx / n) / (n - 1)) / 10000.0) AS std_qty
    FROM s
    """,
    tags=("stats", "agg"),
)
def stat_variance_stddev(spark, sf_dir):
    """Sample variance/stddev of quantity per return flag via exact
    power sums (see module docstring)."""
    li = t(spark, sf_dir, "lineitem")
    xc = (dec(F.col("l_quantity"), 12, 2) * 100).cast("bigint")
    c = li.select(F.col("l_returnflag").alias("rflag"), xc.alias("xc"))
    s = c.groupBy("rflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum((F.col("xc") * F.col("xc")).cast("decimal(38,0)")).cast("double").alias("sxx"),
    )
    var = (
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    ) / 10000.0
    return s.select("rflag", "n", var.alias("var_qty"), F.sqrt(var).alias("std_qty"))


@query(
    "stat_correlation",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
      FROM lineitem
    ), s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM c
    )
    SELECT n,
           (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    """,
    tags=("stats", "agg"),
)
def stat_correlation(spark, sf_dir):
    """Pearson correlation of quantity vs extended price from exact
    power sums (single-pass, associative — one shuffle of 6 numbers)."""
    li = t(spark, sf_dir, "lineitem")
    c = li.select(
        (dec(F.col("l_quantity"), 12, 2) * 100).cast("bigint").alias("xc"),
        (dec(F.col("l_extendedprice"), 12, 2) * 100).cast("bigint").alias("yc"),
    )
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("yc").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("xc") * F.col("xc")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((F.col("yc") * F.col("yc")).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((F.col("xc") * F.col("yc")).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return s.select("n", corr.alias("corr_qty_price"))


@query(
    "agg_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    tags=("agg", "flagship"),
)
def agg_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecasting revenue change — pure scan+filter+agg; every
    predicate pushes to parquet (row-group min/max skipping at scale)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(dec(F.col("l_extendedprice"), 12, 2) * dec(F.col("l_discount"), 6, 2))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("cnt"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS cnt,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with GROUPING() markers (SQL API — the
    orders DataFrame is passed to spark.sql as an argument, so no
    session view is touched; same Catalyst plan as the DSL)."""
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               COUNT(*) AS cnt,
               CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_priority
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=t(spark, sf_dir, "orders"),
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(a.nk, b.nk) AS nk,
           a.n_cust AS n_cust, b.n_supp AS n_supp
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier WHERE s_acctbal > 3000 GROUP BY 1) b
      ON a.nk = b.nk
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark, sf_dir):
    """FULL OUTER join of two aggregates (reference is inner-only —
    extension surface)."""
    a = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    b = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 3000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return a.join(b, "nk", "full_outer").select(
        F.col("nk"), F.col("n_cust"), F.col("n_supp")
    )


@query(
    "stat_exact_median",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment AS seg, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT seg,
           CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN c_acctbal ELSE 0 END)
                / COUNT(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN 1 END) AS DOUBLE) AS median_bal
    FROM r GROUP BY seg
    """,
    tags=("stats", "median"),
)
def stat_exact_median(spark, sf_dir):
    """Exact median per group via rank selection (engine-portable:
    built-in medians differ in interpolation; selecting the middle
    rank(s) and averaging is deterministic). Distributed shape: one
    shuffle on the group key, no global sort."""
    from pyspark.sql import Window as W

    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = W.partitionBy("c_mktsegment")
    r = c.select(
        F.col("c_mktsegment").alias("seg"),
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    is_mid = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("n") + 2) / 2)
    )
    return r.groupBy("seg").agg(
        (
            F.sum(F.when(is_mid, F.col("c_acctbal")).otherwise(0.0))
            / F.count(F.when(is_mid, 1))
        )
        .cast("double")
        .alias("median_bal")
    )


@query(
    "agg_count_if_bool",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "conditional"),
)
def agg_count_if_bool(spark, sf_dir):
    """count_if / bool_and / bool_or conditional aggregates."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
    )


_EQUIDEPTH_ORACLE = """
    WITH r AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS dv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(value AS DECIMAL(12,2)), event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, CAST((rn - 1) * 8 // n + 1 AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(dv) AS DOUBLE) AS lo,
           CAST(MAX(dv) AS DOUBLE) AS hi
    FROM r GROUP BY event_type, (rn - 1) * 8 // n + 1
"""


@query("stat_equidepth_histogram", oracle=_EQUIDEPTH_ORACLE, tags=("stats", "histogram"))
def stat_equidepth_histogram(spark, sf_dir):
    """EQUI-DEPTH HISTOGRAM (8 buckets per event type): the optimizer/
    monitoring structure that answers "where does the mass sit" with
    ~equal row counts per bucket and exact value boundaries. Bucket =
    floor((rank-1)·8 / n) over a TOTAL per-type order (decimal value,
    event_id tiebreak) — a pure integer formula both engines compute
    identically.

    Scale shape: the rank comes from operators/scan.py::
    grouped_two_phase_rank, NOT a per-type window — a per-type window
    sorts each type on ONE reducer (79 s at 256× with 5 hot types);
    the two-phase form range-partitions (type, value) so a hot type
    spans many partitions, each sorting only its slice, with tiny
    broadcast offsets stitching global ranks."""
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("dv"),
        "event_id",
    )
    r = grouped_two_phase_rank(
        e, ["event_type"], ["dv", "event_id"], out_col="rn"
    )
    n = r.groupBy("event_type").agg(F.max("rn").alias("n"))
    return (
        r.join(F.broadcast(n), "event_type")
        .withColumn("bucket", F.expr("CAST((rn - 1) * 8 div n + 1 AS INT)"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.min("dv").cast("double").alias("lo"),
            F.max("dv").cast("double").alias("hi"),
        )
    )


_MAD_ORACLE = """
    WITH r AS (
      SELECT c_mktsegment AS seg, c_acctbal, c_custkey,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    ), med AS (
      SELECT seg,
             CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN c_acctbal ELSE 0 END)
                  / COUNT(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN 1 END) AS DOUBLE) AS median_bal
      FROM r GROUP BY seg
    ), dev AS (
      SELECT r.seg, abs(CAST(r.c_acctbal AS DOUBLE) - m.median_bal) AS ad, r.c_custkey
      FROM r JOIN med m ON r.seg = m.seg
    ), r2 AS (
      SELECT seg, ad,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY ad, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY seg) AS n
      FROM dev
    )
    SELECT r2.seg,
           m.median_bal,
           CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN ad ELSE 0 END)
                / COUNT(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN 1 END) AS DOUBLE) AS mad_bal
    FROM r2 JOIN med m ON r2.seg = m.seg
    GROUP BY r2.seg, m.median_bal
"""


@query("stat_median_abs_deviation", oracle=_MAD_ORACLE, tags=("stats", "robust"))
def stat_median_abs_deviation(spark, sf_dir):
    """ROBUST dispersion: median absolute deviation (MAD) of account
    balance per market segment — the outlier-immune alternative to
    stddev (one corrupted balance moves stddev arbitrarily, MAD not at
    all). Two passes of the engine-portable rank-selection median
    (built-in medians differ in interpolation across engines): group
    median, broadcast back, then the median of |x − median| with the
    same selection rule. Each pass is one shuffle on the group key;
    tie-breaks are total (custkey), so both engines select identical
    elements."""
    from pyspark.sql import Window as W

    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("seg").orderBy("c_acctbal", "c_custkey")
    wn = W.partitionBy("seg")
    r = c.select(
        F.col("c_mktsegment").alias("seg"), "c_acctbal", "c_custkey"
    ).withColumns(
        {
            "rn": F.row_number().over(w),
            "n": F.count("*").over(wn),
        }
    )
    is_mid = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("n") + 2) / 2)
    )
    med = r.groupBy("seg").agg(
        (
            F.sum(F.when(is_mid, F.col("c_acctbal")).otherwise(0.0))
            / F.count(F.when(is_mid, 1))
        )
        .cast("double")
        .alias("median_bal")
    )
    dev = (
        r.join(F.broadcast(med), "seg")
        .select(
            "seg",
            "median_bal",
            F.abs(F.col("c_acctbal").cast("double") - F.col("median_bal")).alias("ad"),
            "c_custkey",
        )
    )
    w2 = W.partitionBy("seg").orderBy("ad", "c_custkey")
    r2 = dev.withColumns(
        {
            "rn": F.row_number().over(w2),
            "n": F.count("*").over(wn),
        }
    )
    is_mid2 = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("n") + 2) / 2)
    )
    return r2.groupBy("seg", "median_bal").agg(
        (
            F.sum(F.when(is_mid2, F.col("ad")).otherwise(0.0))
            / F.count(F.when(is_mid2, 1))
        )
        .cast("double")
        .alias("mad_bal")
    )


_QUANTILES_2P_ORACLE = """
    WITH r AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS dv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(value AS DECIMAL(12,2)), event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN dv END) AS DOUBLE) AS p50,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN dv END) AS DOUBLE) AS p95,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN dv END) AS DOUBLE) AS p99
    FROM r GROUP BY event_type
"""


@query("stat_exact_quantiles_two_phase", oracle=_QUANTILES_2P_ORACLE, tags=("stats", "quantiles", "two-phase"))
def stat_exact_quantiles_two_phase(spark, sf_dir):
    """EXACT per-group quantiles (p50/p95/p99, lower-rank convention
    rn = ceil(q·n)) computed with the grouped TWO-PHASE rank instead of
    a per-group window — the plan that still works when one group holds
    billions of rows (a per-group window sorts the whole group on one
    reducer; the two-phase form range-partitions (group, value) so hot
    groups span every core). Selection ranks are exact integer
    arithmetic, values exact decimals cast once to double — the same
    engine-portable convention as stat_exact_median, at the scale-safe
    plan shape."""
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("dv"),
        "event_id",
    )
    r = grouped_two_phase_rank(e, ["event_type"], ["dv", "event_id"], out_col="rn")
    n = r.groupBy("event_type").agg(F.max("rn").alias("n"))
    j = r.join(F.broadcast(n), "event_type")
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("dv"))
    ).cast("double")
    return j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        pick("(n + 1) div 2").alias("p50"),
        pick("(n * 95 + 99) div 100").alias("p95"),
        pick("(n * 99 + 99) div 100").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Winsorization (exact-percentile clipping, feature preprocessing)
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
    WITH r AS (
      SELECT l_returnflag AS rflag, l_extendedprice AS price,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), bounds AS (
      SELECT rflag,
             MAX(CASE WHEN rn = (n - 1) // 20 + 1 THEN price END) AS lo,
             MAX(CASE WHEN rn = (n - 1) * 19 // 20 + 1 THEN price END) AS hi
      FROM r GROUP BY rflag
    )
    SELECT r.rflag,
           CAST(max(r.n) AS BIGINT) AS n_rows,
           b.lo AS p05, b.hi AS p95,
           CAST(sum(CASE WHEN r.price < b.lo OR r.price > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(sum(CAST(r.price AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw,
           CAST(sum(CAST(least(greatest(r.price, b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized
    FROM r JOIN bounds b USING (rflag)
    GROUP BY r.rflag, b.lo, b.hi
"""


@query("stat_winsorize", oracle=_WINSOR_ORACLE, tags=("stats", "preprocessing"))
def stat_winsorize(spark, sf_dir):
    """WINSORIZATION — clip a feature to its exact per-group p05/p95
    (rank-selected data values, same convention as stat_exact_median):
    the outlier-robust feature-preprocessing step before scaling or
    regression. Output per group: the exact clip bounds, how many rows
    clipped, and DECIMAL-exact sums before/after (the value-hash gate
    therefore pins every single clipped value).

    Scale shape: the per-group rank is the TWO-PHASE range-partitioned
    rank (operators/scan.py::grouped_two_phase_rank) — three return
    flags over 153.6M rows through the plain window form meant three
    ~50M-row single-reducer sorts (measured 316 s at 256×; the
    two-phase rewrite is the same fix stat_equidepth_histogram uses).
    Group sizes are a tiny broadcast join; the clip itself is a
    map-only broadcast-join projection: bounds are |groups| rows.
    """
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rflag"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = grouped_two_phase_rank(
        li, ["rflag"], ["price", "l_orderkey", "l_linenumber"], out_col="rn"
    )
    sizes = li.groupBy("rflag").agg(F.count("*").alias("n"))
    # only the BOUNDS need the rank; the clip re-reads the raw scan and
    # joins the |groups|-row bounds table — the ranked (range-shuffled)
    # lineage is computed exactly once
    bounds = (
        ranked.join(F.broadcast(sizes), "rflag")
        .groupBy("rflag")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") - 1) / 20) + 1, F.col("price")
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") - 1) * 19 / 20) + 1,
                    F.col("price"),
                )
            ).alias("hi"),
            F.max("n").alias("n"),
        )
    )
    clipped = li.join(F.broadcast(bounds), "rflag").withColumn(
        "wp", F.least(F.greatest(F.col("price"), F.col("lo")), F.col("hi"))
    )
    return clipped.groupBy("rflag", "lo", "hi").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.sum(
            ((F.col("price") < F.col("lo")) | (F.col("price") > F.col("hi"))).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("n_clipped"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("sum_raw"),
        F.sum(F.col("wp").cast("decimal(18,2)")).cast("double").alias("sum_winsorized"),
    ).select(
        "rflag", "n_rows", F.col("lo").alias("p05"), F.col("hi").alias("p95"),
        "n_clipped", "sum_raw", "sum_winsorized",
    )


_WINSOR_APPROX_ORACLE = """
    SELECT l_returnflag AS rflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw,
           CAST(1 AS BIGINT) AS lo_within_bound,
           CAST(1 AS BIGINT) AS hi_within_bound,
           CAST(1 AS BIGINT) AS clip_frac_within_bound
    FROM lineitem GROUP BY 1
"""


@query(
    "stat_winsorize_approx",
    oracle=_WINSOR_APPROX_ORACLE,
    tags=("stats", "preprocessing", "sketch"),
)
def stat_winsorize_approx(spark, sf_dir):
    """WINSORIZATION WITH GK-SKETCH BOUNDS — the 100 TB default.
    ``stat_winsorize``'s exact p05/p95 needs a corpus-wide range sort
    (measured 245 s at 1024×, linear in rows); this variant gets the
    clip bounds from a one-pass Greenwald-Khanna sketch
    (``percentile_approx``, accuracy 10000 ⇒ rank error ≤ n/10000) so
    the plan is two corpus SCANS and ZERO corpus shuffles: pass 1
    map-side partial GK sketches merged per group (|groups| rows),
    pass 2 a broadcast-bounds map-only clip + aggregate. Exact bounds
    stay available as the opt-in (`stat_winsorize`), which also pins
    the clip algebra exactly; the oracle surface here follows the
    sketch convention (`sketch_approx_percentiles`): exact portable
    columns (n_rows, decimal sum_raw) plus 0/1 verdicts that the
    target rank lands inside each bound value's rank INTERVAL
    [count(<bound), count(<=bound)] widened by 0.5%·n (50× the GK
    guarantee) and that the clipped fraction is ~10%. The interval
    form (not a symmetric tolerance on the inclusive count) keeps the
    verdict sound on duplicate-heavy columns: a value duplicated
    across the p05 boundary widens its rank interval, which is the
    sketch behaving correctly, not an accuracy failure.
    """
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rflag"),
        F.col("l_extendedprice").alias("price"),
    )
    # pass 1: one-pass mergeable GK sketch per group — constant memory,
    # bounds are actual data values
    b = li.groupBy("rflag").agg(
        F.percentile_approx("price", [0.05, 0.95], 10000).alias("b")
    ).select("rflag", F.col("b")[0].alias("lo"), F.col("b")[1].alias("hi"))
    # pass 2: broadcast bounds back; clip + rank-verify in ONE map-side
    # partial aggregate (the corpus is scanned, never shuffled)
    j = li.join(F.broadcast(b), "rflag")
    g = j.groupBy("rflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("price").cast("decimal(18,2)")).cast("double").alias("sum_raw"),
        F.sum((F.col("price") < F.col("lo")).cast("bigint")).alias("rk_lo_lt"),
        F.sum((F.col("price") <= F.col("lo")).cast("bigint")).alias("rk_lo_le"),
        F.sum((F.col("price") < F.col("hi")).cast("bigint")).alias("rk_hi_lt"),
        F.sum((F.col("price") <= F.col("hi")).cast("bigint")).alias("rk_hi_le"),
        F.sum(
            ((F.col("price") < F.col("lo")) | (F.col("price") > F.col("hi"))).cast(
                "bigint"
            )
        ).alias("n_clipped"),
    )
    tol = F.lit(0.005) * F.col("n") + 1
    return g.select(
        "rflag",
        F.col("n").cast("bigint").alias("n_rows"),
        "sum_raw",
        (
            (F.col("rk_lo_lt") <= 0.05 * F.col("n") + tol)
            & (F.col("rk_lo_le") >= 0.05 * F.col("n") - tol)
        )
        .cast("bigint")
        .alias("lo_within_bound"),
        (
            (F.col("rk_hi_lt") <= 0.95 * F.col("n") + tol)
            & (F.col("rk_hi_le") >= 0.95 * F.col("n") - tol)
        )
        .cast("bigint")
        .alias("hi_within_bound"),
        (
            (F.col("n_clipped") >= 0.08 * F.col("n") - 2)
            & (F.col("n_clipped") <= 0.12 * F.col("n") + 2)
        )
        .cast("bigint")
        .alias("clip_frac_within_bound"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS regression from exact power sums
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
    WITH c AS (
      SELECT l_returnflag AS rflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS yc
      FROM lineitem
    ), s AS (
      SELECT rflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM c GROUP BY 1
    )
    SELECT rflag, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept_cents,
           (((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (n * sxy - sx * sy))
             / (n * syy - sy * sy) AS r_squared
    FROM s
"""


@query("stat_group_ols", oracle=_OLS_ORACLE, tags=("stats", "regression"))
def stat_group_ols(spark, sf_dir):
    """GROUPED OLS REGRESSION of extended price on quantity per return
    flag — slope, intercept (in cents), R² — entirely from five exact
    power sums (n, Σx, Σy, Σx², Σy², Σxy), ONE partial-agg pass with a
    fixed closed-form expression. The sums run in the INTEGER-CENTS
    domain with DECIMAL(38,0) accumulators — not scale-4 decimals —
    because a DECIMAL(·,4) → DOUBLE conversion is DOUBLE-ROUNDED in
    DuckDB (hugeint→double, then /10⁴) but single-rounded on the JVM
    (BigDecimal.doubleValue), and Σy² here landed exactly on such a
    boundary (1-ulp mismatch, caught by the gate). Integer-valued
    decimals convert with one rounding in both engines; the 100×
    scale cancels out of slope and R² entirely.

    Scale shape: one map-side-combined groupBy; the closed form runs on
    |groups| rows. No solver, no iteration, no second pass.
    """
    li = t(spark, sf_dir, "lineitem")
    d = F.col
    c = li.select(
        F.col("l_returnflag").alias("rflag"),
        (d("l_quantity").cast("decimal(12,2)") * 100).cast("bigint").alias("xc"),
        (d("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").alias("yc"),
    )
    s = c.groupBy("rflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d("xc").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(d("yc").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((d("xc") * d("xc")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((d("yc") * d("yc")).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((d("xc") * d("yc")).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    return s.select(
        "rflag",
        "n",
        slope.alias("slope"),
        ((d("sy") - slope * d("sx")) / d("n")).alias("intercept_cents"),
        (
            (slope * (d("n") * d("sxy") - d("sx") * d("sy")))
            / (d("n") * d("syy") - d("sy") * d("sy"))
        ).alias("r_squared"),
    )
