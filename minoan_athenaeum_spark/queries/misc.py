"""Remaining relational surface: pivot, lateral explode, arg-extremes,
ordered string aggregation, LIKE family, deterministic sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.queries._util import t
from minoan_athenaeum_spark.registry import query


@query(
    "misc_pivot_api",
    oracle="""
    SELECT l_returnflag AS rflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS f_qty,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS o_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("pivot",),
)
def misc_pivot_api(spark, sf_dir):
    """groupBy().pivot() with explicit pivot values (one-pass plan; the
    explicit value list avoids the extra distinct-scan Spark needs to
    discover pivot columns — at 100 TB, always pass the values)."""
    li = t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy(F.col("l_returnflag").alias("rflag"))
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double"))
    )
    return p.select("rflag", F.col("F").alias("f_qty"), F.col("O").alias("o_qty"))


@query(
    "misc_lateral_explode",
    oracle=r"""
    SELECT doc_id, tok, CAST(pos AS INTEGER) AS pos
    FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(lower(trim(text)), '\s+'), 1) - 1 AS pos
      FROM documents WHERE doc_id < 20
    )
    WHERE tok LIKE 's%'
    """,
    tags=("explode", "lateral"),
)
def misc_lateral_explode(spark, sf_dir):
    """posexplode (lateral unnest with ordinality): token stream with
    positions, filtered post-explode."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    ex = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    return ex.filter(F.col("tok").startswith("s")).select("doc_id", "tok", "pos")


@query(
    "misc_arg_extremes",
    oracle="""
    SELECT c_mktsegment AS seg,
           arg_max(c_name, c_acctbal) AS richest,
           arg_min(c_name, c_acctbal) AS poorest,
           MAX(c_acctbal) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("agg", "argmax"),
)
def misc_arg_extremes(spark, sf_dir):
    """max_by/min_by (arg_max/arg_min). c_acctbal values are unique per
    segment in this data, so the result is deterministic."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.max_by("c_name", "c_acctbal").alias("richest"),
        F.min_by("c_name", "c_acctbal").alias("poorest"),
        F.max("c_acctbal").alias("max_bal"),
    )


@query(
    "misc_string_agg_sorted",
    oracle="""
    SELECT n_regionkey AS rkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
    tags=("agg", "string-agg"),
)
def misc_string_agg_sorted(spark, sf_dir):
    """Ordered string aggregation (collect → sort → join keeps it
    deterministic and engine-portable)."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("rkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names")
    )


@query(
    "misc_like_family",
    oracle="""
    SELECT p_partkey AS pkey, p_name AS pname
    FROM part
    WHERE p_name LIKE '%widget%' AND p_brand NOT LIKE '%#1_'
      AND regexp_matches(p_type, '^(STANDARD|SMALL)')
    """,
    tags=("filter", "like"),
)
def misc_like_family(spark, sf_dir):
    """LIKE / NOT LIKE / regex predicate filters."""
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%widget%")
        & ~F.col("p_brand").like("%#1_")
        & F.col("p_type").rlike("^(STANDARD|SMALL)")
    ).select(F.col("p_partkey").alias("pkey"), F.col("p_name").alias("pname"))


@query(
    "misc_deterministic_sample",
    oracle="""
    SELECT o_orderkey AS okey, o_totalprice AS price
    FROM orders WHERE (o_orderkey * 37 + 11) % 100 < 7
    """,
    tags=("sample",),
)
def misc_deterministic_sample(spark, sf_dir):
    """Deterministic ~7% sample via modular arithmetic on the key —
    reproducible across engines/runs (unlike TABLESAMPLE), the standard
    trick for repeatable pipeline sampling at scale."""
    o = t(spark, sf_dir, "orders")
    return o.filter((F.col("o_orderkey") * 37 + 11) % 100 < 7).select(
        F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price")
    )


_FUZZY_ORACLE = """
    SELECT a.c_custkey AS a, b.c_custkey AS b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a, customer b
    WHERE a.c_custkey < b.c_custkey
      AND a.c_custkey < 400 AND b.c_custkey < 400
      AND levenshtein(a.c_name, b.c_name) <= 1
"""


@query("misc_fuzzy_join_dist1", oracle=_FUZZY_ORACLE, tags=("fuzzy", "join"))
def misc_fuzzy_join_dist1(spark, sf_dir):
    """FUZZY SELF-JOIN (edit distance <= 1) on customer names via
    FastSS deletion neighborhoods (operators/fuzzy.py) — entity
    resolution's core primitive, which Spark has no operator for and
    the naive O(n²) levenshtein cross join cannot deliver at scale.
    Candidates come from an equi-join on 0/1-deletion variants (a
    provable dist<=1 superset), then the built-in levenshtein verifies
    — so the result EQUALS the brute-force definition, which is
    exactly what the oracle computes (bounded to custkey < 400 so the
    oracle's quadratic pass stays cheap; the Spark side never goes
    quadratic at any size)."""
    from minoan_athenaeum_spark.operators.fuzzy import fuzzy_self_join_dist1

    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 400)
        .select("c_custkey", "c_name")
    )
    return fuzzy_self_join_dist1(c, "c_custkey", "c_name")


@query(
    "misc_surrogate_keys",
    oracle="""
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS sk
    FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("misc", "surrogate-keys"),
)
def misc_surrogate_keys(spark, sf_dir):
    """DENSE SURROGATE-KEY ASSIGNMENT: contiguous 1..n ids in a stable
    total order — the warehouse-load primitive Spark has no safe
    primitive for (``monotonically_increasing_id`` leaves gaps and is
    partitioning-dependent; a global ``row_number()`` window collapses
    the dataset onto one reducer). Uses the grouped two-phase rank with
    an empty group list: range-partition on the order key, local row
    numbers, tiny broadcast offsets — the same id every run, at any
    parallelism."""
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderdate")
    )
    ranked = grouped_two_phase_rank(
        o, [], ["o_orderdate", "o_orderkey"], out_col="sk"
    )
    return ranked.select("o_orderkey", "sk")


_ENTITY_RES_ORACLE = """
    WITH RECURSIVE pairs AS (
      SELECT a.c_custkey AS a, b.c_custkey AS b
      FROM customer a, customer b
      WHERE a.c_custkey < b.c_custkey
        AND a.c_custkey < 400 AND b.c_custkey < 400
        AND levenshtein(a.c_name, b.c_name) <= 1
    ), edges AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
    ), reach(src, dst) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ), comp AS (
      SELECT r.src AS node, LEAST(r.src, MIN(r.dst)) AS canonical
      FROM reach r GROUP BY r.src
    )
    SELECT c.c_custkey,
           CAST(COALESCE(p.canonical, c.c_custkey) AS BIGINT) AS canonical_id
    FROM customer c LEFT JOIN comp p ON p.node = c.c_custkey
    WHERE c.c_custkey < 400
"""


@query("misc_entity_resolution", oracle=_ENTITY_RES_ORACLE, tags=("entity", "fuzzy", "components"))
def misc_entity_resolution(spark, sf_dir):
    """ENTITY RESOLUTION capstone — the composition every master-data
    pipeline runs: fuzzy candidate pairs (FastSS deletion-neighborhood
    join, edit distance <= 1) feed connected components (large-star /
    small-star contraction — O(log²) rounds, no chain-length
    dependence), and every record maps to the minimum reachable id as
    its canonical entity; singletons canonicalize to themselves. The
    oracle replays the definition: brute-force levenshtein pairs + a
    recursive-CTE transitive closure.

    Scale shape: both stages are the already-probed operators — the
    fuzzy join is variant-equi-join + verify (never quadratic), the
    clustering is the contraction that survives adversarial chains
    (typo ladders ARE long chains: name₀→name₁→… each within distance
    1 — exactly the diameter hazard star contraction removes)."""
    from minoan_athenaeum_spark.operators.components import (
        connected_components_star,
    )
    from minoan_athenaeum_spark.operators.fuzzy import fuzzy_self_join_dist1

    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 400)
        .select("c_custkey", "c_name")
    )
    pairs = fuzzy_self_join_dist1(c, "c_custkey", "c_name").select("a", "b")
    comps = connected_components_star(pairs, src="a", dst="b")
    return (
        c.join(
            comps.select(
                F.col("node").alias("c_custkey"),
                F.col("comp").alias("canonical"),
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce(F.col("canonical"), F.col("c_custkey")).alias(
                "canonical_id"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Association-rule mining (market-basket) over order line items
# ---------------------------------------------------------------------------

_RULES_ORACLE = """
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM basket
    ), sup1 AS (
      SELECT item, CAST(count(*) AS BIGINT) AS sup FROM basket GROUP BY 1
    ), sup2 AS (
      SELECT a.item AS ante, b.item AS cons, CAST(count(*) AS BIGINT) AS sup_ab
      FROM basket a JOIN basket b ON a.okey = b.okey AND a.item != b.item
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT s.ante, s.cons, s.sup_ab,
           sa.sup AS sup_ante, sc.sup AS sup_cons,
           CAST(s.sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS confidence,
           (CAST(s.sup_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(sa.sup AS DOUBLE) * CAST(sc.sup AS DOUBLE)) AS lift
    FROM sup2 s
    JOIN sup1 sa ON sa.item = s.ante
    JOIN sup1 sc ON sc.item = s.cons, n
    ORDER BY lift DESC, s.ante, s.cons
    LIMIT 20
"""


@query("misc_association_rules", oracle=_RULES_ORACLE, tags=("mining", "rules"))
def misc_association_rules(spark, sf_dir):
    """ASSOCIATION-RULE MINING (Agrawal-Srikant market-basket): for
    part pairs co-occurring in >= 3 order baskets, rule a -> b with
    support, confidence = sup(ab)/sup(a), lift =
    sup(ab)·N / (sup(a)·sup(b)); top 20 by (lift, ante, cons).

    Confidence and lift are single IEEE double divisions /
    multiplications of exact integer counts in fixed literal order —
    bit-portable, no float sums.

    Scale shape: the pair expansion is the bounded per-basket
    self-join (join key = orderkey, so a basket's items meet only each
    other — O(items²) per ORDER, never per table; same argument as
    queries/graph.py's edge derivation). Item supports are a
    vocabulary-sized table, BROADCAST into the pair supports. The
    min-support HAVING prunes before the broadcast joins. Top-20 is
    TakeOrderedAndProject.
    """
    li = t(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    ).distinct()
    n = basket.agg(F.countDistinct("okey").cast("bigint").alias("n_orders"))
    sup1 = basket.groupBy("item").agg(F.count("*").cast("bigint").alias("sup"))
    a, b = basket.alias("a"), basket.alias("b")
    sup2 = (
        a.join(b, "okey")
        .where(F.col("a.item") != F.col("b.item"))
        .groupBy(F.col("a.item").alias("ante"), F.col("b.item").alias("cons"))
        .agg(F.count("*").cast("bigint").alias("sup_ab"))
        .where(F.col("sup_ab") >= 3)
    )
    sa = sup1.select(F.col("item").alias("ante"), F.col("sup").alias("sup_ante"))
    sc = sup1.select(F.col("item").alias("cons"), F.col("sup").alias("sup_cons"))
    out = (
        sup2.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            "sup_ab",
            "sup_ante",
            "sup_cons",
            (
                F.col("sup_ab").cast("double") / F.col("sup_ante").cast("double")
            ).alias("confidence"),
            (
                (F.col("sup_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("sup_ante").cast("double") * F.col("sup_cons").cast("double"))
            ).alias("lift"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "ante", "cons").limit(20)


# ---------------------------------------------------------------------------
# Corpus snapshot diff (dataset-version comparison)
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = r"""
    WITH a AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    ), b AS (
      -- snapshot B derived deterministically from A: every doc_id%23==0
      -- dropped, every doc_id%17==0 edited (suffix appended), rest kept
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' v2-edit')
                  ELSE md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) END AS fp
      FROM documents WHERE doc_id % 23 != 0
      UNION ALL
      -- and brand-new docs minted for B (ids offset past A's range)
      SELECT doc_id + 10000000, md5('new-doc-' || CAST(doc_id AS VARCHAR)) AS fp
      FROM documents WHERE doc_id % 31 = 0
    ), j AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.doc_id IS NULL THEN 'added'
                  WHEN a.fp != b.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM j GROUP BY status
"""


@query("misc_snapshot_diff", oracle=_SNAPDIFF_ORACLE, tags=("maintenance", "diff"))
def misc_snapshot_diff(spark, sf_dir):
    """DATASET SNAPSHOT DIFF — the version-comparison primitive under
    corpus curation audits ("what changed between crawl N and N+1?"):
    full-outer join two snapshots on the stable key, classify each row
    added / removed / changed / unchanged by content fingerprint, and
    aggregate per class. Snapshot B is derived deterministically
    in-query (docs dropped at doc_id%23, edited at doc_id%17 — same
    synthetic-derivation discipline as pipeline_pii_redact's injected
    PII), so the classification logic is exercised on all four paths
    and the gate pins every class count and id range.

    Scale shape: fingerprints are map-only md5 projections; ONE
    doc_id-keyed full-outer shuffle joins the snapshots (with both
    sides bucketed on the key it would be shuffle-free — see
    operators/bucketing.py); text never shuffles, only (id, fp) pairs.
    """
    from minoan_athenaeum_spark.operators.dedup import normalized

    docs = t(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5(normalized()).alias("fp"))
    b = (
        docs.where(F.col("doc_id") % 23 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 0,
                F.md5(F.concat(normalized(), F.lit(" v2-edit"))),
            )
            .otherwise(F.md5(normalized()))
            .alias("fp"),
        )
        .unionAll(
            docs.where(F.col("doc_id") % 31 == 0).select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                F.md5(
                    F.concat(F.lit("new-doc-"), F.col("doc_id").cast("string"))
                ).alias("fp"),
            )
        )
    )
    j = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
        .select(
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            F.when(F.col("b.doc_id").isNull(), F.lit("removed"))
            .when(F.col("a.doc_id").isNull(), F.lit("added"))
            .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )
    return j.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view (delta processing)
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
    WITH base_o AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 97 != 0
    ), delta_o AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 97 = 0
    ), base_l AS (
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 89 != 0
    ), delta_l AS (
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 89 = 0
    ), v_base AS (
      SELECT o_orderkey, l_linenumber FROM base_o JOIN base_l ON o_orderkey = l_orderkey
    ), d_ob AS (
      SELECT o_orderkey, l_linenumber FROM delta_o JOIN base_l ON o_orderkey = l_orderkey
    ), d_bo AS (
      SELECT o_orderkey, l_linenumber FROM base_o JOIN delta_l ON o_orderkey = l_orderkey
    ), d_oo AS (
      SELECT o_orderkey, l_linenumber FROM delta_o JOIN delta_l ON o_orderkey = l_orderkey
    ), incr AS (
      SELECT * FROM v_base UNION ALL SELECT * FROM d_ob
      UNION ALL SELECT * FROM d_bo UNION ALL SELECT * FROM d_oo
    ), direct AS (
      SELECT o_orderkey, l_linenumber FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v_base) AS n_base,
           (SELECT CAST(count(*) AS BIGINT) FROM d_ob) AS n_delta_o_base_l,
           (SELECT CAST(count(*) AS BIGINT) FROM d_bo) AS n_base_o_delta_l,
           (SELECT CAST(count(*) AS BIGINT) FROM d_oo) AS n_delta_both,
           (SELECT CAST(count(*) AS BIGINT) FROM incr) AS n_incremental,
           (SELECT CAST(count(*) AS BIGINT) FROM direct) AS n_direct,
           CASE WHEN (SELECT count(*) FROM incr) = (SELECT count(*) FROM direct)
                THEN 1 ELSE 0 END AS counts_equal,
           CASE WHEN (SELECT CAST(coalesce(bit_xor(xor(o_orderkey * 131071, CAST(l_linenumber AS BIGINT))), 0) AS BIGINT) FROM incr)
                   = (SELECT CAST(coalesce(bit_xor(xor(o_orderkey * 131071, CAST(l_linenumber AS BIGINT))), 0) AS BIGINT) FROM direct)
                THEN 1 ELSE 0 END AS checksums_equal
"""


@query("misc_incremental_join_view", oracle=_IVM_ORACLE, tags=("maintenance", "ivm"))
def misc_incremental_join_view(spark, sf_dir):
    """INCREMENTAL VIEW MAINTENANCE for a JOIN view — the delta-
    processing algebra under every "refresh the joined table without
    recomputing it" pipeline (and the batch sibling of the repo's
    aggregate IVM in stream_rollup_refresh_exec):

        Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    Orders/lineitem split deterministically into base + delta; the
    view updated incrementally from the three delta joins must equal
    the direct full recompute EXACTLY — pinned by both a count
    equality and an order-independent xor checksum over the join keys
    (verdicts hard-1 in the oracle, so any dropped or duplicated
    delta row flips the gate).

    Scale shape: the whole point of IVM — the three delta joins touch
    |Δ| rows, not |V|; each is an equi-join on orderkey (broadcastable
    when deltas are small, co-partitioned when the base is bucketed on
    the key, as operators/bucketing.py writes it). The verdict-side full
    recompute exists only to certify the algebra at test SF.
    """
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    base_o = orders.where(F.col("o_orderkey") % 97 != 0)
    delta_o = orders.where(F.col("o_orderkey") % 97 == 0)
    base_l = li.where(F.col("l_orderkey") % 89 != 0)
    delta_l = li.where(F.col("l_orderkey") % 89 == 0)

    def j(a, b):
        return a.join(b, F.col("o_orderkey") == F.col("l_orderkey")).select(
            "o_orderkey", "l_linenumber"
        )

    v_base, d_ob, d_bo, d_oo = (
        j(base_o, base_l), j(delta_o, base_l), j(base_o, delta_l), j(delta_o, delta_l),
    )
    incr = v_base.unionAll(d_ob).unionAll(d_bo).unionAll(d_oo)
    direct = j(orders, li)

    def stats(df, n_alias, x_alias):
        return df.agg(
            F.count("*").cast("bigint").alias(n_alias),
            F.coalesce(
                F.expr(
                    "CAST(bit_xor(CAST(o_orderkey * 131071 AS BIGINT) ^ CAST(l_linenumber AS BIGINT)) AS BIGINT)"
                ),
                F.lit(0).cast("bigint"),
            ).alias(x_alias),
        )

    counts = (
        v_base.agg(F.count("*").cast("bigint").alias("n_base"))
        .crossJoin(F.broadcast(d_ob.agg(F.count("*").cast("bigint").alias("n_delta_o_base_l"))))
        .crossJoin(F.broadcast(d_bo.agg(F.count("*").cast("bigint").alias("n_base_o_delta_l"))))
        .crossJoin(F.broadcast(d_oo.agg(F.count("*").cast("bigint").alias("n_delta_both"))))
        .crossJoin(F.broadcast(stats(incr, "n_incremental", "x_incr")))
        .crossJoin(F.broadcast(stats(direct, "n_direct", "x_direct")))
    )
    return counts.select(
        "n_base",
        "n_delta_o_base_l",
        "n_base_o_delta_l",
        "n_delta_both",
        "n_incremental",
        "n_direct",
        F.when(F.col("n_incremental") == F.col("n_direct"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("counts_equal"),
        F.when(F.col("x_incr") == F.col("x_direct"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("checksums_equal"),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = r"""
    WITH pts AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS x,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS y
      FROM documents
    )
    SELECT p.doc_id, p.x, p.y
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y)
    )
"""


@query("misc_skyline_pareto", oracle=_SKYLINE_ORACLE, tags=("mining", "skyline"))
def misc_skyline_pareto(spark, sf_dir):
    """2-D SKYLINE / PARETO FRONTIER (Börzsönyi et al., ICDE 2001):
    documents not strictly dominated on (token count, punctuation
    count) — the multi-criteria shortlist operator ("longest AND most
    punctuated" stands in for any quality/length/freshness trade-off).
    The oracle is the literal quadratic NOT EXISTS dominance test; the
    Spark plan is NOT: in 2-D, dominance collapses to a strict-suffix
    running max over x plus a same-x group max
    (operators/skyline.py::skyline_2d) — one range partition, bounded
    windows, a broadcast partition summary, ZERO pairwise joins.

    Scale shape: two-phase suffix max (the global_cumsum shape) —
    range-partition by x so each partition computes a local suffix max,
    then a |partitions|-row summary broadcasts back. O(n) total work
    vs the oracle's O(n²).
    """
    from minoan_athenaeum_spark.operators.skyline import skyline_2d
    from minoan_athenaeum_spark.operators.text import punct_count, token_count

    pts = t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count().cast("bigint").alias("x"),
        punct_count().cast("bigint").alias("y"),
    )
    return skyline_2d(pts, "x", "y")


# ---------------------------------------------------------------------------
# Join-key skew diagnostics
# ---------------------------------------------------------------------------

_SKEWDIAG_ORACLE = """
    WITH freq AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM freq
    ), top AS (
      SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rk
      FROM freq
    )
    SELECT t.key, t.cnt, t.rk,
           CAST(t.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share,
           CAST(t.cnt * tot.n_keys AS DOUBLE) / CAST(tot.n AS DOUBLE) AS x_mean,
           tot.n_keys, tot.n AS n_rows
    FROM top t, tot
    WHERE t.rk <= 10
"""


@query("misc_skew_diagnostics", oracle=_SKEWDIAG_ORACLE, tags=("maintenance", "skew"))
def misc_skew_diagnostics(spark, sf_dir):
    """JOIN-KEY SKEW DIAGNOSTICS: the pre-flight report run before
    choosing a join strategy — top-10 hottest values of a prospective
    join key (l_suppkey) with each key's share of all rows and its
    multiple of the mean key frequency (x_mean > ~5 is the usual
    "salt or AQE-skew-split this" signal; the mitigations themselves
    are operators/skew.py and the AQE skew-join A/B in BASELINE.md).
    Exact integer counts, single IEEE divisions.

    Scale shape: one partial-agg groupBy on the key, then
    TakeOrdered(10) over the (already small) per-key frequency table;
    the 1-row totals broadcast.
    """
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = freq.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    top = (
        freq.orderBy(F.col("cnt").desc(), "key")
        .limit(10)
        .withColumn("rk", F.row_number().over(W.orderBy(F.col("cnt").desc(), "key")))
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "key",
        "cnt",
        "rk",
        (F.col("cnt").cast("double") / F.col("n").cast("double")).alias("share"),
        (
            (F.col("cnt") * F.col("n_keys")).cast("double") / F.col("n").cast("double")
        ).alias("x_mean"),
        "n_keys",
        F.col("n").alias("n_rows"),
    )
