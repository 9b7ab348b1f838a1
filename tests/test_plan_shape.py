"""Physical-plan shape invariants — the 100 TB design contract.

Correctness tests prove the answers match; these prove the *plans*
stay scale-worthy: filters reach the parquet scan, projections prune
the read schema, small dims broadcast, aggregates have a map-side
partial phase, top-k never global-sorts, and nothing silently becomes
a cartesian product. A regression here is a performance bug even if
all answers remain correct.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from minoan_athenaeum_spark.registry import load_all

SPECS = load_all()


def plan_of(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = SPECS[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "parity_f1_filter_ops")
    # All six comparison ops must reach the parquet scan.
    for frag in (
        "EqualTo(l_returnflag,R)",
        "Not(EqualTo(l_linestatus,X))",
        "GreaterThan(l_quantity,30.0)",
        "GreaterThanOrEqual(l_quantity,31.0)",
        "LessThan(l_linenumber,5)",
        "LessThanOrEqual(l_discount,0.05)",
    ):
        assert frag in p, f"predicate not pushed: {frag}"
    # Projection pruning: untouched wide columns must not be read.
    assert "l_partkey" not in p and "l_shipdate" not in p


def test_q1_partial_aggregation(spark, sf_dir):
    p = plan_of(spark, sf_dir, "agg_tpch_q1", "simple")
    assert "partial_sum" in p, "no map-side partial aggregation"
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q3_broadcast_and_topk(spark, sf_dir):
    p = plan_of(spark, sf_dir, "agg_tpch_q3_top10")
    assert "BroadcastHashJoin" in p, "customer dim should broadcast"
    assert "TakeOrderedAndProject" in p, "top-k must not global-sort"
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p


def test_equijoin_broadcasts_dim(spark, sf_dir):
    p = plan_of(spark, sf_dir, "parity_j1_equijoin")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_theta_join_is_nested_loop(spark, sf_dir):
    # Theta joins have no hashable key — BroadcastNestedLoopJoin is the
    # correct physical strategy (reference used distinct-key NLJ,
    # /root/reference/database.py:539-617).
    p = plan_of(spark, sf_dir, "parity_j3_theta_self_join")
    assert "BroadcastNestedLoopJoin" in p


def test_dedup_exact_single_shuffle(spark, sf_dir):
    p = plan_of(spark, sf_dir, "dedup_exact", "simple")
    # Fingerprint groupBy: exactly one exchange, with partial aggregation.
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_" in p


def test_knn_no_shuffle_of_corpus(spark, sf_dir):
    # Brute-force kNN: query vector broadcast + TakeOrdered; the corpus
    # itself must not be exchanged.
    p = plan_of(spark, sf_dir, "sim_knn_cosine_brute", "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange hashpartitioning") == 0


def test_window_single_partition_exchange(spark, sf_dir):
    p = plan_of(spark, sf_dir, "win_row_number_topk_per_group", "simple")
    assert "Window" in p
    # One shuffle for the join side at most plus one for the window
    # partition — never a single-partition global window.
    assert "SinglePartition" not in p


def _forced_broadcast_violations(df) -> list[str]:
    """Scan the analyzed logical plan for ResolvedHint(broadcast) nodes
    whose subtree carries a *scaling* table (customer/supplier/part —
    identified by their key attributes) without an intervening
    Aggregate/Deduplicate (summarized relations are bounded and fine to
    broadcast). A forced broadcast of a table that grows with the scale
    factor OOMs at 100× even though answers stay correct."""
    text = df._jdf.queryExecution().analyzed().toString()
    lines = text.splitlines()

    def depth(line: str) -> int:
        m = len(line) - len(line.lstrip(" :+-"))
        return m // 3

    scaling_markers = ("c_custkey", "s_suppkey", "p_partkey")
    violations = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "roadcast" not in line:
            continue
        d = depth(line)
        subtree = []
        for sub in lines[i + 1 :]:
            if depth(sub) <= d:
                break
            subtree.append(sub)
        body = "\n".join(subtree)
        summarized = "Aggregate" in body or "Deduplicate" in body
        hit = [m for m in scaling_markers if m in body]
        if hit and not summarized:
            violations.append(f"broadcast hint over scaling table ({hit})")
    return violations


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q18_large_orders",
        "tpch_q14_promo_ratio",
        "tpch_q19_disjunctive",
        "tpch_q10_returned",
        "tpch_q7_volume_shipping",
        "tpch_q15_top_supplier",
        "tpch_q22_global_scalar_subquery",
        "win_row_number_topk_per_group",
        "parity_j1_equijoin",
        "parity_j9_multiway_join",
        "agg_tpch_q3_top10",
        "agg_tpch_q5_region_revenue",
        "agg_subquery_in",
        "theta_distinct_key_join",
        "theta_count_by_key",
    ],
)
def test_no_forced_broadcast_of_scaling_tables(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    assert not _forced_broadcast_violations(df), (
        f"{name}: F.broadcast() forced on a table that grows with sf — "
        "drop the hint (AQE broadcasts it while it fits) or summarize first"
    )


def test_distinct_key_theta_join_no_row_level_nlj(spark, sf_dir):
    # The distinct-key plan must NLJ only over Deduplicate/Aggregate-
    # summarized key sets; the fan-out back to rows is hash equi-joins.
    p = plan_of(spark, sf_dir, "theta_count_by_key", "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("HashAggregate") >= 4  # two per-side partial+final aggs


@pytest.mark.parametrize(
    "name",
    ["agg_tpch_q1", "parity_f1_filter_ops", "agg_g1_groupby_count_sum"],
)
def test_wholestage_codegen_active(spark, sf_dir, name):
    # AQE finalizes the plan lazily — execute first, then read the final
    # plan (pre-execution explain shows isFinalPlan=false with no
    # codegen markers).
    df = SPECS[name].fn(spark, sf_dir)
    df.collect()  # count() would plan a different query; collect this one
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "*(" in p or "WholeStageCodegen" in p, "hot path fell out of codegen"


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    # The eval-set gram table must be the BROADCAST side; the training
    # corpus must never sort-merge against it (the eval side is small at
    # any corpus scale — that asymmetry IS the operator's design).
    p = plan_of(spark, sf_dir, "pipeline_decontaminate", "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pack_sequences_window_is_partitioned(spark, sf_dir):
    # The running sum must partition by source — a single-partition
    # global-order window would funnel the corpus through one task.
    p = plan_of(spark, sf_dir, "pipeline_pack_sequences", "simple")
    assert "Window" in p
    assert "Exchange SinglePartition" not in p


def test_stratified_sample_is_map_side(spark, sf_dir):
    # Rate predicate is map-side arithmetic: exactly the one partial-agg
    # exchange for the per-source counts, nothing else.
    p = plan_of(spark, sf_dir, "pipeline_stratified_sample", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_" in p


def test_semdedup_assignment_no_corpus_shuffle(spark, sf_dir):
    # Nearest-centroid assignment folds over a broadcast single-row
    # codebook (BroadcastNestedLoopJoin of 1 row); the corpus shuffles
    # only once — for the per-cell aggregate.
    p = plan_of(spark, sf_dir, "sim_semdedup", "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") <= 1
    assert "partial_" in p


def test_tfidf_df_table_broadcasts(spark, sf_dir):
    # df and the scalar source count both broadcast into the ranking;
    # the only hash exchanges are the tf partial agg, the df re-agg, and
    # the per-source window.
    p = plan_of(spark, sf_dir, "text_tfidf_top_terms", "simple")
    assert "BroadcastHashJoin" in p
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # With broadcast disabled (forcing the join shape big tables get),
    # the co-located bucketed tables must sort-merge WITHOUT an
    # exchange on either join side: the only hashpartitioning exchange
    # in the whole plan is the final groupBy on priority.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(spark, sf_dir, "bucketed_colocated_join", "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert p.count("Bucketed: true") == 2, "both scans must read bucket layout"
    assert "SortMergeJoin" in p
    assert p.count("Exchange hashpartitioning") == 1, (
        "join must be exchange-free; only the final aggregate shuffles"
    )


def test_bm25_pruned_shuffle_and_topk(spark, sf_dir):
    p = plan_of(spark, sf_dir, "text_bm25_search")
    # top-20 must be TakeOrdered, never a global sort
    assert "TakeOrderedAndProject" in p
    # df stats and corpus stats broadcast; no sort-merge join anywhere
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    # the term IN-filter runs before the tf shuffle (on the generated side)
    assert "term IN" in p or "term#" in p


def test_lm_index_serve_is_pure_score_scan(spark, sf_dir):
    """The LM-bucket serve (curation v4/v5's tail gate + the
    text_ccnet_buckets_indexed row, VERDICT r12 #1) reads the persisted
    score table ONLY: one parquet scan of the mas_lmidx warehouse
    artifact — no Generate (tokenize/explode), no join against LM
    count tables, no log2 recurrence (shiftright). The featurize lives
    in ensure, never in the query. (The downstream tercile rank
    checkpoints its |docs|-row input, so this pins the pre-checkpoint
    scan; end-to-end corroboration is test_lm_index.py's
    delete-the-corpus serve.)"""
    import io as _io

    from minoan_athenaeum_spark.sources.lm_index import (
        ensure_lm_index,
        read_lm_scores,
    )

    path = ensure_lm_index(spark, sf_dir)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        read_lm_scores(spark, path).explain("formatted")
    p = buf.getvalue()
    assert "mas_lmidx" in p, "serve must scan the warehouse score table"
    # formatted mode prints each node twice (tree + detail): one scan
    assert p.count("Scan parquet") == 2
    assert "Generate" not in p and "shiftright" not in p
    assert "Join" not in p and "Exchange" not in p


def test_bm25_indexed_serves_from_posting_scan(spark, sf_dir):
    """The posting-index path must replace the tokenize+explode with a
    pruned parquet scan: term IN-filter pushed to the posting segments,
    no Generate (explode) anywhere, top-20 via TakeOrdered."""
    p = plan_of(spark, sf_dir, "text_bm25_search_indexed")
    assert "In(term" in p, "term IN-filter not pushed to the posting scan"
    assert "Generate" not in p, "indexed path must not tokenize/explode"
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_priority_sample_takeordered(spark, sf_dir):
    p = plan_of(spark, sf_dir, "pipeline_priority_sample")
    assert "TakeOrderedAndProject" in p, "top-(k+1) must be TakeOrdered"
    assert "SortMergeJoin" not in p
    assert "Exchange rangepartitioning" not in p, "no global sort"


def test_bloom_broadcast_probe(spark, sf_dir):
    p = plan_of(spark, sf_dir, "sketch_bloom_membership")
    assert "BroadcastHashJoin" in p, "2048-word filter must broadcast"
    assert "CartesianProduct" not in p


def test_count_min_broadcast_cells(spark, sf_dir):
    p = plan_of(spark, sf_dir, "sketch_count_min")
    assert "BroadcastHashJoin" in p, "3072-cell sketch must broadcast"
    assert "partial_count" in plan_of(spark, sf_dir, "sketch_count_min", "simple")


def test_bpe_train_broadcast_merge(spark, sf_dir):
    p = plan_of(spark, sf_dir, "text_bpe_train")
    # r13: each round collects exactly the 1-row TakeOrdered(1) winner
    # (merge inlined as literals — one fewer job than the former 1-row
    # broadcast crossJoin) plus a 2-scalar stats aggregate; the
    # returned trajectory is a bounded local table with no joins at
    # all. SMJ anywhere would mean a round regressed to a real join.
    assert "SortMergeJoin" not in p
    assert "Scan ExistingRDD" in p


def test_sorted_neighborhood_no_single_reducer_sort(spark, sf_dir):
    p = plan_of(spark, sf_dir, "dedup_sorted_neighborhood")
    # the neighborhood join is an equi-join on block id (hash-joinable),
    # not a BNLJ range join
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_skyline_no_pairwise_join(spark, sf_dir):
    p = plan_of(spark, sf_dir, "misc_skyline_pareto")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p, "skyline must not join the set with itself"


def test_kmv_intersection_broadcast_sketch(spark, sf_dir):
    p = plan_of(spark, sf_dir, "sketch_kmv_intersection")
    assert "TakeOrderedAndProject" in p, "bottom-k must be TakeOrdered"
    assert "CartesianProduct" not in p


def test_quantile_normalize_no_single_reducer_window(spark, sf_dir):
    p = plan_of(spark, sf_dir, "pipeline_quantile_normalize")
    # two-phase rank: since r6 the range-partitioned + pid-stamped
    # lineage is PINNED via localCheckpoint (branch-consistent _pid —
    # see operators/scan.py), so the final plan reads it back as an
    # ExistingRDD scan; the invariant that remains visible is that no
    # corpus-sized partition-less window survives downstream.
    assert "ExistingRDD" in p, "pinned two-phase rank lineage missing"
    # the corpus-sized local window must be partitioned by (_pid, group)
    assert "], [_pid" in p, "local rank window lost its _pid partitioning"


def test_pca_covariance_one_arrow_pass_no_explode(spark, sf_dir):
    p = plan_of(spark, sf_dir, "sim_pca_covariance", "simple")
    # the corpus must flow through exactly one Arrow stage and never be
    # exploded by dim^2 the way the oracle twin is
    assert p.count("MapInPandas") == 1
    assert "Generate" not in p
    # the reduce over emitted cells is a partial-agg'd groupBy
    assert "partial_sum" in p


def test_jl_projection_no_corpus_shuffle_no_explode(spark, sf_dir):
    p = plan_of(spark, sf_dir, "sim_jl_project_topk", "simple")
    assert "Generate" not in p
    assert "CartesianProduct" not in p
    # candidate selection is TakeOrdered (never a global sort of the
    # corpus); the only exchanges serve the broadcast + final top-k
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert p.count("Exchange hashpartitioning") == 0


def test_minhash_incremental_serves_from_index(spark, sf_dir):
    from minoan_athenaeum_spark.sources.lsh_index import (
        ensure_minhash_index,
        minhash_index_path,
    )

    ensure_minhash_index(spark, sf_dir)
    p = plan_of(spark, sf_dir, "dedup_minhash_incremental", "simple")
    # bucket probe is the batch side BROADCAST against the index scan
    assert "BroadcastHashJoin" in p
    # the corpus-side work is parquet scans of the persisted index, not
    # a re-derivation from the documents table: the only documents-table
    # scans belong to the batch split (doc_id % 10 = 0 pushed down)
    idx = minhash_index_path(spark, sf_dir)
    assert idx is not None and idx.split("/")[-1] in p
    # the batch side is the tracked-persist of the 10% split: it reads
    # from cache (one InMemoryTableScan), and any documents-table scan
    # in the cached lineage carries the pushed batch-split predicate —
    # the full corpus is never re-derived in the serve plan
    assert "InMemoryTableScan" in p
    doc_scan_lines = [
        ln for ln in p.splitlines() if "documents.parquet" in ln and "Scan" in ln
    ]
    assert doc_scan_lines, "no documents scan found in the serve plan"
    for ln in doc_scan_lines:
        # the scan LINE itself must carry the %-10 batch predicate
        # (same ADVICE-r9 fix as the lines-incremental sibling: the
        # old whole-plan-string assert was vacuous)
        assert "% 10" in ln, f"batch-split predicate not on scan: {ln}"


def test_minhash_backfill_route_is_bucket_local(spark, sf_dir):
    """r12 router pin: over the broadcast ceiling the serve must plan
    the BUCKET-LOCAL verify — shingles hashed to longs map-side
    (xxhash64 in the plan), no broadcast of any payload-bearing side,
    and a final pair-dedup aggregate AFTER the Jaccard filter. The
    per-pair payload shapes this replaces both died at probe scale
    (BASELINE.md r12 router row)."""
    from minoan_athenaeum_spark.sources.lsh_index import ensure_minhash_index

    ensure_minhash_index(spark, sf_dir)
    spark.conf.set("spark.mas.minhash.serveBroadcastMaxRows", "0")
    try:
        p = plan_of(spark, sf_dir, "dedup_minhash_incremental", "simple")
    finally:
        spark.conf.unset("spark.mas.minhash.serveBroadcastMaxRows")
    assert "xxhash64" in p  # hashed payloads, not string arrays
    assert "CartesianProduct" not in p
    # the only admissible broadcast inputs are narrow key/id columns —
    # no plan line may build a broadcast relation over a shingle payload
    for ln in p.splitlines():
        if "BroadcastExchange" in ln or "BroadcastHashJoin" in ln:
            assert "_sh" not in ln, f"payload column in a broadcast: {ln}"
    # pair-dedup after the filter: a hash aggregate keyed on (a, b)
    assert "HashAggregate" in p


def test_bm25_append_serves_from_pruned_segments(spark, sf_dir):
    """The append-then-serve path keeps the indexed-serving plan shape:
    term IN-filter pushed into the (base + delta) posting segments, no
    Generate at serve time (the batch tokenize happened inside the
    append, not in this plan), top-20 via TakeOrdered."""
    p = plan_of(spark, sf_dir, "text_bm25_index_append")
    assert "In(term" in p, "term IN-filter not pushed to the posting scan"
    assert "Generate" not in p, "serve plan must not tokenize/explode"
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_kneser_ney_no_global_window_no_cartesian(spark, sf_dir):
    """The KN scorer is joins + one map-side-combined aggregate: no
    window at all, no CartesianProduct (the 1-row type total rides a
    broadcast nested loop), count tables joined by key."""
    p = plan_of(spark, sf_dir, "text_kneser_ney_ppl")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_ccnet_log_single_lookup_no_cartesian(spark, sf_dir):
    """The log-domain CCNet plan carries ONE fixed-point-log2 lookup
    chain (the shiftright squaring recurrence appears once per L
    application on the distinct-count union, not once per count
    table) and never degenerates to a CartesianProduct."""
    p = plan_of(spark, sf_dir, "text_ccnet_ppl_buckets_log")
    assert "CartesianProduct" not in p
    # the recurrence's first squaring step is a unique fingerprint;
    # with the shared lookup the full 24-step chain is planned once
    # per lgtab CONSUMER (<= 3 reuses of one subtree), never 3
    # independent 24-step chains over different tables
    assert p.count("shiftright") <= 40, "log2 recurrence duplicated per table"


def test_lines_global_fingerprint_before_shuffle(spark, sf_dir):
    """dedup_lines_global: the only exchanges carry the md5 fingerprint
    and the doc rollup — line TEXT never shuffles (the fp projection
    happens below the first exchange), and there is no window over the
    corpus and no cartesian product."""
    p = plan_of(spark, sf_dir, "dedup_lines_global", "simple")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    # partial (map-side) phase exists for both aggregates (the owner
    # min-struct aggregate lowers to Sort/ObjectHashAggregate — struct
    # min has no HashAggregate codegen — but still gets its partial)
    assert "partial_min" in p, "owner aggregate lost its map-side phase"
    assert "partial_count" in p or "partial_sum" in p
    assert p.count("HashAggregate") >= 2
    # the corpus scan reads only doc_id + text
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    # no exchange row carries the raw line column; fp is what moves
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "line#" not in ln, f"line text in a shuffle key: {ln}"


def test_lines_incremental_serves_from_index(spark, sf_dir):
    """dedup_lines_incremental: corpus side is ONE parquet scan of the
    persisted line index (no documents-table scan without the pushed
    batch-split predicate), probed via a broadcast of the batch fp set;
    no corpus-wide window."""
    from minoan_athenaeum_spark.sources.line_index import (
        ensure_line_index,
        line_index_path,
    )

    ensure_line_index(spark, sf_dir)
    p = plan_of(spark, sf_dir, "dedup_lines_incremental", "simple")
    idx = line_index_path(spark, sf_dir)
    assert idx is not None and idx.split("/")[-1] in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p and "CartesianProduct" not in p
    # every documents-table scan belongs to the batch split: the scan
    # LINE itself must carry the %-10 batch predicate in DataFilters
    # (ADVICE r9 — the old form asserted on the whole plan string,
    # which was vacuous)
    doc_scans = [
        ln
        for ln in p.splitlines()
        if "documents.parquet" in ln and "Scan" in ln
    ]
    assert doc_scans, "no documents scan found"
    for ln in doc_scans:
        assert "% 10" in ln, f"batch-split predicate not on scan: {ln}"


def test_recall_eval_no_corpus_window(spark, sf_dir):
    """sim_ann_recall_eval: ground-truth scoring is one broadcast
    (query block) multiplied map pass; BOTH top-k extractions are the
    two-phase form — the global window runs only on per-partition
    survivors, so no window partition is corpus-sized. The plan shows
    the _pid-local window (phase 1) feeding the global one (phase 2),
    and the only nested-loop join is the broadcast of the 8-row query
    block."""
    p = plan_of(spark, sf_dir, "sim_ann_recall_eval", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 8-row query block
    assert "SPARK_PARTITION_ID" in p or "_pid" in p  # two-phase top-k


def test_python_udtf_is_arrow_optimized(spark, sf_dir):
    """r11: the one Python table function runs through the Arrow
    channel (ArrowEvalPythonUDTF), never pickled row-at-a-time — the
    repo-wide no-BatchEvalPython invariant holds even for the UDTF
    extension-point demo."""
    p = plan_of(spark, sf_dir, "fn_python_udtf", "simple")
    assert "ArrowEvalPythonUDTF" in p
    assert "BatchEvalPythonUDTF" not in p
