"""The core correctness gate, locally: every registered query with an
oracle must match DuckDB bit-for-bit at sf0.001 (the driver re-runs the
same contract at sf0.01). Oracle-less queries must at least execute and
return a stable schema.

Split (optimization r14, VERDICT r13 #8): the FULL sweep (~500 cases)
is behind the ``oracle_sweep`` marker, opt-in, because under this box's
throttle episodes it can blow an external runner's timeout. The default
run keeps ``test_oracle_smoke`` — every :data:`HEADLINE` query with an
oracle (~50) — so a default-green suite still oracle-pins the headline
surface. Close every round with the full sweep:
``python -m pytest tests/test_oracle_parity.py -q -m oracle_sweep``.
"""

from __future__ import annotations

import pytest

from minoan_athenaeum_spark.registry import load_all
from minoan_athenaeum_spark.testing import check_query_against_oracle

SPECS = load_all()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if not s.oracle)


# The headline set: scan, aggregate, join, window, dedup, similarity,
# text, events and index-serve queries.
HEADLINE = [
    "agg_tpch_q1",
    "agg_tpch_q6",
    "agg_tpch_q3_top10",
    "agg_tpch_q5_region_revenue",
    "parity_j9_multiway_join",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive",
    "parity_j1_equijoin",
    "win_row_number_topk_per_group",
    "agg_outer_join_coalesce",
    "stat_variance_stddev",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "sim_knn_cosine_brute",
    "text_quality_score",
    "text_lang_id",
    "evt_sessionize",
    "ts_asof_join",
    "evt_tumbling_window",
    "mm_jpeg_decode_stats",
    "pipeline_clean_corpus",
    "text_bm25_search",
    "text_bpe_train",
    "text_suffix_array_sharded",
    "dedup_substring_spans",
    "pipeline_curation_v2",
    "sketch_heavy_hitters",
    "stream_dedup_exec",
    "sim_ann_pq_adc_topk",
    "stat_winsorize",
    "ml_perceptron_quality_train",
    "dedup_minhash_incremental",
    "text_bm25_search_indexed",
    "text_ccnet_ppl_buckets",
    "text_ccnet_ppl_buckets_log",
    "pipeline_curation_v3",
    "pipeline_token_budget_head",
    "text_kneser_ney_ppl",
    "pipeline_curation_v4",
    "text_gopher_quality_filters",
    "pipeline_curation_v5",
    "text_repetition_filters",
    "pipeline_dsir_select",
    "text_ngram_novelty",
    "pipeline_mixture_temperature",
    "sim_ann_prefix_rerank",
    "text_novelty_incremental",
    "dedup_semdedup_incremental",
    "dedup_lines_global",
    "dedup_lines_incremental",
]

SMOKE = sorted(n for n in HEADLINE if SPECS[n].oracle)


@pytest.mark.parametrize("name", SMOKE)
def test_oracle_smoke(spark, sf_dir, name):
    spec = SPECS[name]
    problems = check_query_against_oracle(spark, sf_dir, spec.fn, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.oracle_sweep
@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, sf_dir, name):
    spec = SPECS[name]
    problems = check_query_against_oracle(spark, sf_dir, spec.fn, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.oracle_sweep
@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_executes(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0
