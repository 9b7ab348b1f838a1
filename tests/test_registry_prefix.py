"""Pin the driver-window contract: the external driver's per-round
correctness gate covers only the first 50 registered queries, so that
prefix must (a) be exactly the curated list, (b) stay at 50, and
(c) contain at least one representative of every family — rounds 1 and
2 each rotated different families through the window and neither round
re-verified both halves; this test stops the seesaw.
"""

from __future__ import annotations

from minoan_athenaeum_spark.registry import CURATED_PREFIX, load_all

SPECS = load_all()

# One prefix member per family; the family tag it must carry.
FAMILY_REPRESENTATIVES = {
    "parity_f1_filter_ops": "F1",
    "parity_j1_equijoin": "J1",
    "parity_j9_multiway_join": "J9",
    "theta_distinct_key_join": "theta",
    "dedup_minhash_incremental": "incremental",
    "stream_minhash_dedup_exec": "streaming",
    "pipeline_curation_v4": "capstone",
    "pipeline_curation_v5": "gopher",
    "text_ccnet_buckets_indexed": "index",
    "text_ccnet_ppl_buckets_log": "perplexity",
    "pipeline_curation_v3": "ml",
    "stream_quality_gate_exec": "quality",
    "text_bm25_index_append": "bm25",
    "agg_distinct": "distinct",
    "agg_min_max": "agg",
    "fn_date_parts": "date",
    "misc_like_family": "like",
    "mm_binary_meta": "multimodal",
    "pipeline_stratified_sample": "sampling",
    "rollup_6h_purchases": "continuous-aggregate",
    "sim_label_centroid_top3": "similarity",
    "stream_sliding_exec": "exec",
    "stream_static_join_exec": "join",
    "stream_tumbling_exec": "streaming",
    "text_fingerprint": "fingerprint",
    "text_lang_id": "langid",
    "text_source_stats": "agg",
    "text_tfidf_top_terms": "tfidf",
    "tpch_q12_shipmode": "case-agg",
    "tpch_q4_order_priority": "exists",
    "ts_range_join": "range-join",
    "win_running_sum": "window",
    "dedup_components": "components",
    "dedup_simhash": "simhash",
    "fn_array_ops": "array",
    "merge_upsert_orders": "upsert",
    "misc_pivot_api": "pivot",
    "mm_fake_decode_features": "pandas-udf",
    "pdf_grouped_map_topnorm": "grouped-map",
    "pipeline_pack_sequences": "packing",
    "rollup_daily_by_type": "rollup",
    "sim_ann_ivf_topk": "ivf",
    "sim_ann_lsh_topk": "ann",
    "sim_knn_cosine_brute": "brute",
    "stat_variance_stddev": "stats",
    "stream_session_exec": "exec",
    "text_quality_score": "quality",
    "text_token_count": "text",
    "ts_resample_gapfill": "resample",
    "win_row_number_topk_per_group": "topk",
}


def test_prefix_is_exactly_the_driver_window():
    assert len(CURATED_PREFIX) == 50
    assert len(set(CURATED_PREFIX)) == 50, "duplicate prefix entries"
    assert list(SPECS)[:50] == CURATED_PREFIX


def test_prefix_names_all_registered():
    missing = [n for n in CURATED_PREFIX if n not in SPECS]
    assert not missing, f"prefix names not in registry: {missing}"


def test_every_family_has_a_window_representative():
    for name, tag in FAMILY_REPRESENTATIVES.items():
        assert name in CURATED_PREFIX, f"{name} fell out of the driver window"
        assert tag in SPECS[name].tags, f"{name} no longer tagged {tag!r}"


def test_window_is_fully_oracle_gated():
    # Round 4 closed the last two rows-only entries (HLL via
    # within-bound verdicts; stateful streaming via final-state
    # read-back), so EVERY window row must now carry a DuckDB oracle.
    no_oracle = [n for n in CURATED_PREFIX if not SPECS[n].oracle]
    assert not no_oracle, (
        f"rows-only queries in the driver window: {no_oracle}"
    )


def test_readme_query_count_is_current():
    """The README's headline query count must equal the live registry
    size (VERDICT r7 #7 — the count went stale twice; derive it)."""
    import pathlib
    import re

    readme = (
        pathlib.Path(__file__).resolve().parent.parent / "README.md"
    ).read_text()
    claimed = {
        int(m) for m in re.findall(r"(\d+) registered queries", readme)
    } | {
        int(m)
        for m in re.findall(r"every one of the (\d+) registered queries", readme)
    }
    assert claimed == {len(SPECS)}, (
        f"README claims {sorted(claimed)} registered queries; registry has "
        f"{len(SPECS)} — update README.md"
    )
