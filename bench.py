"""Benchmark runner (driver contract).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Repeat mode (optimization r14, declared — VERDICT r13 #2): this box
suffers sporadic host-level CPU throttling episodes that inflate a
single query execution 10-100x with no guest-visible steal signal
(OPTIMIZATION_r13.md finding 7), so a single-execution bench total is
noise-dominated. ``SPARK_GRAFT_BENCH_REPS=N`` (default 1 — the
historical behavior, bit-identical timing path) executes each query's
timed region N times inside the same JVM and reports the PER-QUERY
MINIMUM; the JSON line gains a ``reps`` field declaring the mode.
Every rep still computes the full query from the parquet inputs
(nothing is cached across reps beyond what a single run already
shares — the warehouse index artifacts and the OS page cache), and
the contract knobs ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS, the
one-line JSON) are honored unchanged.

Each query is executed by a full count() (runs the whole pipeline,
skips driver-side result transfer; every headline query ends in an
aggregate/top-k whose inputs count() must fully evaluate, so nothing
is pruned away). The headline set covers the scan/agg/join/window/
dedup/similarity/text/events surfaces; quadratic-output near-dup
queries (minhash on the pathologically self-similar synthetic corpus)
are exercised by tests, not the bench, so bench time measures engine
speed rather than output materialization.

Round 6 expanded the r1-era 21-query set with ten round-3..5
representatives (BM25, BPE train, suffix array, substring-span dedup,
real JPEG decode replacing the fake feature stub, curation v2,
Misra-Gries heavy hitters, streaming dedup drain, PQ-ADC ANN, exact
winsorize) so the 2x regression gate guards the newer surface; the
corresponding fresh dual baseline (plain + SPARK_GRAFT_BUCKETED_FACTS)
is recorded in BASELINE.md. Totals are NOT comparable to BENCH_r1-r5
(different set) — per-query values are.
"""

from __future__ import annotations

import json
import os
import time

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
    # round-3..5 representatives under the gate since r6
    "text_bm25_search",
    "text_bpe_train",
    # r8: the bounded per-shard form replaces the global prefix
    # doubling as the benched suffix-array member (VERDICT r7 #2 —
    # the global form's O(log n) corpus shuffles made it the repo's
    # one perf-weak operator; it stays pytest-oracled as the
    # documented opt-in). Same indexed volume, zero corpus-wide
    # shuffles.
    "text_suffix_array_sharded",
    "dedup_substring_spans",
    "pipeline_curation_v2",
    "sketch_heavy_hitters",
    "stream_dedup_exec",
    "sim_ann_pq_adc_topk",
    "stat_winsorize",
    # r6 late addition: distributed averaged-perceptron training
    "ml_perceptron_quality_train",
    # r7: the r6/r7 operator families under the gate. The incremental
    # pair (LSH dedup serve, indexed BM25) measure WARM index serving —
    # the fingerprint-keyed index build is pay-once in the warehouse;
    # a clean checkout pays it on the first bench run only.
    "dedup_minhash_incremental",
    "text_bm25_search_indexed",
    "text_ccnet_ppl_buckets",
    "text_ccnet_ppl_buckets_log",
    "pipeline_curation_v3",
    "pipeline_token_budget_head",
    # late-r7 additions: Kneser-Ney LM scoring and the v4 capstone
    # (perceptron gate + log-perplexity tail drop)
    "text_kneser_ney_ppl",
    "pipeline_curation_v4",
    # r8: the Gopher heuristic battery and the v5 capstone that
    # composes it in front of the learned + LM gates. (The BM25/IVF
    # compaction paths are not benched here — their cost is an index
    # rewrite, not a query.)
    "text_gopher_quality_filters",
    "pipeline_curation_v5",
    # late-r8 additions: the full repetition battery (9 n-gram signals,
    # one doc-keyed aggregation) and DSIR importance-resampling
    # selection (hashed-ngram log-likelihood-ratio weights, top-K)
    "text_repetition_filters",
    "pipeline_dsir_select",
    # final r8 trio: marginal-novelty curve, temperature-scaled domain
    # mixture (exact isqrt), prefix-dim screen + exact rerank ANN
    "text_ngram_novelty",
    "pipeline_mixture_temperature",
    "sim_ann_prefix_rerank",
    # fifth persisted-index family: incremental novelty served from the
    # first-occurrence gram index (warm serve after the one-time build)
    "text_novelty_incremental",
    # r9: the fourth index-backed serve path joins the gate (same-cell
    # SemDedup verify against the persisted IVF index)
    "dedup_semdedup_incremental",
    # r9: corpus-wide line dedup (C4/CCNet) and its incremental form
    # served from the persisted line-fingerprint index (sixth family)
    "dedup_lines_global",
    "dedup_lines_incremental",
]


def _index_builders():
    """Explicit index-materialization step per index-backed query
    (VERDICT r8 #4). The bench times this ensure_* call separately as
    ``build_sec`` — pay-once per source fingerprint, ~0 when the
    warehouse artifact is warm — so the gated per-query number is pure
    SERVE latency and a cold-artifact run can't masquerade as a serve
    regression."""
    from minoan_athenaeum_spark.queries.text import _NOVELTY_N
    from minoan_athenaeum_spark.sources.gram_index import ensure_gram_index
    from minoan_athenaeum_spark.sources.ivf_index import ensure_ivf_index
    from minoan_athenaeum_spark.sources.line_index import ensure_line_index
    from minoan_athenaeum_spark.sources.lm_index import ensure_lm_index
    from minoan_athenaeum_spark.sources.lsh_index import ensure_minhash_index
    from minoan_athenaeum_spark.sources.posting_sink import ensure_bm25_index

    return {
        "dedup_minhash_incremental": ensure_minhash_index,
        "text_bm25_search_indexed": ensure_bm25_index,
        "text_novelty_incremental": lambda s, d: ensure_gram_index(
            s, d, _NOVELTY_N
        ),
        "dedup_semdedup_incremental": ensure_ivf_index,
        "dedup_lines_incremental": ensure_line_index,
        # r13: curation v4/v5 gate on the persisted LM-bucket index
        # (seventh family) and fold the warehouse-cached perceptron
        # weights; both ensures are shared, so whichever runs first
        # pays the one-time build and the other's is ~0
        "pipeline_curation_v4": _curation_artifacts,
        "pipeline_curation_v5": _curation_artifacts,
    }


def _curation_artifacts(spark, sf_dir):
    from minoan_athenaeum_spark.queries.classifier import averaged_weights
    from minoan_athenaeum_spark.sources.lm_index import ensure_lm_index

    ensure_lm_index(spark, sf_dir)
    averaged_weights(spark, sf_dir)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from minoan_athenaeum_spark.registry import load_all
    from minoan_athenaeum_spark.session import get_spark

    specs = load_all()
    spark = get_spark(app_name="mas-bench")
    # Warm the JVM / file listing outside the timed region.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # Warm the PYTHON WORKER POOL too (optimization r13, declared in
    # OPTIMIZATION_r13.md): the first Arrow/pandas query otherwise pays
    # ~3 s of one-time worker spawn (32 interpreters importing
    # pandas/numpy) inside ITS timed region — a process-cold-start
    # artifact of a one-shot bench, not engine cost (warm serve of the
    # same query is ~1 s). Same spirit as the JVM warm-up above; every
    # query's timed region still computes fully from the parquet
    # inputs.
    import pandas as _pd  # noqa: F401

    def _warm(batches):
        import numpy as _np  # noqa: F401

        yield from batches

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 4, numPartitions=par)
        .mapInPandas(_warm, "id long")
        .count()
    )

    builders = _index_builders()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    for name in HEADLINE:
        fn = specs[name].fn
        if name in builders:
            t0 = time.perf_counter()
            builders[name](spark, sf_dir)
            builds[name] = round(time.perf_counter() - t0, 4)
        best: float | None = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
    spark.stop()

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_query_set_total_sec",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                # one-time index materialization (pay-once per source
                # fingerprint), reported separately from serve latency
                "index_build_sec": builds,
                # executions per query (per-query min reported when >1)
                "reps": reps,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
