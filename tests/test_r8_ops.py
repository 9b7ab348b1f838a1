"""Round-8 operator pins on crafted inputs (the sf-data DuckDB twins
live in tests/test_oracle_parity.py): the full Rae et al. repetition
battery's signal arithmetic and tie-break, and a pure-Python DSIR
weight reference (independent reimplementation over log2_fixed_int)."""

from __future__ import annotations

import pandas as pd

from minoan_athenaeum_spark.queries.pipeline import (
    _DSIR_B,
    pipeline_dsir_select,
)
from minoan_athenaeum_spark.queries.text import text_repetition_filters


def _write_docs(tmp_path, rows):
    p = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{p}/documents.parquet", index=False
    )
    return p


def test_repetition_signals_crafted(spark, tmp_path):
    # doc 1: "x y" * 30 — top 2-gram "x y" x30, every 5..10-gram duplicated
    # doc 2: 60 distinct tokens — every n-gram unique, passes everything
    d1 = " ".join(["x", "y"] * 30)
    d2 = " ".join(f"tok{i:02d}" for i in range(60))
    sf = _write_docs(tmp_path, [(1, d1, "en", "a"), (2, d2, "en", "a")])
    out = {
        r["doc_id"]: r.asDict()
        for r in text_repetition_filters(spark, sf).collect()
    }
    r1, r2 = out[1], out[2]
    # doc 1: 60 tokens of 1 char each
    assert r1["sum_word_chars"] == 60
    # "x y" occurs 30x, token chars per 2-gram = 2
    assert r1["top_2gram_chars"] == 30 * 2
    # alternating stream: 56 5-grams, 2 distinct (28 each), both dup
    assert r1["dup_5gram_chars"] == 56 * 5
    assert r1["passes"] == 0
    # doc 2: all counts 1 -> dup signals exactly 0, top-2 = one 2-gram's chars
    assert r2["dup_5gram_chars"] == 0 and r2["dup_10gram_chars"] == 0
    assert r2["top_2gram_chars"] == 10  # two 5-char tokens
    assert r2["passes"] == 1


def test_repetition_tie_breaks_toward_longer_gram(spark, tmp_path):
    # "aa b" and "cc ddd" both occur twice; the tie must break toward
    # the LONGER 2-gram (5 token chars), the conservative direction.
    txt = "aa b aa b cc ddd cc ddd"
    sf = _write_docs(tmp_path, [(1, txt, "en", "a")])
    r = text_repetition_filters(spark, sf).collect()[0]
    assert r["top_2gram_chars"] == 2 * 5


def test_repetition_short_docs_degenerate_cleanly(spark, tmp_path):
    # 3 tokens: no 5..10-grams exist -> dup signals 0; 1 token: no
    # 2-grams either -> every signal 0 and the doc passes trivially.
    sf = _write_docs(tmp_path, [(1, "a b c", "en", "a"), (2, "z", "en", "a")])
    out = {
        r["doc_id"]: r.asDict()
        for r in text_repetition_filters(spark, sf).collect()
    }
    assert out[1]["dup_5gram_chars"] == 0 and out[1]["top_2gram_chars"] == 2
    assert out[2]["top_2gram_chars"] == 0 and out[2]["passes"] == 1
    assert len(out) == 2


def _dsir_reference(rows, B):
    """Independent pure-Python DSIR weights: same smoothing, same
    portable hash (md5 first 15 hex digits), same fixed-point log."""
    import hashlib
    from collections import Counter

    from minoan_athenaeum_spark.operators.intlog import log2_fixed_int

    def h60(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    docfeat, raw, tgt = {}, Counter(), Counter()
    for doc_id, text, lang, _src in rows:
        tk = text.strip().lower().split()
        grams = list(tk) + [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        c = Counter(h60(g) for g in grams)
        docfeat[doc_id] = c
        raw.update(c)
        if lang == "en":
            tgt.update(c)
    CT, CR = sum(tgt.values()) + B, sum(raw.values()) + B
    norm = log2_fixed_int(CT) - log2_fixed_int(CR)
    out = {}
    for doc_id, c in docfeat.items():
        sdelta = sum(
            n * (log2_fixed_int(tgt[f] + 1) - log2_fixed_int(raw[f] + 1))
            for f, n in c.items()
        )
        out[doc_id] = sdelta - sum(c.values()) * norm
    return out


def test_dsir_weights_match_pure_python_reference(spark, tmp_path):
    rows = [
        (1, "the cat sat on the mat", "en", "a"),
        (2, "der hund lief durch den wald", "de", "a"),
        (3, "the dog ran through the park", "en", "a"),
        (4, "le chat noir dort", "fr", "a"),
        (5, "the the the cat cat", "en", "a"),
        (6, "cat mat sat dog park", "de", "a"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["doc_id"]: r["weight_q"]
        for r in pipeline_dsir_select(spark, sf).collect()
    }
    want = _dsir_reference(rows, _DSIR_B)
    assert got == want  # K=200 > 6 docs, so all rows present
    # docs sharing vocabulary with the en slice must outrank the
    # non-en-vocabulary ones
    assert want[2] < min(want[1], want[3], want[5])


def test_dsir_construction_is_lazy(spark, tmp_path):
    """VERDICT r9 #4 pin, kept through the r11 #6 declarative rework:
    BUILDING the dsir DataFrame runs no Spark job (the ≤B-row fit is
    now itself a lazy DataFrame joined back broadcast — no driver-side
    collect anywhere in the builder)."""
    rows = [(1, "the cat", "en", "a"), (2, "der hund", "de", "a")]
    sf = _write_docs(tmp_path, rows)

    # warm the parquet footer/schema read (a one-off listing job any
    # fresh table pays at plan construction — not part of the fit)
    from minoan_athenaeum_spark.catalog import load_table

    load_table(spark, sf, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("dsir-lazy-pin", "construction must run no job")
    try:
        df = pipeline_dsir_select(spark, sf)
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("dsir-lazy-pin") == []
    # first action runs the whole thing; result matches reference
    got = {r["doc_id"]: r["weight_q"] for r in df.collect()}
    assert got == _dsir_reference(rows, _DSIR_B)
    assert df.count() == 2
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)  # driver-contract type check


def test_dsir_plan_is_topk_and_broadcast(spark, sf_dir):
    plan = (
        pipeline_dsir_select(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # no global sort for top-K
    assert "CartesianProduct" not in plan
    # the bucket-delta table joins back as a broadcast
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Late-r8 crop: temperature mixture / ngram novelty / prefix rerank
# ---------------------------------------------------------------------------


def test_mixture_temperature_isqrt_and_quota_invariants(spark, tmp_path):
    import math

    from minoan_athenaeum_spark.queries.pipeline import (
        _TMIX_BUDGET,
        pipeline_mixture_temperature,
    )

    # sources with adversarial sizes around perfect squares (the +/-1
    # correction boundary) plus one giant and one singleton
    sizes = {"s01": 1, "s02": 3, "s03": 4, "s04": 8, "s05": 9,
             "s06": 10, "s07": 15, "s08": 16, "s09": 17, "s10": 120}
    rows, did = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((did, f"tok{did} filler text", "en", src))
            did += 1
    sf = _write_docs(tmp_path, rows)
    out = {r["source"]: r.asDict()
           for r in pipeline_mixture_temperature(spark, sf).collect()}
    assert set(out) == set(sizes)
    for src, n in sizes.items():
        assert out[src]["weight"] == math.isqrt(n), src
    # Hamilton invariant: quotas sum EXACTLY to the budget
    assert sum(r["quota"] for r in out.values()) == _TMIX_BUDGET
    # budget 400 >> corpus: every source picked fully, shortfall
    # reported as n_selected == n_docs < quota for upweighted sources
    for src, n in sizes.items():
        assert out[src]["n_selected"] == min(n, out[src]["quota"]), src
    assert out["s01"]["quota"] > 1  # the singleton got upweighted
    # temperature flattens: the giant's quota share must be well under
    # its linear share (120/203 of 400 = 236)
    assert out["s10"]["quota"] < 160


def test_ngram_novelty_crafted(spark, tmp_path):
    from minoan_athenaeum_spark.queries.text import text_ngram_novelty

    seq = " ".join(f"w{i}" for i in range(10))  # 6 distinct 5-grams
    rows = [
        (1, seq, "en", "a"),            # all 6 grams novel
        (2, seq, "en", "a"),            # exact dup: zero novelty
        (3, seq + " w10", "en", "a"),   # one new gram (w6..w10)
        (4, "a b c", "en", "a"),        # <5 tokens: no grams at all
    ]
    sf = _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r.asDict()
           for r in text_ngram_novelty(spark, sf).collect()}
    assert out[1]["n_distinct_grams"] == 6 and out[1]["n_novel_grams"] == 6
    assert out[1]["novel_pct"] == 100
    assert out[2]["n_distinct_grams"] == 6 and out[2]["n_novel_grams"] == 0
    assert out[2]["novel_pct"] == 0
    assert out[3]["n_distinct_grams"] == 7 and out[3]["n_novel_grams"] == 1
    assert out[3]["novel_pct"] == 100 // 7
    assert out[4]["n_grams"] == 0 and out[4]["novel_pct"] == 0
    assert len(out) == 4


def test_prefix_rerank_plan_and_recall(spark, sf_dir):
    from minoan_athenaeum_spark.queries.similarity import (
        sim_ann_prefix_rerank,
        sim_knn_cosine_brute,
    )

    df = sim_ann_prefix_rerank(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # screen must be per-partition top-C + merge, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    got = [r["nn_id"] for r in df.collect()]
    brute = [r["nn_id"] for r in sim_knn_cosine_brute(spark, sf_dir).collect()]
    # deterministic corpus + deterministic screen => recall is a fixed
    # number; require the screen to be a useful ANN (>= 7/10 here) and
    # the rerank ordering to agree with brute on the intersection
    inter = [x for x in got if x in brute]
    assert len(inter) >= 7
    assert [x for x in brute if x in inter] == inter


# ---------------------------------------------------------------------------
# Persisted first-occurrence gram index (the fifth index family)
# ---------------------------------------------------------------------------


def test_novelty_incremental_crafted_cross_generation(spark, tmp_path):
    from minoan_athenaeum_spark.queries.text import text_novelty_incremental

    seq = lambda a, b: " ".join(f"w{i}" for i in range(a, b))  # noqa: E731
    rows = [
        # existing corpus (doc_id % 10 != 0)
        (3, seq(0, 10), "en", "a"),     # owns grams g0..g5 (w0..w9)
        (7, seq(100, 105), "en", "a"),  # exactly one gram (w100..w104)
        # batch (doc_id % 10 == 0), ids interleaved around existing
        (0, seq(0, 5) + " " + seq(200, 204), "en", "a"),
        # doc 0 < 3: its gram "w0..w4" BEATS existing doc 3 -> novel
        (10, seq(100, 105), "en", "a"),  # loses to existing doc 7
        (20, seq(200, 209), "en", "a"),  # novel except where doc 0 won
    ]
    sf = _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r.asDict()
           for r in text_novelty_incremental(spark, sf).collect()}
    assert set(out) == {0, 10, 20}
    # doc 0 tokens: w0..w4 w200..w203 -> 5 distinct 5-grams; the
    # "w0 w1 w2 w3 w4" gram beats existing doc 3 (0 < 3) -> all novel
    assert out[0]["n_distinct_grams"] == 5 and out[0]["n_novel_grams"] == 5
    # doc 10's only gram is owned by existing doc 7 (7 < 10)
    assert out[10]["n_distinct_grams"] == 1 and out[10]["n_novel_grams"] == 0
    # doc 20: grams over w200..w208 = 5 grams, all unseen (doc 0's
    # tail "w1..w4 w200" mixes ranges, so no collision) -> all novel
    assert out[20]["n_distinct_grams"] == 5 and out[20]["n_novel_grams"] == 5


def test_gram_index_append_equals_rebuild_and_compaction(spark, tmp_path):
    import pandas as pd

    from minoan_athenaeum_spark.sources.gram_index import (
        append_to_gram_index,
        compact_gram_index,
        ensure_gram_index,
        gram_rows,
        merge_grams,
    )
    from minoan_athenaeum_spark.sources.index_family import (
        read_manifest,
        read_table,
        table_files,
    )

    seq = lambda a, b: " ".join(f"w{i}" for i in range(a, b))  # noqa: E731
    corpus = [(3, seq(0, 10), "en", "a"), (7, seq(50, 60), "en", "a")]
    gen1 = [(12, seq(5, 15), "en", "a")]   # overlaps doc 3's tail grams
    gen2 = [(2, seq(0, 8), "en", "a")]     # id 2 < 3: min must MOVE back
    sf = _write_docs(tmp_path, corpus)
    idx = ensure_gram_index(spark, sf)

    def batch_df(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
        )

    append_to_gram_index(spark, idx, batch_df(gen1))
    append_to_gram_index(spark, idx, batch_df(gen2))
    merged = {
        (r["gram"], r["first_doc"])
        for r in merge_grams(read_table(spark, idx, "grams")).collect()
    }
    rebuilt = {
        (r["gram"], r["first_doc"])
        for r in gram_rows(batch_df(corpus + gen1 + gen2)).collect()
    }
    assert merged == rebuilt  # min-over-generations == rebuild-from-union
    # gen2's doc 2 must have stolen ownership of the w0.. grams from 3
    owners = dict(merged)
    assert owners[" ".join(f"w{i}" for i in range(0, 5))] == 2

    files_before = len(table_files(idx, read_manifest(idx), "grams"))
    compact_gram_index(spark, idx)
    files_after = len(table_files(idx, read_manifest(idx), "grams"))
    compacted = {
        (r["gram"], r["first_doc"])
        for r in read_table(spark, idx, "grams").collect()
    }
    assert compacted == rebuilt      # compaction applied the min-merge
    assert files_after <= files_before  # and collapsed the generations
    # post-compaction each gram appears exactly once
    assert len(compacted) == read_table(spark, idx, "grams").count()


def test_gram_index_append_order_commutes(spark, tmp_path):
    import pandas as pd

    from minoan_athenaeum_spark.sources.gram_index import (
        append_to_gram_index,
        ensure_gram_index,
        merge_grams,
    )
    from minoan_athenaeum_spark.sources.index_family import read_table

    seq = lambda a, b: " ".join(f"w{i}" for i in range(a, b))  # noqa: E731
    corpus = [(3, seq(0, 10), "en", "a")]
    gen1 = [(12, seq(5, 15), "en", "a")]
    gen2 = [(2, seq(0, 8), "en", "a")]

    def build(order, sub):
        sf = _write_docs(tmp_path / sub, corpus)
        idx = ensure_gram_index(spark, sf)
        for rows in order:
            append_to_gram_index(
                spark,
                idx,
                spark.createDataFrame(
                    pd.DataFrame(
                        rows, columns=["doc_id", "text", "lang", "source"]
                    )
                ),
            )
        return {
            (r["gram"], r["first_doc"])
            for r in merge_grams(read_table(spark, idx, "grams")).collect()
        }

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    # arrival order must not matter: min is associative + commutative
    assert build([gen1, gen2], "a") == build([gen2, gen1], "b")


def test_lazy_dataframe_is_gone():
    """VERDICT r11 #6: the lazy_dataframe internals-pinning subclass
    (and its pyspark-4.1.x version gate) must stay deleted — dsir is
    declarative now, so nothing in the repo needs a DataFrame whose
    plan is built on first use."""
    from minoan_athenaeum_spark.queries import _util

    assert not hasattr(_util, "lazy_dataframe")
