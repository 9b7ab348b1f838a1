"""Pins for the persisted CCNet LM-bucket index family
(sources/lm_index.py — the seventh persisted-index family, VERDICT
r12 #1).

Contract mirrors the siblings':
  * index-served buckets ≡ the from-scratch query, bit-for-bit;
  * append scores a batch under the FROZEN LM and append-then-read ≡
    one-pass scoring of the union under the SAME frozen LM (the IVF
    codebook convention: the model artifact does not drift per batch —
    retrain + rebuild is a model event);
  * serving touches the warehouse artifact ONLY — never the corpus;
  * compaction preserves rows (the crash points are pinned in
    tests/test_crash_safety.py).
"""

from __future__ import annotations

import os

import pandas as pd

SF = "/root/testdata/sf0.001"


def _docs_sf(tmp_path, rows, name="documents.parquet"):
    p = str(tmp_path)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    ).to_parquet(f"{p}/{name}", index=False)
    return p


_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
    (2, "the quick brown fox sleeps", "en", "a"),
    (3, "lorem ipsum dolor sit amet", "de", "b"),
    (4, "the lazy dog sleeps all day", "en", "b"),
    (5, "quick quick quick", "en", "a"),
    (6, "x", "en", "a"),  # no bigram: absent from the score table
]

_BATCH = [
    (10, "the quick dog jumps", "en", "a"),
    (11, "unseen wordage entirely novel", "en", "b"),
]


def test_index_served_buckets_equal_recompute(spark):
    """read_lm_buckets over the built index == text_ccnet_ppl_buckets_log
    recomputed from scratch, on the real sf0.001 corpus — full row set,
    exact integer scores and bucket labels."""
    from minoan_athenaeum_spark.queries.text import text_ccnet_ppl_buckets_log
    from minoan_athenaeum_spark.sources.lm_index import (
        ensure_lm_index,
        read_lm_buckets,
    )

    idx = ensure_lm_index(spark, SF)
    served = {tuple(r) for r in read_lm_buckets(spark, idx).collect()}
    fresh = {tuple(r) for r in text_ccnet_ppl_buckets_log(spark, SF).collect()}
    assert served == fresh and len(served) > 0


def test_append_equals_frozen_lm_rebuild(spark, tmp_path):
    """append_to_lm_index scores the batch against the persisted frozen
    LM; append-then-read must equal one-pass scoring of existing∪batch
    under that SAME LM (exact — integer scores), and the read-time
    terciles re-rank over the full landed set."""
    from pyspark.sql import functions as F

    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.text import bigram_pairs
    from minoan_athenaeum_spark.queries.text import (
        ccnet_bucketize,
        ccnet_score_docs,
    )
    from minoan_athenaeum_spark.sources.lm_index import (
        _read_lm,
        append_to_lm_index,
        ensure_lm_index,
        read_lm_buckets,
        read_lm_scores,
    )

    sf = _docs_sf(tmp_path, _CORPUS)
    idx = ensure_lm_index(spark, sf)
    batch = spark.createDataFrame(
        pd.DataFrame(_BATCH, columns=["doc_id", "text", "lang", "source"])
    )
    append_to_lm_index(spark, idx, batch)

    union = spark.createDataFrame(
        pd.DataFrame(
            _CORPUS + _BATCH, columns=["doc_id", "text", "lang", "source"]
        )
    )
    tok = union.select("doc_id", "lang", F.split(normalized(), " ").alias("tk"))
    expected_scores = ccnet_score_docs(
        tok.withColumn("g", bigram_pairs("tk")), *_read_lm(spark, idx)
    )
    got = {tuple(r) for r in read_lm_scores(spark, idx).collect()}
    want = {tuple(r) for r in expected_scores.collect()}
    assert got == want
    # doc 6 has no bigram -> no score row, no bucket row
    assert not any(r[0] == 6 for r in got)
    # buckets re-rank over the appended set (batch docs participate)
    buckets = {
        r["doc_id"]: r["bucket"]
        for r in read_lm_buckets(spark, idx).collect()
    }
    assert set(buckets) == {d for d, *_ in got}
    expected_buckets = {
        r["doc_id"]: r["bucket"]
        for r in ccnet_bucketize(expected_scores).collect()
    }
    assert buckets == expected_buckets


def test_serve_touches_corpus_never(spark, tmp_path):
    """After the build, serving must need ONLY the warehouse artifact:
    delete the source parquet and read_lm_buckets still returns the
    identical result (the strongest no-in-query-featurize proof)."""
    from minoan_athenaeum_spark.sources.lm_index import (
        ensure_lm_index,
        read_lm_buckets,
    )

    sf = _docs_sf(tmp_path, _CORPUS)
    idx = ensure_lm_index(spark, sf)
    before = {tuple(r) for r in read_lm_buckets(spark, idx).collect()}
    os.remove(f"{sf}/documents.parquet")
    after = {tuple(r) for r in read_lm_buckets(spark, idx).collect()}
    assert after == before and len(after) > 0


def test_compact_preserves_scores(spark, tmp_path):
    """Compaction rewrites generations into the doc_id-partitioned
    layout with rows unchanged (merge is the identity — generations
    are doc-disjoint)."""
    from minoan_athenaeum_spark.sources.index_family import read_manifest, table_files
    from minoan_athenaeum_spark.sources.lm_index import (
        N_SCORE_FILES,
        append_to_lm_index,
        compact_lm_scores,
        ensure_lm_index,
        read_lm_scores,
    )

    sf = _docs_sf(tmp_path, _CORPUS)
    idx = ensure_lm_index(spark, sf)
    batch = spark.createDataFrame(
        pd.DataFrame(_BATCH, columns=["doc_id", "text", "lang", "source"])
    )
    append_to_lm_index(spark, idx, batch)
    before = {tuple(r) for r in read_lm_scores(spark, idx).collect()}
    compact_lm_scores(spark, idx)
    after = {tuple(r) for r in read_lm_scores(spark, idx).collect()}
    assert after == before
    assert len(table_files(idx, read_manifest(idx), "scores")) <= N_SCORE_FILES


def test_lm_tables_are_frozen_by_append(spark, tmp_path):
    """The model artifact must not drift when batches land (the IVF
    codebook convention)."""
    from minoan_athenaeum_spark.sources.index_family import read_table
    from minoan_athenaeum_spark.sources.lm_index import (
        append_to_lm_index,
        ensure_lm_index,
    )

    sf = _docs_sf(tmp_path, _CORPUS)
    idx = ensure_lm_index(spark, sf)
    lm_before = {
        sub: {tuple(r) for r in read_table(spark, idx, sub).collect()}
        for sub in ("lm_bg", "lm_ctx", "lm_meta")
    }
    batch = spark.createDataFrame(
        pd.DataFrame(_BATCH, columns=["doc_id", "text", "lang", "source"])
    )
    append_to_lm_index(spark, idx, batch)
    for sub, rows in lm_before.items():
        assert {tuple(r) for r in read_table(spark, idx, sub).collect()} == rows
