"""Persisted first-occurrence LINE-fingerprint index — the sixth
persisted-index family (LSH bands, BM25 postings, IVF cells,
first-occurrence grams, training shards, and line fingerprints).

The 100-TB problem: corpus-wide line-level dedup (C4/CCNet style,
queries/dedup.py::dedup_lines_global) must not re-chunk and re-hash
the whole corpus per arriving batch. The persisted state is the lean
(fp, first_doc, first_line) table — the smallest (doc_id, line_no)
owner of every distinct line fingerprint ever seen — and serving a
batch is: batch lines map-only → per-fp batch minima → broadcast hash
probe against ONE map-only scan of the index → merged-owner compare.

First-occurrence over the (doc_id, line_no) struct is a MIN — the
canonical mergeable aggregate — so the whole lifecycle is the shared
snapshot-manifest harness of
:mod:`minoan_athenaeum_spark.sources.index_family`: one ``lines/``
table whose appended generations min-merge to the rebuild from the
union regardless of doc_id interleaving, compacted through that
min-merge. This module contributes only the key shape (append ≡
rebuild + order-commutation are pinned in tests/test_line_index.py,
the crash points in tests/test_crash_safety.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minoan_athenaeum_spark.sources.index_family import (
    Maintained,
    append_index,
    compact_index,
    ensure_index,
    hash_layout,
    warehouse_index_path,
)

LINE_LEN = 10  # tokens per synthesized line, same as dedup_lines_global


def doc_lines(docs: DataFrame, line_len: int = LINE_LEN) -> DataFrame:
    """(doc_id, line_no, fp, n_tok): every synthesized line of every
    document, fingerprinted (md5 — engine-portable) at creation so
    downstream aggregates/joins never move line text."""
    from minoan_athenaeum_spark.operators.text import tokens

    d = docs.select("doc_id", tokens().alias("tk"))
    lines_arr = F.expr(
        f"transform(sequence(0, cast(ceil(size(tk) / {line_len}.0) as int) - 1),"
        f" i -> concat_ws(' ', slice(tk, i * {line_len} + 1, {line_len})))"
    )
    return d.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        F.md5(F.col("line")).alias("fp"),
        F.size(F.split(F.col("line"), " ")).cast("long").alias("n_tok"),
    )


def line_owner_rows(docs: DataFrame, line_len: int = LINE_LEN) -> DataFrame:
    """(fp, first_doc, first_line) — the smallest (doc_id, line_no)
    owner of each distinct line fingerprint in ``docs``. One
    doc-colocated explode + one fp-keyed MIN aggregate (map-side
    combined; struct min orders lexicographically, the same total
    order the oracle's ROW_NUMBER uses)."""
    return (
        doc_lines(docs, line_len)
        .groupBy("fp")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("own"))
        .select(
            "fp",
            F.col("own.doc_id").alias("first_doc"),
            F.col("own.line_no").alias("first_line"),
        )
    )


def merge_lines(gens: DataFrame) -> DataFrame:
    """One (fp, first_doc, first_line) row per fp across any set of
    generations."""
    return (
        gens.groupBy("fp")
        .agg(F.min(F.struct("first_doc", "first_line")).alias("own"))
        .select(
            "fp",
            F.col("own.first_doc").alias("first_doc"),
            F.col("own.first_line").alias("first_line"),
        )
    )


def line_index_path(
    spark: SparkSession, sf_dir: str, line_len: int = LINE_LEN
) -> str:
    """Warehouse directory for the documents table's first-occurrence
    line index. The line length is part of the directory name, as the
    gram index's n is."""
    # idx2: manifest + generation layout; the bump keeps the former
    # live-directory layout from ever being served.
    return warehouse_index_path(
        spark, sf_dir, "mas_lineidx2", "documents", params=f"L{line_len}"
    )


def ensure_line_index(
    spark: SparkSession, sf_dir: str, line_len: int = LINE_LEN, n_files: int = 8
) -> str:
    """Materialize the first-occurrence line index for the EXISTING
    corpus slice (doc_id % 10 != 0 — the repo's standard incremental
    split) as one generation of fp-hash-partitioned parquet under
    ``<path>/lines``. Idempotent per source fingerprint."""
    from minoan_athenaeum_spark.catalog import load_table

    def build(write):
        existing = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        write.stage(
            "lines", line_owner_rows(existing, line_len), hash_layout("fp", n_files)
        )

    return ensure_index(spark, line_index_path(spark, sf_dir, line_len), build)


def append_to_line_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    line_len: int = LINE_LEN,
    batch_id: str | int | None = None,
) -> None:
    """Fold a document batch INTO the persisted index as one delta
    generation of the batch's per-fp minima. No read-modify-write —
    min-over-generations ≡ rebuild-from-union under any interleaving
    (pinned by tests/test_line_index.py::test_append_equals_rebuild).
    A ``batch_id`` already applied makes the append a no-op."""
    append_index(
        spark,
        path,
        lambda write: write.stage("lines", line_owner_rows(new_docs, line_len)),
        batch_id,
    )


def compact_line_index(spark: SparkSession, path: str, n_files: int = 8) -> None:
    """Rewrite accumulated generations into ``n_files`` fresh
    fp-partitioned files with the min-merge APPLIED (one row per fp) —
    the LSM compaction step, one manifest commit."""
    compact_index(
        spark, path, {"lines": Maintained(hash_layout("fp", n_files), merge_lines)}
    )
