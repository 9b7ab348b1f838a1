"""Persisted first-occurrence n-gram index for INCREMENTAL novelty.

The 100-TB problem this solves: the marginal-novelty curve
(queries/text.py::text_ngram_novelty — how much genuinely new n-gram
mass an arriving crawl slice contributes) must not re-gram the whole
corpus per batch. The persisted state is the lean (gram, first_doc)
table — the min-doc_id owner of every distinct n-gram ever seen — and
serving a batch is:

  batch → (doc_id, gram) pairs → per-gram batch minima (map-only over
  the BATCH) → broadcast hash probe against ONE map-only scan of the
  index → candidate-sized min-merge + anti-join → per-doc novelty.

The corpus side never re-tokenizes and never shuffles; the index scan
carries two lean columns (no text). First-occurrence is a MIN — the
canonical mergeable aggregate — so the whole lifecycle is the shared
snapshot-manifest harness of
:mod:`minoan_athenaeum_spark.sources.index_family`: one ``grams/``
table whose appended generations min-merge to the rebuild from the
union, compacted through that min-merge. This module contributes only
the key shape (append ≡ rebuild is pinned in tests/test_r8_ops.py, the
crash points in tests/test_crash_safety.py).
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

GRAM_N = 5  # the novelty unit, same as text_ngram_novelty


def gram_rows(docs: DataFrame, n: int = GRAM_N) -> DataFrame:
    """(gram, first_doc) — each distinct n-gram of ``docs`` with the
    smallest doc_id that contains it. One doc-colocated explode + one
    gram-keyed MIN aggregate (map-side combined)."""
    from minoan_athenaeum_spark.operators.text import ngram_structs, tokens

    d = docs.select("doc_id", tokens().alias("tk"))
    grams = d.select(
        "doc_id", F.explode(ngram_structs("tk", n)).alias("g")
    ).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(n)]).alias("gram"),
    )
    return grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))


def merge_grams(gens: DataFrame) -> DataFrame:
    """One (gram, first_doc) row per gram across any set of
    generations."""
    return gens.groupBy("gram").agg(F.min("first_doc").alias("first_doc"))


def gram_index_path(
    spark: SparkSession, sf_dir: str, n: int = GRAM_N
) -> str:
    """Warehouse directory for the documents table's first-occurrence
    gram index. n is part of the directory name, so an index built for
    one gram length can never be served or extended for another."""
    # idx2: manifest + generation layout; the bump keeps the former
    # live-directory layout from ever being served.
    return warehouse_index_path(
        spark, sf_dir, "mas_gramidx2", "documents", params=f"n{n}"
    )


def ensure_gram_index(
    spark: SparkSession, sf_dir: str, n: int = GRAM_N, n_files: int = 8
) -> str:
    """Materialize the first-occurrence index for the EXISTING corpus
    (documents with ``doc_id % 10 != 0`` — the driver-visible batch
    split this repo's incremental queries use) as one generation of
    gram-hash-partitioned parquet under ``<path>/grams``. Idempotent
    per source fingerprint."""
    from minoan_athenaeum_spark.catalog import load_table

    def build(write):
        existing = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        write.stage("grams", gram_rows(existing, n), hash_layout("gram", n_files))

    return ensure_index(spark, gram_index_path(spark, sf_dir, n), build)


def append_to_gram_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    n: int = GRAM_N,
    batch_id: str | int | None = None,
) -> None:
    """Fold a document batch INTO the persisted index: the batch's
    (gram, batch_min) rows land as one delta generation. No
    read-modify-write — min-over-generations ≡ rebuild-from-union
    under any doc_id interleaving (pinned by
    tests/test_r8_ops.py::test_gram_index_append_equals_rebuild). A
    ``batch_id`` already applied makes the append a no-op."""
    append_index(
        spark,
        path,
        lambda write: write.stage("grams", gram_rows(new_docs, n)),
        batch_id,
    )


def compact_gram_index(spark: SparkSession, path: str, n_files: int = 8) -> None:
    """Rewrite accumulated generations into ``n_files`` fresh
    gram-partitioned files with the min-merge APPLIED (one row per
    gram again) — the LSM compaction step, one manifest commit."""
    compact_index(
        spark, path, {"grams": Maintained(hash_layout("gram", n_files), merge_grams)}
    )
