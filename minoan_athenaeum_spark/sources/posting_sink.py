"""Posting-list segment sink: stream full inverted-index postings to
disk with O(1) executor memory.

An inverted index's posting lists are the textbook case where
collect_list dies at scale: a stopword's posting list IS the corpus.
Real engines never materialize the list — they write term-sorted runs
("segments") and rely on the layout: every posting for a term is
contiguous, term runs are ordered within a file, and file boundaries
partition the term space, so lookups touch one file and merges are
streaming.

This sink produces exactly that layout with two Spark primitives:
range-partition by term (file boundaries = term-space partition), then
sortWithinPartitions(term, doc_id) (contiguous, ordered runs) — the
sort is the executor's external sort, spilling as needed, so no task
ever holds a posting list in memory. Parquet keeps row-group min/max
stats on term, giving the one-file-per-lookup property to any reader
that pushes a term predicate down.

The BM25 serving index below is built from such segments on the shared
snapshot-manifest lifecycle (sources/index_family.py): one table,
``postings/``, whose generations are written through
:func:`write_posting_segments`, plus two BM25 fields in the manifest,
the exact integer corpus stats ``n_docs`` and ``sum_dl``. A serve reads
the manifest once, then exactly its posting files with their pinned
schema, and takes the corpus stats from the same manifest as literals.

Job shape. A write tokenizes its documents once (:func:`doc_postings`)
and observes ``n_docs`` and ``sum_dl`` on the per-doc rows while the
postings are written, so no second job reads the documents. An append
runs one Spark job, a build at most four and a serve
(queries/text.py::bm25_serve_from_index) three. A compaction keeps its
three (range sample, shuffle map, write): they are what the
``num_segments`` term-range layout costs.

The observed stats are counted once although they are summed from
per-task accumulators: index writes need a local warehouse
(index_family.warehouse_index_path), so they run under ``local[n]``,
which never retries a failed task, and no task's rows are observed
twice.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from minoan_athenaeum_spark.sources.index_family import (
    IndexWrite,
    Layout,
    Maintained,
    append_index,
    compact_index,
    ensure_index,
    read_manifest,
    read_table,
    warehouse_index_path,
)


def write_posting_segments(
    postings: DataFrame,
    path: str,
    term_col: str = "term",
    doc_col: str = "doc_id",
    num_segments: int = 8,
) -> None:
    """Write (term, doc_id, ...) postings as term-sorted parquet
    segments: ``num_segments`` files, term ranges disjoint across
    files, rows sorted by (term, doc) within each. One segment needs no
    range bounds, so it is a coalesce, not a sampled range shuffle."""
    rows = (
        postings.coalesce(1)
        if num_segments == 1
        else postings.repartitionByRange(num_segments, F.col(term_col))
    )
    rows = rows.sortWithinPartitions(term_col, doc_col)
    rows.write.mode("overwrite").parquet(path)


def lookup_term(
    spark: SparkSession, path: str, term: str, term_col: str = "term"
) -> DataFrame:
    """Read one term's postings; the term-range layout means the
    pushed-down equality predicate prunes to (at most) one segment via
    parquet row-group statistics."""
    return spark.read.parquet(path).filter(F.col(term_col) == term)


# ---------------------------------------------------------------------------
# BM25 serving index: posting generations + one snapshot manifest
# ---------------------------------------------------------------------------

def bm25_index_path(
    spark: SparkSession, sf_dir: str, slice_: str = "full"
) -> str:
    """Warehouse directory for the BM25 index of ``sf_dir``'s documents
    table, freshness-fingerprinted by catalog.source_fingerprint (a changed
    source parquet resolves to a new path, so a stale index is simply
    never served). ``slice_`` distinguishes the full-corpus index from
    the existing-corpus base the incremental queries append onto."""
    # v5: per-table manifest schemas; the bump keeps older layouts from
    # ever being served.
    return warehouse_index_path(
        spark,
        sf_dir,
        "mas_bm25idx5",
        "documents",
        params="" if slice_ == "full" else slice_,
    )


def _corpus_stats(toks: str) -> list[Column]:
    """Exact (n_docs, sum_dl) of per-doc token arrays ``toks``."""
    return [
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.size(toks)), F.lit(0)).alias("sum_dl"),
    ]


def doc_postings(
    docs: DataFrame,
) -> tuple[DataFrame, Callable[[], tuple[int, int]]]:
    """(doc_id, term, tf, dl) postings of a documents slice — the ONE
    definition the full build and the batch append both use, so an
    appended index is bit-identical to a rebuild — and a function that
    returns the slice's exact (n_docs, sum_dl) once the postings are
    written. The stats are observed on the per-doc rows before the
    explode, so token-less documents still count.

    Adaptive execution drops a query's observed metrics when it prunes
    a shuffle stage that produced no rows, which happens only when the
    postings are empty (an empty slice, or documents without tokens).
    Only then are the stats counted directly, with one more job."""
    from minoan_athenaeum_spark.operators.text import tokens

    d = docs.select("doc_id", tokens().alias("toks"))
    observed = Observation()
    postings = (
        d.observe(observed, *_corpus_stats("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("doc_id", "term", "tf", "dl")
    )

    def stats() -> tuple[int, int]:
        # the metrics as a map: ``observed.get`` fails on the empty row
        # of dropped metrics
        got = observed._jo.getAsJava()
        if got.isEmpty():
            got = d.agg(*_corpus_stats("toks")).first().asDict()
        return int(got["n_docs"]), int(got["sum_dl"])

    return postings, stats


class Bm25Stats(NamedTuple):
    """A BM25 index's corpus stats; n_docs and sum_dl are exact."""

    n_docs: int
    avgdl: float
    sum_dl: int


def _stats(manifest: dict) -> Bm25Stats:
    # the same IEEE division of the same exact integers as a rebuild's
    # sum(dl) / count(*), however many appends landed
    n, s = manifest["n_docs"], manifest["sum_dl"]
    return Bm25Stats(n, float(s) / float(n), s)


def bm25_snapshot(spark: SparkSession, path: str) -> tuple[DataFrame, Bm25Stats]:
    """One consistent read of a BM25 index: the (term, doc_id, tf, dl)
    postings of exactly the current manifest's files, read with its
    pinned schema, and the same manifest's exact corpus stats. The
    DataFrame stays readable across the next commit."""
    m = read_manifest(path)
    return read_table(spark, path, "postings", m), _stats(m)


def bm25_stats(spark: SparkSession, path: str) -> Bm25Stats:
    """The index's exact corpus stats (n_docs, avgdl, sum_dl)."""
    return _stats(read_manifest(path))


def _segments(num_segments: int) -> Layout:
    return lambda rows, target: write_posting_segments(
        rows, target, num_segments=num_segments
    )


def ensure_bm25_index(
    spark: SparkSession, sf_dir: str, num_segments: int = 8, slice_: str = "full"
) -> str:
    """Materialize a BM25 serving index under the warehouse: one
    generation of term-range-segmented postings (term, doc_id, tf, dl —
    the doc-length norm is DENORMALIZED onto each posting, the standard
    trick that makes query-time scoring join-free) and a manifest
    holding the corpus stats as exact integers (n_docs, sum_dl), so
    appends merge them by integer addition and avgdl stays bit-equal to
    a rebuild's. Idempotent per source fingerprint (an index exists
    once its manifest does); the tokenize+explode+count happens HERE,
    once at index-build time, never at query time. ``slice_='existing'``
    indexes only ``doc_id % 10 != 0`` — the base corpus of the
    incremental append/serve queries (same convention as
    sources/lsh_index.py).

    A build tokenizes the documents once and runs at most 4 Spark jobs:
    the (doc_id, term) count's shuffle, the range-bounds sample, the
    range shuffle and the write; the stats are observed on the way. They
    are known only once the postings are staged, so an empty slice
    deletes the staged index directory before it raises."""
    from minoan_athenaeum_spark.catalog import load_table

    def build(write: IndexWrite) -> dict:
        docs = load_table(spark, sf_dir, "documents")
        if slice_ == "existing":
            docs = docs.filter(F.col("doc_id") % 10 != 0)
        postings, stats = doc_postings(docs)
        write.stage("postings", postings, _segments(num_segments))
        n_docs, sum_dl = stats()
        if n_docs == 0:
            # nothing is published yet: the directory holds only this
            # build's staged output
            shutil.rmtree(write.path)
            raise ValueError(
                "BM25 index stats over an empty documents slice (n_docs=0): "
                "refusing to write a 0-doc index — check the slice filter / "
                "source path"
            )
        return {"n_docs": n_docs, "sum_dl": sum_dl}

    return ensure_index(spark, bm25_index_path(spark, sf_dir, slice_), build)


def compact_bm25_index(
    spark: SparkSession, path: str, num_segments: int = 8
) -> None:
    """Rewrite the manifest's posting generations (base segments + any
    number of appended delta generations) into ``num_segments`` fresh
    term-range-sorted segments in ONE new generation — the LSM
    compaction step that caps read amplification on a long-lived
    ingest path.

    Correctness is definitional: the posting ROWS are unchanged, only
    re-partitioned/re-sorted through the same write_posting_segments
    the full build uses, so compacted ≡ appended ≡ rebuilt (pinned by
    tests/test_posting_sink.py and by text_bm25_index_compact's
    full-rebuild oracle). The stats and batch ids carry over
    unchanged."""
    compact_index(spark, path, {"postings": Maintained(_segments(num_segments))})


def append_to_bm25_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    batch_id: str | int | None = None,
) -> None:
    """Fold a document batch INTO a persisted BM25 index as one new
    posting generation — the maintenance step that keeps a growing
    corpus searchable without the full tokenize+segment rebuild.

    The batch's (term, doc_id, tf, dl) rows are written as one
    term-sorted delta file; a term lookup prunes by row-group min/max
    over base + delta files, the classic LSM read shape
    (compact_bm25_index rewrites them when generations accumulate). The
    batch's exact (n_docs, sum_dl) are added to the manifest's, so the
    merged avgdl is BIT-EQUAL to a from-scratch rebuild — pinned by
    tests/test_posting_sink.py and by text_bm25_index_append's
    full-rebuild oracle. The postings and the stats land in one manifest
    publish, so an append is all or nothing, and a ``batch_id`` already
    applied makes it a no-op.

    An append is ONE Spark job: the batch is coalesced to one partition
    before the explode, so tokenize, the (doc_id, term) count, the
    term sort and the parquet write run as one stage with no shuffle,
    and the batch's stats are observed on the way (module docstring)."""

    def batch(write: IndexWrite) -> dict:
        postings, stats = doc_postings(new_docs.coalesce(1))
        write.stage("postings", postings, _segments(1))
        n_docs, sum_dl = stats()
        return {
            "n_docs": write.base["n_docs"] + n_docs,
            "sum_dl": write.base["sum_dl"] + sum_dl,
        }

    append_index(spark, path, batch, batch_id)
