"""Persisted IVF cell index for INCREMENTAL semantic deduplication —
the embedding-space sibling of the MinHash band index (lsh_index.py)
and the BM25 posting index (posting_sink.py).

SemDedup-style semantic dedup compares embeddings WITHIN a cluster
(Abbas et al. 2023 — public); over a growing corpus the clustering and
the member assignments must not be recomputed per arriving batch. The
persisted layout is two tables, built once per corpus fingerprint:

  centroids/  (cell, cq)         — the bounded codebook
  members/    (cell, vec_id, q)  — existing vectors, co-located by cell

Deduplicating a new batch is then: quantize + nearest-centroid assign
the BATCH (map-only, broadcast codebook), join the batch against
``members/`` ON CELL ONLY (the index's co-location makes this the
pruned scan), exact integer-cosine verify the same-cell candidates.
The corpus side never re-embeds, never re-assigns, never shuffles.

Both tables live on the shared snapshot-manifest harness
(sources/index_family.py): ``centroids/`` is a model table, written
once at the build and carried over untouched; ``members/`` is the
maintained table, appended per admitted batch and compacted back into
N_CELLS cell-partitioned files.

Codebook convention follows sim_semdedup: the existing slice's eight
smallest vec_ids are the stand-in codebook (a production run k-means a
sample — operators/similarity.kmeans_refine is the trained variant);
what matters for the INDEX contract is that assignment is the shared
``nearest_cell`` argmax fold, bit-reproducible in oracle SQL.
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
    single_file,
    warehouse_index_path,
)

N_CELLS = 8


def ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Warehouse directory for the embeddings table's IVF cell index."""
    # idx2: manifest + generation layout; the bump keeps the former
    # live-directory layout from ever being served.
    return warehouse_index_path(spark, sf_dir, "mas_ivfidx2", "embeddings")


def _quantized(emb: DataFrame) -> DataFrame:
    from minoan_athenaeum_spark.operators.similarity import quantize

    return emb.select("vec_id", quantize(F.col("embedding")).alias("q"))


def _assigned(v: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, q, cell) via the shared broadcast-codebook argmax fold
    (map-only; ties to the smaller cell id — the oracle's ROW_NUMBER
    (csim DESC, cell) convention)."""
    from minoan_athenaeum_spark.operators.similarity import nearest_cell

    codebook = cents.agg(
        F.collect_list(F.struct(F.col("cell"), F.col("cq"))).alias("cb")
    )
    best = nearest_cell(F.col("q"), F.col("cb"))
    return v.crossJoin(F.broadcast(codebook)).select(
        "vec_id", "q", best.getField("cell").alias("cell")
    )


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF index of the EXISTING corpus slice
    (vec_id % 10 != 0 — the same generation convention as the LSH and
    BM25 incremental indexes). The members are assigned against the
    codebook read back from its staged generation. Idempotent per
    source fingerprint."""
    from minoan_athenaeum_spark.catalog import load_table

    def build(write):
        existing = _quantized(
            load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 != 0)
        ).localCheckpoint(eager=True)
        try:
            cents = (
                existing.orderBy("vec_id")
                .limit(N_CELLS)
                .select(F.col("vec_id").alias("cell"), F.col("q").alias("cq"))
            )
            write.stage("centroids", cents, single_file)
            write.stage(
                "members",
                _assigned(existing, write.read("centroids")),
                hash_layout("cell", N_CELLS),
            )
        finally:
            existing.unpersist()

    return ensure_index(spark, ivf_index_path(spark, sf_dir), build)


def compact_ivf_members(spark: SparkSession, path: str) -> None:
    """Rewrite the accumulated member generations (base files + one
    file per appended batch) back into N_CELLS cell-partitioned files
    in one commit — the same LSM compaction contract as
    posting_sink.compact_bm25_index: rows unchanged by construction
    (identity merge, one repartition-by-cell rewrite). Centroids are
    untouched (retraining the codebook is a model event, not a layout
    event). Pinned by tests/test_dedup_similarity.py::
    test_ivf_compact_preserves_members_and_layout."""
    compact_index(spark, path, {"members": Maintained(hash_layout("cell", N_CELLS))})


def append_to_ivf_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    batch_id: str | int | None = None,
) -> None:
    """Fold an admitted batch into the persisted index: assign against
    the EXISTING codebook (centroids are a model artifact — they do not
    drift per batch; retrain + rebuild is the compaction event) and
    append the (cell, vec_id, q) member rows as one generation. Mirrors
    lsh_index.append_to_minhash_index; a ``batch_id`` already applied
    makes the append a no-op, and without one, per-vec_id idempotence
    is the caller's contract."""
    append_index(
        spark,
        path,
        lambda write: write.stage(
            "members",
            _assigned(_quantized(new_vectors), write.read("centroids")),
            hash_layout("cell", 1),
        ),
        batch_id,
    )
