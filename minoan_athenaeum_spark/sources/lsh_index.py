"""Persisted MinHash-LSH band index for INCREMENTAL deduplication.

The 100-TB problem this solves: near-dup detection over a growing
corpus must not re-shingle, re-hash, and re-bucket the whole corpus
every time a batch of new documents arrives. The standard layout is a
persisted band-bucket index — lean (bucket, doc_id) band rows plus a
(doc_id, hashed-shingle-set) verify table — built once per corpus
version; deduplicating a new batch is then:

  batch → signatures → band keys (map-only over the BATCH)
        → join against the index on bucket
        → exact Jaccard verify on the surviving candidates.

With the batch side broadcast (the common case: batch ≪ corpus), the
corpus-side work is ONE map-only scan of the index — no corpus
shuffle, no re-hashing; shingle sets are denormalized onto the index
rows precisely so the verify step needs no join back to the corpus
(the same denormalization trick the BM25 serving index uses for
doc-length norms, sources/posting_sink.py:78).

Freshness follows catalog.source_fingerprint: the index path embeds
a fingerprint of the source parquet, so a changed corpus resolves to a
new path and a stale index is simply never served. The lifecycle is the
shared snapshot-manifest harness (sources/index_family.py): ``bands/``
and ``shingles/`` are two tables of one manifest, so a build, an append
or a compaction of both lands in one commit and a serve reads both from
the same snapshot. Rows are doc-disjoint across generations, so merge
is the identity and compaction is a pure layout rewrite.
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

# Banding scheme shared by the build, append, and serve paths (and by
# the serve's broadcast-size estimate in queries/dedup.py — ADVICE r11:
# a guard that hardcodes the band count silently desyncs if this
# changes). bands*rows = the 16-value signature the oracle replays.
BANDS = 4
ROWS_PER_BAND = 4


def minhash_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Warehouse directory for the documents table's LSH band index.
    ``params`` carries the LAYOUT version: r13 switched the shingles
    table to xxhash64'd longs (``hashed_shingles``), so the version bump
    resolves to a new path and a pre-r13 string-form index is simply
    never served (the standard freshness convention — content-shape
    changes are params changes). The prefix's idx2 marks the manifest
    + generation layout, so the former live-directory layout is never
    served either."""
    return warehouse_index_path(
        spark, sf_dir, "mas_lshidx2", "documents", params="hsh2"
    )


def shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) — the 3-char shingle sets of ``docs``. NULL text is
    coalesced to '' so the append/serve path and the distinct-text build
    path (which joins back on an md5 text fingerprint — md5(NULL) would
    silently drop the doc from an inner join) agree byte-for-byte on
    corpora containing null texts."""
    from minoan_athenaeum_spark.operators.dedup import char_shingles, normalized

    return docs.select(
        "doc_id",
        char_shingles(F.coalesce(normalized(), F.lit("")), 3).alias("sh"),
    )


def hashed_shingles(sh_col):
    """String shingles → distinct 8-byte xxhash64 longs, hash-then-
    dedup in the char_shingle_hashes order (operators/dedup.py — the
    ADVICE-r12 convention), so set sizes and intersection counts
    behave identically under a within-doc collision (p ≈ 1e-13).

    The persisted ``shingles/`` table stores THIS form (r13, VERDICT
    r12 #3): the verify step only needs set identity, so the index
    carries 8-byte longs instead of 3-char strings — ~4× narrower
    verify payloads and long-vs-long array_intersect instead of
    string compares. The md5-60-bit MINHASH values are untouched
    (they are part of the oracle contract and are computed from the
    STRING shingles before hashing)."""
    return F.array_distinct(F.transform(sh_col, lambda s: F.xxhash64(s)))


def band_rows(
    sh_df: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND, key: str = "doc_id"
) -> DataFrame:
    """Lean (bucket, <key>) rows from a (<key>, sh) table: 16-value
    minhash signature → ``bands`` band keys, exploded. All hashing is
    the engine-portable md5-60-bit convention, so the index contents
    are reproducible in DuckDB oracle SQL. ``key`` lets the build path
    band per DISTINCT text instead of per document."""
    from minoan_athenaeum_spark.operators.dedup import band_keys, minhash_signature

    return sh_df.select(
        F.explode(
            band_keys(minhash_signature(F.col("sh"), bands * rows), bands, rows)
        ).alias("bucket"),
        key,
    )


def ensure_minhash_index(
    spark: SparkSession, sf_dir: str, bands: int = BANDS, rows: int = ROWS_PER_BAND
) -> str:
    """Materialize the two-table band index for the EXISTING corpus
    (documents with ``doc_id % 10 != 0`` — the driver-visible batch
    split this repo's incremental queries use): ``bands/`` holds the
    lean (bucket, doc_id) rows co-located by bucket, ``shingles/``
    holds (doc_id, sh) ONCE (not denormalized per band — 4× smaller
    than the naive layout; an earlier denormalized form was measured
    4.6M corpus-sized array rows and dominated the serve scan). The
    verify join against ``shingles/`` is candidate-sized, never
    corpus-sized. Idempotent per source fingerprint."""
    from minoan_athenaeum_spark.catalog import load_table
    from minoan_athenaeum_spark.operators.dedup import char_shingles, normalized

    # DISTINCT-TEXT signature build (VERDICT r10 #6): the shingle +
    # 16-permutation md5 signature depends only on the normalized
    # text, so compute it ONCE PER DISTINCT TEXT and join the results
    # back to doc_ids. The distinct is a partial-aggregated (map-side
    # combined) shuffle — each input split collapses its local
    # duplicates before anything moves — so the md5 CPU (the build's
    # dominant cost; r10 measured it mildly super-linear on amplified
    # shards: 416 s at 256x -> 2435 s at 1024x) now scales with
    # DISTINCT texts, not rows. Real pretraining corpora carry ~30%+
    # exact dups (that's why dedup_exact exists), replica-amplified
    # probes are ~100% dups; a fully dup-free corpus pays one extra
    # narrow shuffle, a fraction of the hashing it avoids re-checking.
    # The doc_id<->text join-back runs on a full-width md5 TEXT
    # FINGERPRINT, not the text itself, so the corpus-side checkpoint
    # and shuffle carry 32-byte keys instead of document bodies (the
    # first fp-keyed cut of this build moved full texts and went
    # super-linear again at 4096x: 284.9 s vs 60.0 s at 1024x).
    # 128-bit md5 as text identity is collision-safe far beyond any
    # corpus cardinality (the 60-BIT convention used for minhash
    # values stays untouched — it is part of the algorithm's oracle
    # contract, not an identity key). Index CONTENTS are
    # byte-identical to the per-doc build (pinned by
    # test_append_to_index_equals_rebuild + the incremental query's
    # full-recompute DuckDB oracle).
    def build(write):
        docs_nt = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 != 0)
            .select(
                # same NULL→'' coalesce as shingled(): a NULL _nt would md5
                # to NULL and vanish from the inner join-backs, diverging
                # from the append path (append-equals-rebuild byte identity).
                "doc_id",
                F.coalesce(normalized(), F.lit("")).alias("_nt"),
            )
        )
        keyed = docs_nt.select(
            "doc_id", F.md5(F.col("_nt")).alias("_fp")
        ).localCheckpoint(eager=True)
        rep_sh = (
            docs_nt.select("_nt")
            .distinct()
            .select(
                F.md5(F.col("_nt")).alias("_fp"),
                char_shingles(F.col("_nt"), 3).alias("sh"),
            )
            .localCheckpoint(eager=True)
        )
        try:
            rep_bands = band_rows(rep_sh, bands, rows, key="_fp")
            write.stage(
                "bands",
                keyed.join(rep_bands, "_fp").select("bucket", "doc_id"),
                hash_layout("bucket", 8),
            )
            write.stage(
                "shingles",
                keyed.join(rep_sh, "_fp").select(
                    "doc_id", hashed_shingles(F.col("sh")).alias("sh")
                ),
            )
        finally:
            # release the checkpoint blocks — the index lives on disk now
            keyed.unpersist()
            rep_sh.unpersist()

    return ensure_index(spark, minhash_index_path(spark, sf_dir), build)


def write_training_shards(
    docs: DataFrame, path: str, n_shards: int = 16, salt: str = "shuf#"
) -> None:
    """Materialize the deterministic training shuffle as on-disk shards
    (the write path behind queries/pipeline.py::pipeline_shuffle_shards):
    permutation key = portable md5-60-bit hash of the doc id, shard =
    key mod ``n_shards``, one parquet file per shard directory with
    rows SORTED by the permutation key — a training loader reading
    shard files sequentially sees the global pseudorandom order.

    Plan shape: one hash shuffle on the shard id, per-shard external
    sort in the writer (`sortWithinPartitions`), no global sort. Use
    n_shards ≫ executor count at scale (the 65536× A/B measured the
    16-shard layout window-bound and the 1024-shard one faster)."""
    from minoan_athenaeum_spark.operators.dedup import portable_hash60

    keyed = docs.withColumn(
        "_hv",
        portable_hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
    ).withColumn("shard", (F.col("_hv") % n_shards).cast("int"))
    (
        keyed.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "_hv")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def append_to_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    batch_id: str | int | None = None,
) -> None:
    """Fold a deduplicated batch INTO the persisted index — the
    maintenance step after a batch passes the incremental dedup gate,
    so the next batch dedups against old + new without any rebuild.
    The batch's lean band rows and shingle rows land as one generation
    of each table in one commit; a ``batch_id`` already applied makes
    the append a no-op, and without one, per-doc-id idempotence is the
    caller's contract (the dedup pipeline admits each doc_id once).
    Equivalence with a from-scratch rebuild is pinned by
    tests/test_dedup_similarity.py::test_append_to_index_equals_rebuild."""

    def batch(write):
        batch_sh = shingled(new_docs).localCheckpoint(eager=True)
        try:
            write.stage(
                "bands", band_rows(batch_sh, bands, rows), hash_layout("bucket", 1)
            )
            write.stage(
                "shingles",
                batch_sh.select("doc_id", hashed_shingles(F.col("sh")).alias("sh")),
            )
        finally:
            batch_sh.unpersist()

    append_index(spark, path, batch, batch_id)


def compact_minhash_index(
    spark: SparkSession, path: str, n_files: int = 8
) -> None:
    """Rewrite accumulated band + shingle generations (base files plus
    one file per appended batch) back into ``n_files`` bucket- /
    doc_id-partitioned files per table in ONE commit — the LSM
    compaction step the other index families carry. Rows unchanged by
    construction (identity merge over doc-disjoint generations).
    Pinned by tests/test_dedup_similarity.py::test_lsh_compact_preserves_index."""
    compact_index(
        spark,
        path,
        {
            "bands": Maintained(hash_layout("bucket", n_files)),
            "shingles": Maintained(hash_layout("doc_id", n_files)),
        },
    )
