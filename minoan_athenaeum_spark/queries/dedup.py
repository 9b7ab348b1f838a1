"""Deduplication queries over the documents / embeddings tables.

Oracle strategy: exact dedup and n-gram Jaccard are fully
SQL-expressible (DuckDB list functions mirror Spark array functions;
both do exact int arithmetic then identical double division). MinHash
and SimHash hash with the engine-portable md5-derived 60-bit hash
(operators/dedup.py portable_hash60), so their LSH pipelines have exact
DuckDB twins too — same signatures, same buckets, same pairs, by
construction. Statistical quality (precision/recall vs brute force) is
additionally pinned by pytest (tests/test_dedup_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.operators.dedup import (
    band_keys,
    candidate_pairs,
    char_shingle_hashes,
    char_shingles,
    hamming64,
    jaccard,
    minhash_signature,
    normalized,
    prefix_filtered_pairs,
    simhash60,
)
from minoan_athenaeum_spark.queries._util import (
    broadcast_if_under,
    cached_size_bytes,
    persist_tracked,
    release_tracked,
    spread_scan,
    t,
)
from minoan_athenaeum_spark.registry import query


@query(
    "dedup_exact",
    oracle=r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS keeper, COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: group by content fingerprint, keep min doc_id.
    One shuffle on the fingerprint; at 100 TB this is the standard
    hash-partitioned exact dedup (fingerprint first so the shuffle moves
    32-byte keys, not document bodies)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalized()).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("dup_count"))
    )


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS sh
      FROM documents WHERE doc_id < 300
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
             AS jacc
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
          >= 0.5
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by character-3-gram Jaccard ≥ 0.5 (bounded to
    doc_id < 300 so the oracle's brute-force stays cheap).

    Spark side uses the scale path — a PREFIX-FILTERED shingle index
    (rarest |s|−⌈τ|s|⌉+1 shingles of each doc), then exact
    verification — which returns exactly the brute-force result because
    prefix filtering provably keeps every pair with Jaccard ≥ τ, and no
    posting list is O(corpus) even when a 3-gram occurs in every
    document (the hot-key hazard of a plain inverted index).

    Shingles are hashed to bigints at creation (char_shingle_hashes) so
    the whole pipeline — frequency table, prefix ranking, candidate
    join, array_intersect verify — compares 8-byte longs, not strings;
    set sizes and intersection counts (hence Jaccard) are identical to
    the oracle's string-shingle computation."""
    release_tracked()
    d = persist_tracked(  # referenced by the index build + the verify joins
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", char_shingle_hashes(normalized(), 3).alias("sh"))
    )
    counted = prefix_filtered_pairs(d, "doc_id", "sh", 0.5, bounded_item_universe=True)
    shared = F.col("shared").cast("double")
    j = shared / (
        (F.col("a_size") + F.col("b_size")).cast("double") - shared
    )
    return counted.select("a", "b", j.alias("jacc")).filter(F.col("jacc") >= 0.5)


@query(
    "dedup_minhash_lsh",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS sh
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(sh, x ->
                 CAST(('0x' || substr(md5(x || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)))) AS sg
      FROM s
    ), banded AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               CAST(('0x' || substr(md5(array_to_string(list_slice(sg, b*4 + 1, b*4 + 4), ',')
                                        || '#' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)) AS bk
      FROM sig
    ), ex AS (
      SELECT doc_id, unnest(bk) AS bucket FROM banded
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM ex l JOIN ex r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    ), scored AS (
      SELECT c.a AS a, c.b AS b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE)
                  - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jacc
      FROM cand c JOIN s sa ON c.a = sa.doc_id JOIN s sb ON c.b = sb.doc_id
    )
    SELECT a, b, jacc FROM scored WHERE jacc >= 0.5
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(k=16) + LSH(4 bands × 4 rows) near-dup detection over ALL
    documents, verified with exact Jaccard ≥ 0.5.

    Scale path: shingle → 16-min signature (map-only) → explode 4 band
    keys (4× rows) → shuffle on band bucket → in-bucket pairs → exact
    verify. No cross join anywhere; this is the shape that runs on
    100 TB.

    Oracle: the SAME deterministic pipeline expressed in DuckDB — the
    hash is the engine-portable md5-derived 60-bit value
    (operators/dedup.py portable_hash60), so signatures, band buckets,
    candidate pairs, and verified Jaccard scores are bit-identical by
    construction, independent of LSH recall. Statistical quality
    (precision/recall vs brute force) is separately pinned in
    tests/test_dedup_similarity.py."""
    # Persist the shingle sets and band keys: both are referenced from
    # multiple join branches, and Spark would otherwise recompute the
    # (expensive) minhash expression once per branch. At cluster scale
    # these materialize to MEMORY_AND_DISK across executors.
    release_tracked()
    d = persist_tracked(
        t(spark, sf_dir, "documents")
        .select("doc_id", char_shingles(normalized(), 3).alias("sh"))
    )
    sig = persist_tracked(d.select(
        "doc_id", band_keys(minhash_signature(F.col("sh"), 16), 4, 4).alias("bk")
    ))
    cand = candidate_pairs(sig, "doc_id", "bk")
    verified = cand.join(
        d.select(F.col("doc_id").alias("a"), F.col("sh").alias("a_sh")), "a"
    ).join(d.select(F.col("doc_id").alias("b"), F.col("sh").alias("b_sh")), "b")
    j = jaccard(F.col("a_sh"), F.col("b_sh"))
    return verified.select("a", "b", j.alias("jacc")).filter(F.col("jacc") >= 0.5)


@query(
    "dedup_simhash",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents
    ), sim AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), i ->
               CASE WHEN list_sum(list_transform(w, tk ->
                      CASE WHEN (CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) >> i) & 1 = 1
                           THEN 1 ELSE -1 END)) > 0
                    THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh60
      FROM toks
    ), banded AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               CAST(b AS VARCHAR) || ':' || CAST((sh60 >> (15 * CAST(b AS INT))) & 32767 AS VARCHAR)) AS bands
      FROM sim
    ), ex AS (
      SELECT doc_id, unnest(bands) AS bucket FROM banded
    ), cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM ex l JOIN ex r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT c.a AS a, c.b AS b,
           CAST(bit_count(xor(sa.sh60, sb.sh60)) AS BIGINT) AS hamming
    FROM cand c JOIN sim sa ON c.a = sa.doc_id JOIN sim sb ON c.b = sb.doc_id
    WHERE bit_count(xor(sa.sh60, sb.sh60)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark, sf_dir):
    """SimHash60 near-dup: 4×15-bit band blocking, verify Hamming ≤ 3.

    Any pair within Hamming 3 shares at least one exact 15-bit band
    (pigeonhole over 4 bands), so band blocking has perfect recall for
    d ≤ 3. Oracle: the same deterministic pipeline in DuckDB — per-token
    hashes use the engine-portable md5-derived 60-bit hash, so the
    simhash values, band buckets, and surviving pairs are bit-identical
    by construction. Also pinned vs direct all-pairs Hamming in
    tests/test_dedup_similarity.py."""
    toks = F.split(normalized(), " ")
    release_tracked()
    d = persist_tracked(t(spark, sf_dir, "documents").select(
        "doc_id", simhash60(toks).alias("sh60")
    ))
    banded = d.select(
        "doc_id",
        "sh60",
        F.array(
            *[
                F.concat(
                    F.lit(f"{b}:"),
                    F.shiftright(F.col("sh60"), 15 * b)
                    .bitwiseAND(F.lit(0x7FFF))
                    .cast("string"),
                )
                for b in range(4)
            ]
        ).alias("bands"),
    )
    cand = candidate_pairs(banded, "doc_id", "bands", ["sh60"])
    return (
        cand.select(
            "a",
            "b",
            hamming64(F.col("a_sh60"), F.col("b_sh60")).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


_QUANT = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"


@query(
    "dedup_embedding_cosine_lsh",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, {_QUANT} AS q FROM embeddings
    ), planted AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(q, (x, i) -> x + ((i - 1) % 7) - 3) AS q
      FROM base WHERE vec_id % 50 = 0
    ), corpus AS (
      SELECT vec_id, q FROM base UNION ALL SELECT vec_id, q FROM planted
    ), n AS (
      SELECT vec_id, q,
             sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS nrm
      FROM corpus
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                        i -> a.q[i] * b.q[i])) AS DOUBLE)
             / (a.nrm * b.nrm) AS cos_sim
    FROM n a, n b
    WHERE a.vec_id < b.vec_id
      AND CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                       i -> a.q[i] * b.q[i])) AS DOUBLE)
            / (a.nrm * b.nrm) >= 0.9
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine_lsh(spark, sf_dir):
    """Embedding near-dup at a realistic threshold (cos ≥ 0.9) routed
    through the SCALE PATH: sign-LSH band buckets → candidate pairs →
    exact quantized-int cosine verify. No all-pairs join — the bucket
    key is the shuffle key, exactly the plan that runs on 100 TB.

    The synthetic embeddings are isotropic noise (max pairwise cosine
    ≈ 0.45), so true near-duplicates are PLANTED deterministically:
    every 50th vector gets a copy (vec_id + 1000000) with small integer
    offsets added to its quantized coordinates (pure int arithmetic —
    bit-identical in Spark and DuckDB). The oracle is the brute-force
    all-pairs twin over the same corpus; LSH recall at cos ≥ 0.9 with
    12 bands × 8 bits makes a missed pair ~1e-26 improbable, so outputs
    match exactly. ``dedup_embedding_cosine`` remains the bounded
    all-pairs form at the noise-level threshold."""
    from minoan_athenaeum_spark.operators.similarity import (
        quantize,
        cosine_q,
        sign_lsh_band_keys,
    )

    e = t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", quantize(F.col("embedding")).alias("q"))
    planted = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("q"), lambda x, i: x + (i % 7) - 3).alias("q"),
    )
    release_tracked()
    corpus = persist_tracked(base.unionByName(planted))
    banded = corpus.withColumn("bk", sign_lsh_band_keys(F.col("q"), 12, 8))
    cand = candidate_pairs(banded, "vec_id", "bk", ["q"])
    cos = cosine_q(F.col("a_q"), F.col("b_q"))
    out = cand.select("a", "b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= 0.9
    )
    return out


# Shared by dedup_components (min-label propagation) and
# dedup_components_star (large-star/small-star contraction): both must
# produce the identical transitive closure.
_COMPONENTS_ORACLE = r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS s
      FROM documents WHERE doc_id < 300
    ), pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE))
            >= 0.5
    ), edges AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
    ), reach(src, dst) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    )
    SELECT r.src AS doc_id, LEAST(r.src, MIN(r.dst)) AS component
    FROM reach r GROUP BY r.src
    """


def _near_dup_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup PAIRS (the prefix-filtered scale path) —
    shared edge-builder for both clustering variants."""
    release_tracked()
    d = persist_tracked(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", char_shingle_hashes(normalized(), 3).alias("sh"))
    )
    counted = prefix_filtered_pairs(d, "doc_id", "sh", 0.5, bounded_item_universe=True)
    shared = F.col("shared").cast("double")
    j = shared / ((F.col("a_size") + F.col("b_size")).cast("double") - shared)
    return counted.filter(j >= 0.5).select("a", "b")


@query(
    "dedup_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("dedup", "components"),
)
def dedup_components(spark, sf_dir):
    """Duplicate GROUPS from near-dup PAIRS: the n-gram Jaccard pairs
    (same prefix-filtered scale path as ``dedup_ngram_jaccard``) are fed
    to iterative min-label propagation (operators/components.py) until
    every node carries the smallest doc_id reachable from it. This is
    the step a real training-data pipeline runs between pair generation
    and 'keep one doc per group'. Oracle: DuckDB recursive CTE computing
    the same transitive closure."""
    from minoan_athenaeum_spark.operators.components import connected_components

    comps = connected_components(_near_dup_pairs(spark, sf_dir), src="a", dst="b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


@query(
    "dedup_components_star",
    oracle=_COMPONENTS_ORACLE,
    tags=("dedup", "components", "star-contraction"),
)
def dedup_components_star(spark, sf_dir):
    """Same duplicate-group clustering answered by the O(log²)-round
    LARGE-STAR/SMALL-STAR contraction
    (operators/components.py::connected_components_star) instead of
    O(diameter) propagation — the variant a 100 TB pipeline runs when
    duplicate chains can be arbitrarily long (propagation raises past
    max_iter; contraction has no diameter dependence). Shares the exact
    recursive-CTE oracle with dedup_components, so the driver gate
    certifies both algorithms produce the identical closure."""
    from minoan_athenaeum_spark.operators.components import (
        connected_components_star,
    )

    comps = connected_components_star(_near_dup_pairs(spark, sf_dir), src="a", dst="b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )


_SUBSTRING_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), aug AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id % 10 = 7 AND d.doc_id IS NOT NULL
                  THEN list_concat(b.tk, list_slice(d.tk, 6, 45))
                  ELSE b.tk END AS tk
      FROM base b
      LEFT JOIN base d ON d.doc_id = b.doc_id - 5 AND b.doc_id % 10 = 7
    ), posting0 AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(1, greatest(len(tk) - 19, 0) + 1),
               i -> struct_pack(
                 pos := CAST(i - 1 AS BIGINT),
                 gram := array_to_string(list_slice(tk, i, i + 19), ' ')))) AS g
      FROM aug
    ), posting AS (
      SELECT doc_id, g.pos AS pos, g.gram AS gram FROM posting0
    ), dup AS (
      SELECT gram FROM posting GROUP BY gram HAVING COUNT(*) >= 2
    ), marked AS (
      SELECT p.doc_id, p.pos FROM posting p JOIN dup USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 20
                  THEN 0 ELSE 1 END AS brk
      FROM marked
    ), grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM isl
    ), spans AS (
      SELECT doc_id, g, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
      FROM grp GROUP BY doc_id, g
    )
    SELECT s.doc_id, s.span_start, s.span_end,
           s.span_end - s.span_start + 1 AS span_len,
           md5(array_to_string(
             list_slice(a.tk, CAST(s.span_start + 1 AS BIGINT),
                        CAST(s.span_end + 1 AS BIGINT)), ' ')) AS span_md5
    FROM spans s JOIN aug a USING (doc_id)
"""


@query(
    "dedup_substring_spans",
    oracle=_SUBSTRING_ORACLE,
    tags=("dedup", "substring"),
)
def dedup_substring_spans(spark, sf_dir):
    """EXACT SUBSTRING dedup (Lee et al., ACL 2022 "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    run of >= 20 tokens that occurs verbatim more than once in the
    corpus, as (doc, span_start, span_end, span_len, md5-of-span).
    Document-level dedup misses shared boilerplate inside otherwise
    distinct pages; this is the operator that catches it.

    The synthetic corpus has no natural 20-token repeats, so the query
    first builds a deterministic quotation corpus — every doc with
    doc_id % 10 == 7 appends tokens 6..45 of doc (doc_id - 5) — and the
    oracle replays the identical construction; a green row proves the
    operator finds exactly the injected 40-token shared spans (donor
    and quoting side both marked, overlapping windows merged into one
    maximal span each).

    Scale shape (operators/substring.py::duplicated_spans): postings
    shuffle 8-byte gram hashes + two ints (gram text never enters an
    exchange); duplicated grams come out of a map-side-combined
    count>=2 aggregate (a million-fold repeated phrase is ONE row — no
    hot posting list); span merge is a per-doc window. Gram hashing is
    xxhash64 (narrow shuffles); the oracle groups the gram STRINGS —
    results agree unless xxhash64 collides among corpus grams
    (p ~ 1e-11 at this corpus size)."""
    from minoan_athenaeum_spark.operators.substring import duplicated_spans

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(normalized(), " ").alias("tk")
    )
    donors = d.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 5).alias("doc_id"),
        F.slice("tk", 6, 40).alias("quote"),
    )
    aug = (
        d.join(donors, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 7) & F.col("quote").isNotNull(),
                F.concat(F.col("tk"), F.col("quote")),
            )
            .otherwise(F.col("tk"))
            .alias("tk"),
        )
    )
    return duplicated_spans(aug, id_col="doc_id", tokens_col="tk", length=20)


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking (Hernandez-Stolfo 1995)
# ---------------------------------------------------------------------------

_SN_W = 3          # neighborhood window: compare ranks within distance 3
_SN_KEYLEN = 24    # blocking key: first 24 chars of the normalized text

_SN_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), ranked AS (
      SELECT doc_id, md5(norm) AS fp,
             substr(norm, 1, {_SN_KEYLEN}) AS sortkey,
             CAST(row_number() OVER (ORDER BY substr(norm, 1, {_SN_KEYLEN}), doc_id)
                  AS BIGINT) AS rn
      FROM d
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           b.rn - a.rn AS rank_gap,
           CASE WHEN a.fp = b.fp THEN 1 ELSE 0 END AS is_exact_dup
    FROM ranked a JOIN ranked b
      ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SN_W}
"""


@query("dedup_sorted_neighborhood", oracle=_SN_ORACLE, tags=("dedup", "blocking"))
def dedup_sorted_neighborhood(spark, sf_dir):
    """SORTED-NEIGHBORHOOD dedup blocking (Hernandez-Stolfo, SIGMOD
    1995): sort the corpus by a blocking key (first 24 chars of the
    normalized text), then generate candidate pairs only between
    records within rank distance w=3 — O(w·n) candidates however large
    the corpus, the third classic blocking family in this repo next to
    hash blocking (LSH band buckets) and deletion neighborhoods
    (FastSS). Each pair carries an exact-dup verdict (normalized-text
    md5 equality), so the gate pins both the candidate set AND the
    verification.

    Scale shape: the global rank uses the two-phase range-partitioned
    rank (operators/scan.py::grouped_two_phase_rank with a constant
    group) — NO single-reducer global window. The neighborhood join is
    an equi-join on rank blocks: side A exposes its block and its
    successor block, side B joins on block id, and the band filter
    keeps rank gaps 1..w — every pair is found exactly once (gap <= w <
    block span), no range-join fallback to BNLJ. Only (doc_id, rank,
    fingerprint, 24-char key) rows shuffle — never document text.
    """
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    w = _SN_W
    d = t(spark, sf_dir, "documents").select(
        "doc_id", normalized().alias("norm")
    )
    keyed = d.select(
        "doc_id",
        F.md5("norm").alias("fp"),
        F.substring("norm", 1, _SN_KEYLEN).alias("sortkey"),
        F.lit(0).alias("_g"),
    )
    ranked = grouped_two_phase_rank(
        keyed, ["_g"], ["sortkey", "doc_id"], out_col="rn"
    ).drop("_g", "sortkey")
    # block span w+1 > w guarantees a gap-<=w pair spans at most two
    # consecutive blocks, so A probes its own and its successor block
    blk = (F.col("rn") / (w + 1)).cast("bigint")
    a = (
        ranked.select(
            F.col("doc_id").alias("doc_a"),
            F.col("fp").alias("fp_a"),
            F.col("rn").alias("rn_a"),
            F.explode(F.array(blk, blk + 1)).alias("jblk"),
        )
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        F.col("rn").alias("rn_b"),
        blk.alias("jblk"),
    )
    pairs = a.join(b, "jblk").where(
        (F.col("rn_b") > F.col("rn_a")) & (F.col("rn_b") <= F.col("rn_a") + w)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (F.col("rn_b") - F.col("rn_a")).alias("rank_gap"),
        F.when(F.col("fp_a") == F.col("fp_b"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_exact_dup"),
    )


_INC_ORACLE = r"""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS sh
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(sh, x ->
                 CAST(('0x' || substr(md5(x || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)))) AS sg
      FROM s
    ), banded AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               CAST(('0x' || substr(md5(array_to_string(list_slice(sg, b*4 + 1, b*4 + 4), ',')
                                        || '#' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)) AS bk
      FROM sig
    ), ex AS (
      SELECT doc_id, unnest(bk) AS bucket FROM banded
    ), cand AS (
      SELECT DISTINCT e.doc_id AS a, n.doc_id AS b
      FROM ex e JOIN ex n ON e.bucket = n.bucket
      WHERE e.doc_id % 10 != 0 AND n.doc_id % 10 = 0
    ), scored AS (
      SELECT c.a AS a, c.b AS b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE)
                  - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jacc
      FROM cand c JOIN s sa ON c.a = sa.doc_id JOIN s sb ON c.b = sb.doc_id
    )
    SELECT a, b, jacc FROM scored WHERE jacc >= 0.5
"""


@query(
    "dedup_minhash_incremental",
    oracle=_INC_ORACLE,
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark, sf_dir):
    """INCREMENTAL near-dup detection: deduplicate the new batch
    (doc_id % 10 == 0 — 10% of documents) against the persisted LSH
    band index of the existing corpus (sources/lsh_index.py,
    build-once per corpus fingerprint) WITHOUT re-shingling or
    re-bucketing the corpus.

    Serve shape: the batch computes its own signatures/band keys
    (map-only over 10% of the data) and is BROADCAST against one
    map-only scan of the index — the corpus side never shuffles and
    never re-hashes; shingle sets ride on the index rows, so the exact
    Jaccard verify needs no join back to the corpus (the BM25
    denormalized-norm trick). At 100 TB this is the difference between
    re-processing the corpus per arriving batch and paying only
    O(batch + index-scan).

    Oracle: the full-recompute twin — both sides re-derived from
    scratch in DuckDB with the portable md5-60-bit hashes, proving the
    persisted index serves EXACTLY the pairs a from-scratch run finds.
    In-batch (new-vs-new) duplicates are dedup_minhash_lsh's job
    scoped to the batch; this query is the cross-generation check."""
    from minoan_athenaeum_spark.sources.index_family import read_manifest, read_table
    from minoan_athenaeum_spark.sources.lsh_index import (
        BANDS,
        band_rows,
        ensure_minhash_index,
        hashed_shingles,
        shingled,
    )

    idx_path = ensure_minhash_index(spark, sf_dir)
    snap = read_manifest(idx_path)
    idx_bands = read_table(spark, idx_path, "bands", snap)
    idx_sh = read_table(spark, idx_path, "shingles", snap)
    release_tracked()
    # The filtered batch arrives as however few file-splits the source
    # had (ONE at the test SFs) and the 16-permutation signature is the
    # serve's heaviest map stage — spread it across the cluster before
    # hashing (r10 profile: sig stage 6.5 s -> 2.5 s at sf0.1; at
    # 100 TB a slice is many splits already, but never let file count
    # serialize a map stage).
    batch_sh = persist_tracked(
        shingled(
            spread_scan(
                t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
            )
        )
    )
    # SIZE-GUARDED batch broadcasts (VERDICT r10 #3): the serve's two
    # batch-sided broadcasts are correct for micro-batch ingest, but a
    # TB-scale backfill driven through the same query must degrade to
    # a shuffle join, not OOM the driver. The batch is persisted
    # anyway, so one count() materializes the cache every later stage
    # reuses and gives an exact row count for the guard. Ceiling is
    # per-session tunable; 4M rows of band keys / capped shingle
    # arrays stays well inside executor broadcast budgets.
    max_bcast = int(
        spark.conf.get("spark.mas.minhash.serveBroadcastMaxRows", "4000000")
    )
    # Byte ceiling for the payload-bearing side: shingle-array width is
    # corpus-dependent (long documents => wide arrays), so a row count
    # alone under-guards — the r11 cluster-corpus probe measured a
    # 128k-row batch weighing GBs whose forced broadcast-relation build
    # dominated the serve. The persisted batch's cached size is exact
    # after the count() above materializes it.
    max_bcast_bytes = int(
        spark.conf.get(
            "spark.mas.minhash.serveBroadcastMaxBytes", str(256 * 1024 * 1024)
        )
    )
    n_batch = batch_sh.count()
    batch_bytes = cached_size_bytes(batch_sh)
    new_keys = band_rows(batch_sh).select(
        "bucket", F.col("doc_id").alias("b")
    )
    # AUTOMATIC BACKFILL ROUTER (VERDICT r11 #4): over the batch
    # broadcast ceiling, do NOT fall back to array-payload shuffle
    # joins — the r11 cluster-corpus probe measured that fallback
    # spilling >70 GB and dying at batch = 10% of corpus, because the
    # wide shingle arrays transit TWO shuffles (once joined on a, the
    # (a, b, a_sh) intermediate re-shuffles on b). Corpus-scale
    # batches route to the BUCKET-LOCAL verify below instead.
    over_ceiling = n_batch > max_bcast or (
        batch_bytes is not None and batch_bytes > max_bcast_bytes
    )
    if not over_ceiling:
        # MICRO-BATCH path. Candidate (a, b) ids only — the shingle
        # payloads stay out of the bucket join and the distinct;
        # verification joins are candidate-sized against the shingle
        # tables. Probe-side row estimate: one band key per band per
        # batch doc (the shared BANDS constant, not a magic 4 —
        # ADVICE r11).
        cand = (
            idx_bands.join(
                broadcast_if_under(new_keys, n_batch * BANDS, max_bcast),
                "bucket",
            )
            .select(F.col("doc_id").alias("a"), "b")
            .dropDuplicates(["a", "b"])
        )
        a_ids = cand.select("a").distinct()
        # Verify via SEMI-JOIN REDUCTION: broadcast only the DISTINCT
        # candidate doc-ids (bounded by the matched index docs — a
        # few KB) into the corpus shingle scan, so the scan stays
        # map-only and its array<string> payloads never broadcast
        # wholesale; the reduced (candidate-doc-sized) shingle rows
        # then join cand on the candidate partitioning, keeping the
        # exact-Jaccard verify fully parallel. Two rejected shapes,
        # both measured same-day at sf0.1 (BASELINE.md r9):
        # cand→idx_sh (Catalyst broadcasts the whole corpus shingle
        # table — fine at test SFs where the index is tiny, an OOM
        # hazard at 100 TB) and idx_sh→broadcast(cand) (scale-safe
        # but serializes the 323k-pair verify onto the narrow
        # index-scan partitioning — 3× slower).
        idx_matched = idx_sh.join(
            F.broadcast(a_ids), idx_sh["doc_id"] == a_ids["a"]
        ).select(F.col("a"), F.col("sh").alias("a_sh"))
        verified = cand.join(idx_matched, "a").join(
            F.broadcast(
                batch_sh.select(
                    F.col("doc_id").alias("b"),
                    hashed_shingles(F.col("sh")).alias("b_sh"),
                )
            ),
            "b",
        )
        # VERDICT r12 #3, adjudicated: a SIGNATURE-estimate prune (skip
        # exact verify when few of the 16 minhash values agree) is NOT
        # a provable superset — minhash agreement is probabilistic per
        # permutation, so a true >=0.5 pair can band on its one lucky
        # band and still disagree elsewhere; pruning on the estimate
        # can drop oracle pairs. The sound counterpart is the LENGTH
        # filter (exact, from the set-similarity-join literature):
        # J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so 2*min < max proves
        # J < 0.5 and the pair is rejected WITHOUT the array
        # intersect. Array sizes are O(1) reads, the filter evaluates
        # below the jacc projection, and survivors still get the
        # exact verify — pairs bit-identical to the oracle by
        # construction. (Verify CPU itself also dropped ~4x this
        # round: the index stores xxhash64'd shingles, so the
        # intersect compares 8-byte longs, not strings.)
        sa, sb = F.size(F.col("a_sh")), F.size(F.col("b_sh"))
        verified = verified.filter(F.least(sa, sb) * 2 >= F.greatest(sa, sb))
        j = jaccard(F.col("a_sh"), F.col("b_sh"))
        return verified.select("a", "b", j.alias("jacc")).filter(
            F.col("jacc") >= 0.5
        )
    # BACKFILL verify BUCKET-LOCALLY: shuffle the (hashed) shingle
    # payloads BY BAND BUCKET once and compute Jaccard pipelined
    # inside the bucket join, deduplicating pairs AFTER the >=0.5
    # filter (multi-band survivors carry identical jacc values, so
    # the post-filter dedup is output-sized). Shuffle volume is
    # O(index band rows x payload) + O(batch x bands x payload) --
    # LINEAR in the corpus, INDEPENDENT of the candidate-pair count.
    # That independence is the whole point: a corpus-scale batch can
    # generate super-linear banded candidates (the r12 256x cluster
    # probe measured ~70M pre-dedup candidate rows from hot buckets
    # -- its hex suffixes shrink the shingle universe and collide
    # minhash values), and every per-PAIR payload shape then
    # explodes: pair-keyed array joins moved >70 GB through two
    # shuffles and died (r11 fallback), and a pair-exploded
    # (a, b, shingle-hash) form is O(pairs x shingles/doc) ~ 1.5 TB
    # on that probe (died on this box's disk). Per-BAND-ROW payload
    # is the verify whose shuffle a 1000-executor cluster absorbs no
    # matter how adversarial the bucket skew (AQE skew-join splits
    # hot buckets; the Jaccard runs inside the join, so nothing fat
    # is materialized or re-shuffled). Payloads are the 8-byte
    # xxhash64'd shingle sets, hash-then-dedup in the
    # char_shingle_hashes order (operators/dedup.py) so a within-doc
    # collision (p ~ 1e-13) shrinks the set size exactly the way
    # array_intersect shrinks the intersection [ADVICE r12] -- the
    # index side is ALREADY stored in this form (r13: hashing moved
    # to index creation, sources/lsh_index.py::hashed_shingles), so
    # only the batch side hashes at serve time. The untouched-bucket
    # semi-join prunes index band rows no batch band key reaches --
    # a no-op on an adversarial probe, a large win on a clean corpus.
    batch_buckets = new_keys.select("bucket").distinct()
    a_rows = (
        idx_bands.join(batch_buckets, "bucket", "left_semi")
        .join(idx_sh.select("doc_id", F.col("sh").alias("a_sh")), "doc_id")
        .select("bucket", F.col("doc_id").alias("a"), "a_sh")
    )
    b_payload = batch_sh.select(
        F.col("doc_id").alias("_bd"), hashed_shingles(F.col("sh")).alias("b_sh")
    )
    b_rows = new_keys.join(
        b_payload, new_keys["b"] == b_payload["_bd"]
    ).select("bucket", "b", "b_sh")
    # the same provably-exact length prune as the micro-batch path:
    # 2*min(|A|,|B|) < max proves J < 0.5 before the intersect runs
    sa, sb = F.size(F.col("a_sh")), F.size(F.col("b_sh"))
    j = jaccard(F.col("a_sh"), F.col("b_sh"))
    return (
        a_rows.join(b_rows, "bucket")
        .filter(F.least(sa, sb) * 2 >= F.greatest(sa, sb))
        .select("a", "b", j.alias("jacc"))
        .filter(F.col("jacc") >= 0.5)
        .dropDuplicates(["a", "b"])
    )


_SEMDEDUP_INC_ORACLE = r"""
    WITH src AS (
      SELECT e.vec_id,
             CASE WHEN e.vec_id % 20 = 0 AND d.embedding IS NOT NULL
                  THEN d.embedding ELSE e.embedding END AS embedding
      FROM embeddings e
      LEFT JOIN embeddings d ON d.vec_id = e.vec_id + 1
    ), v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      FROM src
    ), n AS (
      SELECT vec_id, q,
             sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS nrm
      FROM v
    ), cents AS (
      SELECT vec_id AS cell, q AS cq,
             sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS cnrm
      FROM v WHERE vec_id % 10 != 0 ORDER BY vec_id LIMIT 8
    ), exa AS (
      SELECT vec_id, q, nrm, cell FROM (
        SELECT n.vec_id, n.q, n.nrm, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, len(n.q) + 1),
                                                       i -> n.q[i] * c.cq[i])) AS DOUBLE)
                          / (n.nrm * c.cnrm) DESC, c.cell) AS rn
        FROM n, cents c WHERE n.vec_id % 10 != 0
      ) WHERE rn = 1
    ), ba AS (
      SELECT vec_id, q, nrm, cell FROM (
        SELECT n.vec_id, n.q, n.nrm, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, len(n.q) + 1),
                                                       i -> n.q[i] * c.cq[i])) AS DOUBLE)
                          / (n.nrm * c.cnrm) DESC, c.cell) AS rn
        FROM n, cents c WHERE n.vec_id % 10 = 0
      ) WHERE rn = 1
    )
    SELECT e.vec_id AS a, b.vec_id AS b,
           CAST(list_sum(list_transform(range(1, len(e.q) + 1),
                                        i -> e.q[i] * b.q[i])) AS DOUBLE)
             / (e.nrm * b.nrm) AS csim
    FROM exa e JOIN ba b USING (cell)
    WHERE CAST(list_sum(list_transform(range(1, len(e.q) + 1),
                                       i -> e.q[i] * b.q[i])) AS DOUBLE)
            / (e.nrm * b.nrm) >= 0.9
"""


@query(
    "dedup_semdedup_incremental",
    oracle=_SEMDEDUP_INC_ORACLE,
    tags=("dedup", "semantic", "ivf", "incremental"),
)
def dedup_semdedup_incremental(spark, sf_dir):
    """INCREMENTAL SEMANTIC dedup against a persisted IVF cell index —
    the embedding-space member of the persisted-index trilogy
    (MinHash bands: sources/lsh_index.py; BM25 postings:
    sources/posting_sink.py; IVF cells: sources/ivf_index.py). The
    existing corpus (vec_id % 10 != 0) is quantized, assigned to its
    nearest codebook cell, and persisted ONCE per corpus fingerprint as
    (cell, vec_id, q) member rows co-located by cell; the arriving
    batch (vec_id % 10 == 0) is assigned MAP-ONLY against the broadcast
    codebook and joined against the members ON CELL — the SemDedup
    within-cluster comparison (Abbas et al. 2023), served without
    re-embedding or re-assigning the corpus. Same-cell candidates
    verify by exact integer cosine ≥ 0.9; output (a existing, b new,
    csim). The synthetic corpus carries no natural semantic dups, so
    deterministic witnesses are planted (batch vec_id % 20 == 0 copies
    the embedding of existing vec_id + 1) and the oracle replays the
    construction — a green row proves the index finds EXACTLY the
    planted cross-generation duplicates. Near-boundary pairs split across cells are the standard IVF
    recall trade — SemDedup itself only compares within a cluster.

    Oracle: the full-recompute twin (codebook, both assignments with
    the (csim DESC, cell) tie rule, and the verify cosine re-derived
    from scratch in DuckDB) — a green row proves the persisted index
    serves exactly the pairs a from-scratch run finds.

    Scale shape: batch work is O(batch × n_cells) map-only; corpus
    work is ONE pruned scan of the matched cells' member rows; the
    verify join is candidate-sized. `append_to_ivf_index` folds an
    admitted batch into the members table (assignment against the
    FIXED codebook — centroid retraining is the compaction event),
    pinned append-equals-rebuild in tests/test_dedup_similarity.py."""
    from minoan_athenaeum_spark.operators.similarity import cosine_q
    from minoan_athenaeum_spark.sources.index_family import read_manifest, read_table
    from minoan_athenaeum_spark.sources.ivf_index import (
        _assigned,
        _quantized,
        ensure_ivf_index,
    )

    idx = ensure_ivf_index(spark, sf_dir)
    snap = read_manifest(idx)
    members = read_table(spark, idx, "members", snap)
    cents = read_table(spark, idx, "centroids", snap)
    # planted witnesses (the dedup_substring_spans pattern): the raw
    # synthetic embeddings are near-random (max cross-generation cosine
    # ~0.49), so batch vectors with vec_id % 20 == 0 take the embedding
    # of vec_id + 1 — an EXISTING vector — making them exact semantic
    # dups the pipeline must find; the oracle replays the construction
    e = t(spark, sf_dir, "embeddings")
    donor = e.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("demb")
    )
    derived = e.join(donor, "vec_id", "left").select(
        "vec_id",
        F.when(
            (F.col("vec_id") % 20 == 0) & F.col("demb").isNotNull(),
            F.col("demb"),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    batch = _quantized(derived.filter(F.col("vec_id") % 10 == 0))
    ba = _assigned(batch, cents).select(
        F.col("vec_id").alias("b"), F.col("q").alias("bq"), "cell"
    )
    cand = members.join(F.broadcast(ba), "cell")
    csim = cosine_q(F.col("q"), F.col("bq"))
    return (
        cand.select(F.col("vec_id").alias("a"), "b", csim.alias("csim"))
        .filter(F.col("csim") >= 0.9)
    )


# ---------------------------------------------------------------------------
# r9: corpus-wide line-level dedup (C4 / CCNet style) and
# quality-argmax cluster resolution — the two steps between "find
# duplicate pairs" and "emit the cleaned corpus" that the family
# still lacked.

_LINE_LEN = 10  # tokens per synthesized "line" (corpus has no newlines)

_LINES_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), lines0 AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(1, CAST(ceil(len(tk) / 10.0) AS BIGINT) + 1),
               i -> struct_pack(
                 line_no := CAST(i - 1 AS BIGINT),
                 line := array_to_string(list_slice(tk, (i-1)*10 + 1, i*10), ' ')))) AS l
      FROM tk
    ), lines AS (
      SELECT doc_id, l.line_no AS line_no, l.line AS line FROM lines0
    ), owned AS (
      SELECT doc_id, line_no, line,
             ROW_NUMBER() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_no) AS rn
      FROM lines
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(line, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM owned GROUP BY doc_id
    """


@query("dedup_lines_global", oracle=_LINES_ORACLE, tags=("dedup", "lines", "pipeline"))
def dedup_lines_global(spark, sf_dir):
    """Corpus-wide LINE-level dedup, the C4/CCNet preprocessing step
    (public: Raffel et al. 2020 §2.2 drop repeated 3-sentence spans;
    Wenzek et al. 2019 dedup CommonCrawl per line-hash): every
    occurrence of a duplicated line is dropped EXCEPT the first in
    (doc_id, line_no) order, and the per-document retention stats come
    back. The synthetic corpus has no newlines, so a "line" is each
    consecutive 10-token chunk — same determinism, same plan shape.

    Scale shape: lines are fingerprinted (md5 — the engine-portable
    hash) BEFORE they shuffle, so the global first-occurrence pass is
    one fingerprint-keyed aggregate of lean (fp → min struct(doc_id,
    line_no)) rows with map-side combine; ownership joins back on the
    fingerprint (plain shuffle hash join — both sides corpus-sized,
    co-partitioned by the join key) and the per-doc rollup is one
    doc-keyed aggregate. Document bodies never shuffle; at 100 TB the
    moving data is ~40 bytes per line. The chunking lambda is
    O(L/10) interpreted elements per row — 10x fewer than a per-token
    explode, measured noise next to the line explode itself."""
    from minoan_athenaeum_spark.operators.text import tokens

    d = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("tk"))
    lines_arr = F.expr(
        "transform(sequence(0, cast(ceil(size(tk) / 10.0) as int) - 1),"
        " i -> concat_ws(' ', slice(tk, i * 10 + 1, 10)))"
    )
    lines = d.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        F.md5(F.col("line")).alias("fp"),
        F.size(F.split(F.col("line"), " ")).cast("long").alias("n_tok"),
    )
    owners = lines.groupBy("fp").agg(
        F.min(F.struct("doc_id", "line_no")).alias("own")
    )
    return (
        lines.join(owners, "fp")
        .select(
            "doc_id",
            "n_tok",
            (
                (F.col("doc_id") == F.col("own.doc_id"))
                & (F.col("line_no") == F.col("own.line_no"))
            ).alias("kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


_KEEP_BEST_ORACLE = r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 0) + 1),
               i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3)
             )) AS s
      FROM documents WHERE doc_id < 300
    ), pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (CAST(len(a.s) + len(b.s) AS DOUBLE) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE))
            >= 0.5
    ), edges AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
    ), reach(src, dst) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ), comp AS (
      SELECT r.src AS doc_id, LEAST(r.src, MIN(r.dst)) AS component
      FROM reach r GROUP BY r.src
    ), qual AS (
      SELECT doc_id,
             length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS quality
      FROM documents WHERE doc_id < 300
    ), ranked AS (
      SELECT c.doc_id, c.component, CAST(q.quality AS BIGINT) AS quality,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM comp c JOIN qual q USING (doc_id)
    )
    SELECT doc_id, component, quality, rn = 1 AS keep FROM ranked
    """


@query(
    "dedup_cluster_keep_best",
    oracle=_KEEP_BEST_ORACLE,
    tags=("dedup", "components", "quality"),
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Quality-argmax cluster resolution: after near-dup pairs are
    clustered into duplicate groups (the same star-contraction
    components as ``dedup_components_star``), keep the HIGHEST-QUALITY
    member of each cluster instead of the conventional min-doc_id —
    what production curation actually does (the canonical duplicate is
    the longest/cleanest copy, not the one with the smallest id).
    Quality here is normalized text length (any per-doc score column
    composes identically); ties break to the smaller doc_id.

    Scale shape: components are the O(log^2)-round star contraction
    (no diameter dependence); the winner per cluster is ONE
    candidate-sized max_by aggregate over (quality, -doc_id) struct
    ordering, then a broadcast-sized join back to tag keep/drop —
    clusters are output-sized, never corpus-sized. No window over the
    corpus, no driver-side graph."""
    from minoan_athenaeum_spark.operators.components import (
        connected_components_star,
    )

    comps = connected_components_star(
        _near_dup_pairs(spark, sf_dir), src="a", dst="b"
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    qual = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.length(normalized()).cast("long").alias("quality"))
    )
    scored = comps.join(qual, "doc_id")
    winners = scored.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd"))
        ).alias("keeper")
    )
    return scored.join(winners, "component").select(
        "doc_id",
        "component",
        "quality",
        (F.col("doc_id") == F.col("keeper")).alias("keep"),
    )


_LINES_INC_ORACLE = r"""
    WITH tk AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), lines0 AS (
      SELECT doc_id,
             UNNEST(list_transform(
               range(1, CAST(ceil(len(tk) / 10.0) AS BIGINT) + 1),
               i -> struct_pack(
                 line_no := CAST(i - 1 AS BIGINT),
                 line := array_to_string(list_slice(tk, (i-1)*10 + 1, i*10), ' ')))) AS l
      FROM tk
    ), lines AS (
      SELECT doc_id, l.line_no AS line_no, l.line AS line FROM lines0
    ), owned AS (
      SELECT doc_id, line_no, line,
             ROW_NUMBER() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_no) AS rn
      FROM lines
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(line, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM owned WHERE doc_id % 10 = 0 GROUP BY doc_id
    """


@query(
    "dedup_lines_incremental",
    oracle=_LINES_INC_ORACLE,
    tags=("dedup", "lines", "incremental", "pipeline"),
)
def dedup_lines_incremental(spark, sf_dir):
    """INCREMENTAL line-level dedup: score the arriving batch
    (doc_id % 10 == 0) against the persisted first-occurrence LINE
    index of the existing corpus (sources/line_index.py — the SIXTH
    persisted-index family) WITHOUT re-chunking or re-hashing the
    corpus. Per batch document: of its lines, how many are the GLOBAL
    first occurrence over corpus ∪ batch (ownership can point either
    way — a batch doc_id smaller than a corpus doc_id steals the line,
    exactly like the gram index's interleaving semantics) and how many
    tokens survive. The incremental form of ``dedup_lines_global``,
    and the production way a C4/CCNet-style line filter prices each
    crawl slice as it arrives.

    Serve shape: batch lines and per-fp batch minima are map-only over
    the BATCH; the corpus side is ONE map-only scan of the lean
    (fp, first_doc, first_line) index probed by the BROADCAST batch-fp
    set (matched rows are candidate-sized; the min-merge across any
    append generations happens in that candidate-sized aggregate); the
    merged owner joins back. A batch line is kept iff its
    (doc_id, line_no) equals the merged owner. No corpus re-chunk, no
    corpus shuffle, no window.

    Scale bound (ADVICE r9): the ONE explicit broadcast is the
    distinct batch-fp probe into the index scan — a 16-byte-ish row
    per distinct batch line. That assumes an OPERATIONALLY BOUNDED
    serve slice (a crawl day / ingest micro-batch, the same contract
    as stream_lines_gate_exec's foreachBatch), not "10% of a 100 TB
    corpus in one call"; an unbounded batch must be served as several
    bounded ones. The other two joins (owner merge, owner join-back)
    carry NO broadcast hint on purpose: they are fp-keyed, so when a
    batch outgrows the auto-broadcast threshold AQE degrades them to
    O(batch)-shuffle hash joins instead of a driver/executor OOM —
    the corpus-sized side is never on either input.

    Oracle: the full-recompute twin — global ownership re-derived from
    scratch over ALL documents in DuckDB, output restricted to batch
    docs — proving the persisted index serves exactly what a
    from-scratch run computes."""
    from minoan_athenaeum_spark.sources.index_family import read_table
    from minoan_athenaeum_spark.sources.line_index import (
        doc_lines,
        ensure_line_index,
    )

    owners_idx = read_table(spark, ensure_line_index(spark, sf_dir), "lines")
    release_tracked()
    bl = persist_tracked(
        doc_lines(
            t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
        )
    )
    bmin = bl.groupBy("fp").agg(
        F.min(F.struct("doc_id", "line_no")).alias("bown")
    )
    matched = (
        owners_idx.join(F.broadcast(bmin.select("fp")), "fp")
        .groupBy("fp")
        .agg(
            F.min(
                F.struct(
                    F.col("first_doc").alias("doc_id"),
                    F.col("first_line").alias("line_no"),
                )
            ).alias("iown")
        )
    )
    own = bmin.join(matched, "fp", "left").select(
        "fp",
        F.when(
            F.col("iown").isNull() | (F.col("bown") < F.col("iown")),
            F.col("bown"),
        )
        .otherwise(F.col("iown"))
        .alias("own"),
    )
    return (
        bl.join(own, "fp")
        .select(
            "doc_id",
            "n_tok",
            (
                (F.col("doc_id") == F.col("own.doc_id"))
                & (F.col("line_no") == F.col("own.line_no"))
            ).alias("kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
