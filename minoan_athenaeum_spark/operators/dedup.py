"""Deduplication operator builders: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Design for 100 TB:
  - exact dedup = hash-groupBy on a fingerprint (one shuffle, map-side
    partial aggregation);
  - near-dup never does the O(n²) cross join at scale: candidates come
    from an inverted index (shared shingle / LSH band bucket / SimHash
    band), i.e. explode → shuffle-on-key → within-bucket pairs → verify.
    Bucket sizes are bounded (hot buckets can be salted/capped), so the
    pair blowup is local, not global.

All hashing is JVM-side (xxhash64 / md5) — deterministic, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalized(col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string column (JVM transform —
    no UDF)."""
    s = col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(0))),
            lambda i: s.substr(i, F.lit(n)),
        )
    )


def char_shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams hashed to bigint (xxhash64) at
    creation. Downstream set ops (document-frequency groupBy, prefix
    ranking, candidate joins, array_intersect verify) then run on 8-byte
    longs instead of short strings — cheaper comparisons, narrower
    shuffles. Set sizes and intersection counts are identical to the
    string form unless xxhash64 collides within one document's ~1e3
    shingles (p ≈ 1e-13) — Jaccard values are exact integers either way."""
    s = col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(0))),
            lambda i: F.xxhash64(s.substr(i, F.lit(n))),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element array columns (double
    division of exact int sizes — engine-portable)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def portable_hash60(col: Column, salt: Column | None = None) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex digits of md5,
    parsed as an integer. Computable identically in Spark
    (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``) — this is what lets
    the minhash/simhash LSH pipelines have exact DuckDB oracle twins.
    60 bits stay inside a signed int64, and the value is non-negative so
    its decimal string rendering is identical in both engines (band keys
    hash a comma-joined rendering of signature slices)."""
    s = col if salt is None else F.concat(col, F.lit("#"), salt)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """k-permutation MinHash signature: min over shingles of
    hash(shingle ++ '#' ++ i) for each of k salted hash functions, with
    the DuckDB-replicable :func:`portable_hash60`."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles,
                lambda s: portable_hash60(s, i.cast("string")),
            )
        ),
    )


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH banding: hash each contiguous ``rows``-slice of the signature
    into one bucket key per band. Equal band key ⇒ candidate pair.
    The slice is rendered as a comma-joined decimal string before
    hashing (identical in Spark and DuckDB for the non-negative 60-bit
    signature values)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: portable_hash60(
            F.concat_ws(",", F.slice(sig, b * rows + 1, rows)),
            b.cast("string"),
        ),
    )


def simhash60(tokens: Column) -> Column:
    """60-bit SimHash over a token array: per bit, sum ±1 votes from
    hash(token); bit set iff the vote is positive. 60 bits so the
    portable md5-derived hash (:func:`portable_hash60`) supplies every
    bit position and the accumulated value stays inside a signed bigint;
    `getbit` and pow-of-two arithmetic are used because
    shiftleft/shiftright only take literal shift amounts."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(59)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            F.aggregate(
                tokens,
                F.lit(0),
                lambda a, tok: a
                + F.when(F.getbit(portable_hash60(tok), i) == 1, 1).otherwise(-1),
            )
            > 0,
            F.pow(F.lit(2.0), i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def candidate_pairs(
    df: DataFrame, id_col: str, bucket_col: str, payload_cols: list[str] | None = None
) -> DataFrame:
    """Inverted-index candidate generation: explode bucket keys, shuffle
    on bucket, emit each unordered id pair once (a < b), dedup pairs that
    collide in multiple buckets. This is the scale-path skeleton shared
    by MinHash-LSH / SimHash-band / shingle-index dedup.

    Only (id, bucket) flows through the pair join — payloads are joined
    back AFTER the distinct-pair set is known, so wide columns (shingle
    arrays, signatures) never ride the candidate explosion."""
    ex = df.select(F.col(id_col), F.explode(F.col(bucket_col)).alias("bucket"))
    left = ex.alias("l")
    right = ex.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    if not payload_cols:
        return pairs
    pay = df.select(F.col(id_col), *payload_cols)
    a_pay = pay.select(
        F.col(id_col).alias("a"), *[F.col(c).alias(f"a_{c}") for c in payload_cols]
    )
    b_pay = pay.select(
        F.col(id_col).alias("b"), *[F.col(c).alias(f"b_{c}") for c in payload_cols]
    )
    return pairs.join(a_pay, "a").join(b_pay, "b")


def shared_count_pairs(df: DataFrame, id_col: str, item_col: str) -> DataFrame:
    """Count-based set-similarity join: explode distinct items, self-join
    on item, count co-occurrences per (a, b) pair → |A ∩ B| without ever
    materializing arrays in the join. With per-id set sizes joined on,
    Jaccard = shared / (|A| + |B| − shared).

    CAVEAT — hot-key skew: a globally common item (a frequent 3-gram)
    puts O(corpus) ids in one posting list and the self-join does
    O(n²) pairs through that single key. Fine for bounded inputs; the
    scale path is :func:`prefix_filtered_pairs`, which provably prunes
    the index while keeping every pair with Jaccard ≥ τ."""
    ex = df.select(F.col(id_col), F.explode(F.col(item_col)).alias("item"))
    sizes = df.select(F.col(id_col), F.size(F.col(item_col)).alias("set_size"))
    l, r = ex.alias("l"), ex.alias("r")
    shared = (
        l.join(
            r,
            (F.col("l.item") == F.col("r.item"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("a"), F.col("set_size").alias("a_size")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("set_size").alias("b_size")), "b")
    )


def prefix_filtered_pairs(
    df: DataFrame,
    id_col: str,
    item_col: str,
    tau: float,
    bounded_item_universe: bool = False,
) -> DataFrame:
    """Skew-proof set-similarity join via the prefix-filtering principle
    (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs): order each
    set's items by ascending global document frequency (ties by item
    value — one global total order) and index only the first
    ``|s| − ⌈τ·|s|⌉ + 1`` items. Any pair with Jaccard ≥ τ shares at
    least one indexed item, so candidates remain a superset of the true
    result; candidates are then verified with the exact intersection.

    Why this kills the hot-key hazard: a globally common item sits at
    the *end* of every set's frequency order, so it is almost never
    inside any set's prefix — its posting list in the index is tiny even
    though it occurs in every document. The size filter
    (τ·|B| ≤ |A| and τ·|A| ≤ |B|, a Jaccard necessary condition) prunes
    cross-size candidates on top.

    Output contract matches :func:`shared_count_pairs`:
    columns ``a, b, shared, a_size, b_size`` — but only for pairs that
    survive prefix filtering (every pair with J ≥ τ does).

    Shuffles at scale: one on item (global df), one on id (per-set
    ranking window), one on the prefix item (candidate join), one
    pair-distinct, plus the verify joins keyed on id. All keys are
    narrow; no posting list is O(corpus).
    """
    # Set size is computed BEFORE the explode (array length), not by a
    # second window over exploded rows — one window sort less per id.
    ex = df.select(
        F.col(id_col),
        F.size(F.col(item_col)).alias("__sz"),
        F.explode(F.col(item_col)).alias("item"),
    )
    # When the caller declares the distinct-item universe bounded (e.g.
    # character 3-grams: limited by the alphabet, not the corpus), the
    # frequency table is broadcast-safe at any scale — hint it so no
    # shuffle is ever scheduled for this join. Unbounded universes
    # (word shingles) stay hint-free and let AQE decide.
    dfreq = ex.groupBy("item").agg(F.count("*").alias("__df"))
    if bounded_item_universe:
        dfreq = F.broadcast(dfreq)
    # ceil(tau·|s|) computed in binary floating point can land one ULP
    # high for thresholds that aren't exactly representable (tau=0.7,
    # |s|=10 → 7.000000000000001 → ceil 8), silently SHRINKING the
    # prefix and breaking the recall guarantee. Nudge down by an epsilon
    # far below 1/|s| resolution before ceil: boundary cases round to
    # the exact integer, and any over-inclusion only widens the
    # candidate superset (verification stays exact).
    _EPS = 1e-9
    w_rank = Window.partitionBy(id_col).orderBy("__df", "item")
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.lit(tau) * F.col("__sz") - F.lit(_EPS)).cast("int")
        + 1
    )
    pref = (
        ex.join(dfreq, "item")
        .withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= prefix_len)
        .select(F.col(id_col), "item", F.col("__sz"))
    )
    l, r = pref.alias("l"), pref.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.item") == F.col("r.item"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            # Jaccard ≥ τ ⇒ τ·|B| ≤ |A| ∧ τ·|A| ≤ |B| (size filter).
            # Same one-ULP hazard as prefix_len: subtract the epsilon so
            # exact-boundary pairs are never pruned (loosening only
            # admits extra candidates; verify is exact).
            & (F.col("l.__sz") * tau - _EPS <= F.col("r.__sz"))
            & (F.col("r.__sz") * tau - _EPS <= F.col("l.__sz")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    pay = df.select(F.col(id_col), F.col(item_col))
    a_pay = pay.select(
        F.col(id_col).alias("a"),
        F.col(item_col).alias("__a_items"),
        F.size(item_col).alias("a_size"),
    )
    b_pay = pay.select(
        F.col(id_col).alias("b"),
        F.col(item_col).alias("__b_items"),
        F.size(item_col).alias("b_size"),
    )
    return (
        cand.join(a_pay, "a")
        .join(b_pay, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("__a_items", "__b_items"))
            .cast("long")
            .alias("shared"),
            "a_size",
            "b_size",
        )
    )
