"""Similarity-search operator builders over embedding columns.

Brute-force cosine top-k is the correctness baseline; the scale paths
are sign-LSH bucketing (random-hyperplane) and a simple IVF-style
coarse quantizer. All vector math is JVM-side (`zip_with`/`aggregate`)
— no Python in the scoring loop. Quantized-int dot products are used
whenever a DuckDB oracle needs bit-exact agreement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(col: Column, scale: int = 10000) -> Column:
    """float array → bigint array via round(x·scale): exact integer dot
    products afterwards (engine-portable)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * scale).cast("bigint"))


def dot_int(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def norm_int(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x).cast(
            "double"
        )
    )


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine over quantized int vectors — bit-identical across engines.
    A zero-norm operand yields NULL (try_divide), not an ANSI
    DIVIDE_BY_ZERO error: downstream argmax folds then skip the entry
    (NULL comparisons never take the when-branch), so degenerate vectors
    keep the fold's -1 seed instead of crashing the job."""
    return F.try_divide(dot_int(a, b).cast("double"), norm_int(a) * norm_int(b))


def sign_lsh_key(q: Column, n_bits: int = 8) -> Column:
    """Random-hyperplane LSH reduced to sign bits: bit i = sign of a
    pseudo-random ±1 combination of vector components, with
    deterministic weights from the parity of a hash of (i, j). The hash
    is the engine-portable md5-derived 60-bit value
    (operators.dedup.portable_hash60), so the signature — and therefore
    the whole ANN probe — is replicable as DuckDB oracle SQL. Vectors
    in the same bucket are likely cosine-close; probe = same-bucket
    join.

    The weights depend only on (bit, dim) — an n_bits×dim ±1 matrix. At
    cluster scale you'd materialize it once and broadcast instead of
    re-hashing per row; at these dims the rehash is noise and keeps the
    expression self-contained."""
    from minoan_athenaeum_spark.operators.dedup import portable_hash60

    dim_idx = F.sequence(F.lit(0), F.size(q) - 1)

    def weight_is_pos(i: Column, j: Column) -> Column:
        s = F.concat(i.cast("string"), F.lit("_"), j.cast("string"))
        return portable_hash60(s).bitwiseAND(F.lit(1).cast("bigint")) == 1

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    q,
                    dim_idx,
                    lambda x, j: F.when(weight_is_pos(i, j), x).otherwise(-x),
                ),
                F.lit(0).cast("bigint"),
                lambda a2, x: a2 + x,
            )
            > 0,
            F.pow(F.lit(2.0), i).cast("int"),
        ).otherwise(0),
    )


def ivf_key(q: Column, n_dims: int = 6) -> Column:
    """IVF-style coarse cell id: sign pattern of the first ``n_dims``
    components (a fixed, data-independent coarse quantizer)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_dims - 1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(F.element_at(q, i + 1) > 0, F.pow(F.lit(2.0), i).cast("int")).otherwise(
            0
        ),
    )


def sign_lsh_band_keys(q: Column, bands: int = 12, bits: int = 8) -> Column:
    """Multi-band random-hyperplane signatures for LSH near-dup joins:
    ``bands`` independent ``bits``-bit sign codes, each bit the sign of a
    deterministic ±1 combination of the vector's components (weights
    from xxhash64 over (band, bit, dim) — JVM-side, no Python). Returns
    an array of ``bands`` int keys, disjoint across bands
    (key = band · 2^bits + code), ready for
    :func:`minoan_athenaeum_spark.operators.dedup.candidate_pairs`.

    Two vectors at angle θ agree on one bit with prob 1 − θ/π, so a
    whole band matches with (1 − θ/π)^bits — near-duplicates (cos ≥ 0.9)
    collide in ≥ 1 of 12 bands with overwhelming probability while
    unrelated vectors rarely share a full 8-bit code. Bucket keys are
    the shuffle partition key; no all-pairs join ever happens."""
    dim_idx = F.sequence(F.lit(0), F.size(q) - 1)

    def band_code(b: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0),
            lambda acc, i: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        q,
                        dim_idx,
                        lambda x, j: F.when(
                            F.xxhash64(
                                F.concat_ws(
                                    "_",
                                    b.cast("string"),
                                    i.cast("string"),
                                    j.cast("string"),
                                )
                            ).bitwiseAND(F.lit(1))
                            == 1,
                            x,
                        ).otherwise(-x),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda a2, x: a2 + x,
                )
                > 0,
                F.pow(F.lit(2.0), i).cast("int"),
            ).otherwise(0),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: b * (2**bits) + band_code(b),
    )


def arrow_assigner(cent_rows: list):
    """Vectorized nearest-centroid assignment as an Arrow-batched pandas
    UDF: ``cell = assigner(q)``. BIT-IDENTICAL to the
    :func:`nearest_cell` fold — dot products and squared norms are exact
    int64 (numpy integer matmul), the cosine is the same
    ``double(dot) / (sqrt(double(|q|²)) · sqrt(double(|c|²)))``
    expression with the same operand order (IEEE ops are correctly
    rounded, so equal inputs give equal bits), and ``np.argmax`` returns
    the FIRST maximum, which with centroid columns sorted by cell id is
    exactly the fold's smaller-cell tie-break. The difference is
    throughput: the HOF fold is interpreted per element; this is C-level
    matmul over Arrow batches — the fast path when the corpus is large
    and the codebook is a collected model artifact.

    ``cent_rows``: [(cell, [int, ...]), ...] — closure-captured (tiny),
    the pandas-UDF analogue of a broadcast variable."""
    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(cent_rows)
    cells = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.array([cq for _, cq in cent_rows], dtype=np.int64).T  # (dim, k)
    cnorm = np.sqrt((C.astype(np.int64) ** 2).sum(axis=0).astype(np.float64))

    @pandas_udf("bigint")
    def assign(qs: pd.Series) -> pd.Series:
        Q = np.stack(qs.to_numpy()).astype(np.int64)  # (B, dim)
        dots = Q @ C  # exact int64
        qnorm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        with np.errstate(invalid="ignore", divide="ignore"):
            csim = dots.astype(np.float64) / (qnorm[:, None] * cnorm[None, :])
        # Zero-norm vectors or centroids yield NaN cosines; the
        # nearest_cell fold never takes a NaN branch (NaN comparisons
        # are false), so mask NaN to -inf for the argmax and keep the
        # fold's -1 seed when no finite cosine beats it — bit-identical
        # on degenerate input instead of argmax-picks-first-NaN.
        nan_mask = np.isnan(csim)
        csim[nan_mask] = -np.inf
        out = cells[np.argmax(csim, axis=1)]
        out = np.where(np.max(csim, axis=1) == -np.inf, np.int64(-1), out)
        return pd.Series(out)

    return assign


def kmeans_refine(v, init_cents, dim: int, iters: int = 1):
    """Lloyd-refine an IVF codebook with one small Spark job per round.

    ``v`` carries a quantized bigint array column ``q``; ``init_cents``
    is the seed codebook ``(cell, cq)``. Each round:

    - assign every vector to its argmax-cosine cell via
      :func:`arrow_assigner` (closure-captured codebook, C-level int64
      matmul, bit-identical to the :func:`nearest_cell` fold) —
      MAP-ONLY, the corpus never shuffles and no join node appears in
      the plan at all;
    - ``groupBy(cell)`` with per-dimension SUM + COUNT aggregates —
      partials combine map-side, so the shuffle moves only
      ``n_cells × dim`` numbers regardless of corpus size;
    - collect the n_cells result rows to the driver (a codebook is a
      tiny MODEL artifact — ``n_cells × dim`` integers — so this is the
      broadcast-variable pattern, not a driver-side data loop) and form
      new centroid = round-half-up(mean) re-quantized to bigint, so the
      next round's cosine stays integer-exact and engine-portable
      (``floor(s/c + 0.5)`` — identical IEEE double math in Python,
      Spark, and DuckDB, unlike engine ``round()`` tie conventions).
      Cosine is scale-invariant, so the re-quantized mean preserves
      assignment semantics while keeping every later dot product within
      bigint range no matter how many members a cell absorbs.

    Collecting per round also keeps each iteration an INDEPENDENT small
    job: the alternative (chaining DataFrame plans across rounds) nests
    every previous round's shuffles under the next round's broadcast
    subquery, which defeats AQE partition coalescing and re-executes the
    whole chain for every downstream consumer.

    Empty cells drop out (standard Lloyd's). Returns the refined
    ``(cell, cq)`` codebook as a small local DataFrame.
    """
    import math

    spark = v.sparkSession
    cent_rows = [(int(r["cell"]), [int(x) for x in r["cq"]]) for r in init_cents.collect()]
    for _ in range(iters):
        assign = arrow_assigner(cent_rows)
        assigned = v.select(F.col("q"), assign(F.col("q")).alias("cell"))
        sums = assigned.groupBy("cell").agg(
            *[
                F.sum(F.element_at(F.col("q"), i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
            F.count("*").alias("c"),
        )
        cent_rows = sorted(
            (
                int(r["cell"]),
                [
                    int(math.floor(int(r[f"s{i}"]) / int(r["c"]) + 0.5))
                    for i in range(dim)
                ],
            )
            for r in sums.collect()
        )
    return spark.createDataFrame(
        [(c, q) for c, q in cent_rows], "cell bigint, cq array<bigint>"
    )


def nearest_cell(q: Column, codebook: Column) -> Column:
    """Map-only nearest-centroid assignment: fold over a (small,
    broadcast) codebook array of ``struct(cell, cq)`` and keep the
    argmax-cosine entry. Returns ``struct(cell, csim)``. Ties prefer the
    smaller cell id, so the result is independent of the codebook's
    array order. No explode, no window, zero shuffle of the corpus —
    this is the assignment step shared by IVF search and SemDedup."""
    # Score each cell ONCE up front (the naive fold re-evaluates the
    # cosine three times per entry — in the comparison, the tie check,
    # and the kept struct — and higher-order functions are interpreted,
    # so that tripling is real wall-clock), then fold for the argmax.
    scored = F.transform(
        codebook,
        lambda c: F.struct(
            c.cell.cast("long").alias("cell"), cosine_q(q, c.cq).alias("csim")
        ),
    )
    return F.aggregate(
        scored,
        F.struct(
            F.lit(-1).cast("long").alias("cell"),
            F.lit(float("-inf")).alias("csim"),
        ),
        lambda acc, s: F.when(
            (s.csim > acc.csim) | ((s.csim == acc.csim) & (s.cell < acc.cell)),
            s,
        ).otherwise(acc),
    )


def pq_encoder(codebooks: np.ndarray):
    """Product-quantization encoder as an Arrow-batched pandas UDF:
    ``codes = enc(q)`` maps a dim-D quantized-int vector to M sub-codes,
    each the argmin integer-L2 centroid of its subspace. ``codebooks``
    is an (M, K, D/M) int64 array — a collected model artifact
    (M·K·D numbers), closure-captured like a broadcast variable.

    Exactness: distances are int64 (no FP), and ``np.argmin`` returns
    the FIRST minimum ⇒ ties break to the LOWEST code — the same
    (dist, code) ordering the DuckDB oracle's ROW_NUMBER uses, so
    encodings are bit-identical by construction."""
    from pyspark.sql.functions import pandas_udf

    CB = codebooks.astype(np.int64)
    m, _k, d_sub = CB.shape

    @pandas_udf("array<int>")
    def enc(qs: pd.Series) -> pd.Series:
        Q = np.stack(qs.to_numpy()).astype(np.int64)  # (B, dim)
        codes = np.empty((Q.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = Q[:, s * d_sub : (s + 1) * d_sub]  # (B, d_sub)
            # (B, K, d_sub) diff without materializing when K small:
            dist = (
                (sub[:, None, :] - CB[s][None, :, :]) ** 2
            ).sum(axis=2)  # exact int64
            codes[:, s] = np.argmin(dist, axis=1)
        return pd.Series([c for c in codes])

    return enc
