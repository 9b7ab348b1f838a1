"""Model-based corpus filtering: a quality classifier TRAINED
DISTRIBUTED with an exact DuckDB twin of the full training loop.

Task: distill the nonlinear quality heuristic (text_quality_score's
least()/ratio formula) into a linear rule-vote model — the standard
"cheap model mimics an expensive labeler" pattern of LLM data
pipelines (fasttext-style quality filters). Features are BINARY
threshold rules on integer counts (token-count bins, punctuation- and
stopword-ratio tests), so every feature has the same scale and the
whole recurrence is integer-exact.

Learner: batch perceptron with WEIGHT AVERAGING (Freund & Schapire
1999). Per-round weights oscillate on non-separable data — visible in
the gated trajectory, and exactly why the averaged model exists — but
the round-summed weight vector is stable (93% agreement with the
teacher heuristic at sf0.01 vs a 52% majority class). Everything is
integer arithmetic, so the DuckDB oracle replays the ENTIRE training
loop in a recursive CTE and the driver hash-checks every round's
weight vector and mistake count — an ORACLE-GATED ITERATIVE TRAINING
query, not a rows-only check.

Scale shape: the feature table is ONE corpus scan of pure JVM
expressions (no UDFs), pinned; each of the 12 rounds is one
map-side-combined aggregate returning d+2 longs per partition; driver
state is d+1 integer weights. Eval's scoring pass is map-only with
the averaged weights folded into the expression.

Reference parity note: the reference engine (icirellik/minoan-athenaeum,
database.py) has no ML surface — SURVEY §2 extension for the
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.operators.classifier import batch_perceptron_train
from minoan_athenaeum_spark.operators.text import (
    STOPWORDS,
    char_count,
    punct_count,
    sql_list,
    stopword_hits,
    token_count,
)
from minoan_athenaeum_spark.queries._util import spread_scan, t
from minoan_athenaeum_spark.registry import query

_ITERS = 12
_EN = sql_list(STOPWORDS["en"])
# (name, spark builder, duckdb expr) for each binary rule feature; the
# integer count columns n_tokens/n_punct/n_chars/n_stop are the same
# driver-proven expressions text_quality_score uses.
_RULES = [
    ("t25", "n_tokens >= 25"),
    ("t50", "n_tokens >= 50"),
    ("t100", "n_tokens >= 100"),
    ("t150", "n_tokens >= 150"),
    ("p20", "20 * n_punct <= n_chars"),
    ("p30", "30 * n_punct <= n_chars"),
    ("p50", "50 * n_punct <= n_chars"),
    ("s10", "10 * n_stop >= n_tokens"),
    ("s20", "20 * n_stop >= n_tokens"),
    ("s5", "5 * n_stop >= n_tokens"),
]
_XCOLS = ["x0"] + [f"x{i + 1}" for i in range(len(_RULES))]
_D = len(_XCOLS)


def feature_frame(docs, with_id: bool = False):
    """Teacher label (+1 = quality heuristic ≥ 0.6) and the binary rule
    features for any frame with a ``text`` column (``doc_id`` carried
    through when ``with_id``). Pure stateless JVM expressions, so the
    same builder runs over the batch corpus AND a document stream."""
    id_cols = ["doc_id"] if with_id else []
    counts = docs.select(
        *id_cols,
        char_count().cast("long").alias("n_chars"),
        token_count().cast("long").alias("n_tokens"),
        punct_count().cast("long").alias("n_punct"),
        stopword_hits("text", "en").cast("long").alias("n_stop"),
    )
    nc = F.col("n_chars").cast("double")
    nt = F.col("n_tokens").cast("double")
    npu = F.col("n_punct").cast("double")
    ns = F.col("n_stop").cast("double")
    quality = (
        F.least(nt / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - npu / nc) * 0.3
        + (ns / nt) * 0.2
    )
    cols = [
        F.when(quality >= 0.6, 1).otherwise(-1).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
    ]
    for i, (_, cond) in enumerate(_RULES):
        cols.append(F.expr(cond).cast("long").alias(f"x{i + 1}"))
    return counts.select(*id_cols, *cols)


def averaged_weights(spark, sf_dir) -> list[int]:
    """The round-summed (averaged) integer weight vector of the
    12-round batch perceptron — the bounded model artifact the scoring
    paths (curation v3/v4/v5, the streaming gate) fold into their
    expressions.

    Warehouse-cached per corpus fingerprint (r13): training is a pure
    deterministic integer function of documents.parquet, so the d+1
    weights are a model artifact exactly like the IVF codebook and the
    LM tables — pay the corpus featurize + 12 aggregate rounds once,
    then every gating query folds the persisted integers. The cache
    file rides the same ``warehouse_index_path`` freshness contract
    (a regenerated corpus resolves to a new path), the write is
    tmp+rename atomic, and cached ≡ retrained is pinned in
    tests/test_classifier_cache.py — so no oracle changes (the oracles
    replay the full training recurrence and land on the same
    integers)."""
    import json
    import os

    from minoan_athenaeum_spark.sources.index_family import (
        warehouse_index_path,
    )

    path = warehouse_index_path(spark, sf_dir, "mas_perceptron", "documents")
    cache = os.path.join(path, "weights.json")
    if os.path.isfile(cache):
        with open(cache, encoding="utf-8") as fh:
            return json.load(fh)
    feats = _features(spark, sf_dir)
    hist = batch_perceptron_train(feats, _XCOLS, "y", iters=_ITERS, lr=1)
    w = [sum(row[2 + i] for row in hist) for i in range(_D)]
    os.makedirs(path, exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(w, fh)
    os.replace(tmp, cache)
    return w


def logit_expr(weights: list[int]):
    """Integer logit s·x as a single JVM expression over x0..xd."""
    dot = F.lit(weights[0]) * F.col("x0")
    for wi, c in zip(weights[1:], _XCOLS[1:]):
        dot = dot + F.lit(wi) * F.col(c)
    return dot


def _features(spark, sf_dir):
    """Batch feature table. The single-file bench corpus scans as ONE
    partition, which made the featurize (regex tokenize + stopword
    hits, the train's only corpus-sized work) a serial task — spread
    it across the cluster first (optimization r13: featurize 4.9 s →
    sub-second at sf0.1). No pin: batch_perceptron_train
    pattern-compresses in a single pass (and pins itself on its
    fallback path), and the eval/filter consumers each aggregate the
    frame exactly once."""
    docs = spread_scan(t(spark, sf_dir, "documents"))
    return feature_frame(docs)


def _feats_sql(with_id: bool = False) -> str:
    rules = ",\n             ".join(
        f"CAST({cond} AS BIGINT) AS x{i + 1}" for i, (_, cond) in enumerate(_RULES)
    )
    id_sel = "doc_id, " if with_id else ""
    return rf"""
      SELECT {id_sel}CASE WHEN least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.5
                     + (1.0 - CAST(n_punct AS DOUBLE)/n_chars)*0.3
                     + (CAST(n_stop AS DOUBLE)/n_tokens)*0.2 >= 0.6
                  THEN 1 ELSE -1 END AS y,
             CAST(1 AS BIGINT) AS x0,
             {rules}
      FROM (
        SELECT {id_sel}CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                    tk -> list_contains({_EN}, tk))) AS BIGINT) AS n_stop
        FROM documents
      )
    """


_DOT = " + ".join(f"w{i} * x{i}" for i in range(_D))
_WLIST = ", ".join(f"w{i}" for i in range(_D))


def _steps_sql() -> str:
    upd = ",\n             ".join(
        f"w{i} + SUM(CASE WHEN y * ({_DOT}) <= 0 THEN y * x{i} ELSE 0 END)"
        for i in range(_D)
    )
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(_D))
    return rf"""
    WITH RECURSIVE feats AS ({_feats_sql()}),
    steps AS (
      SELECT 0 AS it, {zeros}, CAST(0 AS BIGINT) AS mistakes
      UNION ALL
      SELECT it + 1,
             {upd},
             SUM(CASE WHEN y * ({_DOT}) <= 0 THEN 1 ELSE 0 END)
      FROM steps, feats
      WHERE it < {_ITERS}
      GROUP BY it, {_WLIST}, mistakes
    )
    """


_TRAIN_ORACLE = (
    _steps_sql()
    + f"""
    SELECT it, mistakes, {_WLIST} FROM steps WHERE it >= 1
    """
)


@query(
    "ml_perceptron_quality_train",
    oracle=_TRAIN_ORACLE,
    tags=("ml", "classifier", "training"),
)
def ml_perceptron_quality_train(spark, sf_dir):
    """Train the rule-vote batch perceptron for 12 rounds; emit every
    round's mistake count and post-update integer weight vector. The
    DuckDB oracle replays the identical integer recurrence in a
    recursive CTE, so the driver hash-checks the ENTIRE training
    trajectory, not just the final model."""
    hist = batch_perceptron_train(
        _features(spark, sf_dir), _XCOLS, "y", iters=_ITERS, lr=1
    )
    schema = "it long, mistakes long, " + ", ".join(f"w{i} long" for i in range(_D))
    return spark.createDataFrame(hist, schema)


_SDOT = " + ".join(f"s{i} * x{i}" for i in range(_D))
_EVAL_ORACLE = (
    _steps_sql()
    + f"""
    , final AS (
      SELECT {", ".join(f"CAST(SUM(w{i}) AS BIGINT) AS s{i}" for i in range(_D))}
      FROM steps WHERE it >= 1
    )
    SELECT
      CAST(SUM(CASE WHEN y = 1  AND {_SDOT} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN y = -1 AND {_SDOT} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN y = 1  AND {_SDOT} <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(SUM(CASE WHEN y = -1 AND {_SDOT} <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM feats, final
    """
)


@query(
    "ml_perceptron_quality_eval",
    oracle=_EVAL_ORACLE,
    tags=("ml", "classifier", "eval"),
)
def ml_perceptron_quality_eval(spark, sf_dir):
    """Train the same 12 rounds, AVERAGE the round weights (the
    round-summed vector — sign-equivalent to the mean and still
    integer), then score the corpus map-only with the averaged model
    and emit the confusion matrix vs the teacher heuristic. Oracle
    re-derives the averaged weights from the recursive CTE for the
    same counts."""
    feats = _features(spark, sf_dir)
    hist = batch_perceptron_train(feats, _XCOLS, "y", iters=_ITERS, lr=1)
    s = [sum(row[2 + i] for row in hist) for i in range(_D)]
    dot = F.lit(s[0]) * F.col("x0")
    for si, c in zip(s[1:], _XCOLS[1:]):
        dot = dot + F.lit(si) * F.col(c)
    pos = dot > 0
    yc = F.col("y")
    return feats.agg(
        F.sum(F.when((yc == 1) & pos, 1).otherwise(0)).alias("tp"),
        F.sum(F.when((yc == -1) & pos, 1).otherwise(0)).alias("fp"),
        F.sum(F.when((yc == 1) & ~pos, 1).otherwise(0)).alias("fn"),
        F.sum(F.when((yc == -1) & ~pos, 1).otherwise(0)).alias("tn"),
    )


_FILTER_ORACLE = (
    _steps_sql()
    + f"""
    , final AS (
      SELECT {", ".join(f"CAST(SUM(w{i}) AS BIGINT) AS s{i}" for i in range(_D))}
      FROM steps WHERE it >= 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN {_SDOT} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN {_SDOT} > 0 THEN {_SDOT} ELSE 0 END) AS BIGINT) AS kept_logit_sum,
           CAST(MIN(CASE WHEN {_SDOT} > 0 THEN {_SDOT} END) AS BIGINT) AS min_kept_logit,
           CAST(MAX({_SDOT}) AS BIGINT) AS max_logit
    FROM feats, final
    """
)


@query(
    "ml_quality_filter",
    oracle=_FILTER_ORACLE,
    tags=("ml", "classifier", "filter"),
)
def ml_quality_filter(spark, sf_dir):
    """The PRODUCTION step the trainer exists for: score every document
    with the averaged-perceptron model (integer logit = s·x, map-only,
    weights folded into the expression) and keep logit > 0 — the
    model-based quality filter applied to the corpus. Emits the exact
    filter accounting (totals, kept count, integer logit sums/extrema)
    so the driver hash-checks the full scoring pass; the oracle
    re-derives the averaged weights via the recursive CTE. At 100 TB
    this is one codegen map over the corpus — no shuffle at all
    (the aggregate is the verification summary, map-side combined)."""
    feats = _features(spark, sf_dir)
    hist = batch_perceptron_train(feats, _XCOLS, "y", iters=_ITERS, lr=1)
    s = [sum(row[2 + i] for row in hist) for i in range(_D)]
    dot = F.lit(s[0]) * F.col("x0")
    for si, c in zip(s[1:], _XCOLS[1:]):
        dot = dot + F.lit(si) * F.col(c)
    kept = dot > 0
    return feats.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, dot).otherwise(0)).cast("bigint").alias("kept_logit_sum"),
        F.min(F.when(kept, dot)).cast("bigint").alias("min_kept_logit"),
        F.max(dot).cast("bigint").alias("max_logit"),
    )
