"""Text-analysis queries over the documents table (training-data
pipeline surface: token counting, quality scoring, language ID,
fingerprinting). All JVM-side expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minoan_athenaeum_spark.operators.text import (
    STOPWORDS,
    bigram_pairs,
    char_count,
    fingerprint,
    punct_count,
    spark_array,
    sql_list,
    stopword_hits,
    token_count,
    tokens,
)
from minoan_athenaeum_spark.queries._util import spread_scan, t
from minoan_athenaeum_spark.registry import query

_EN = sql_list(STOPWORDS["en"])


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
           length(text) AS n_chars_m
    FROM documents
    """,
    tags=("text",),
)
def text_token_count(spark, sf_dir):
    """Whitespace token count + char count per document."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count().alias("n_tokens"),
        char_count().alias("n_chars_m"),
    )


@query(
    "text_quality_score",
    oracle=rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars_m,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  x -> list_contains({_EN}, x))) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_tokens, n_punct,
           n_punct / n_chars_m AS punct_ratio,
           n_stop / n_tokens AS stop_ratio,
           least(n_tokens / 100.0, 1.0) * 0.5
             + (1.0 - n_punct / n_chars_m) * 0.3
             + (n_stop / n_tokens) * 0.2 AS quality
    FROM m
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark, sf_dir):
    """Heuristic document quality score from length / punctuation /
    stopword ratios (all-double arithmetic, bit-identical to oracle)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        char_count().cast("double").alias("n_chars_m"),
        token_count().cast("double").alias("n_tokens"),
        punct_count().cast("double").alias("n_punct"),
        stopword_hits("text", "en").cast("double").alias("n_stop"),
    )
    punct_ratio = F.col("n_punct") / F.col("n_chars_m")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    quality = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - punct_ratio) * 0.3
        + stop_ratio * 0.2
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_punct",
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


def _langid_oracle() -> str:
    hits = ",\n             ".join(
        rf"len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),"
        rf" x -> list_contains({sql_list(ws)}, x))) AS c_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    return rf"""
    WITH m AS (
      SELECT doc_id, lang AS labeled_lang,
             {hits}
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE
             WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
             WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
             WHEN c_fr >= c_es THEN 'fr'
             ELSE 'es'
           END AS pred_lang,
           c_en, c_de, c_fr, c_es
    FROM m
    """


@query("text_lang_id", oracle=_langid_oracle(), tags=("text", "langid"))
def text_lang_id(spark, sf_dir):
    """N-gram/stopword language-ID heuristic: count stopword hits per
    language, argmax with fixed tie-break order (en > de > fr > es)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[stopword_hits("text", lang).alias(f"c_{lang}") for lang in STOPWORDS],
    )
    pred = (
        F.when(
            (F.col("c_en") >= F.col("c_de"))
            & (F.col("c_en") >= F.col("c_fr"))
            & (F.col("c_en") >= F.col("c_es")),
            F.lit("en"),
        )
        .when((F.col("c_de") >= F.col("c_fr")) & (F.col("c_de") >= F.col("c_es")), "de")
        .when(F.col("c_fr") >= F.col("c_es"), "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id", "labeled_lang", pred.alias("pred_lang"), "c_en", "c_de", "c_fr", "c_es"
    )


@query(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark, sf_dir):
    """MD5 fingerprint of normalized text (dedup key / provenance id)."""
    return t(spark, sf_dir, "documents").select("doc_id", fingerprint().alias("fp"))


@query(
    "text_source_stats",
    oracle=r"""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY source, lang
    """,
    tags=("text", "agg"),
)
def text_source_stats(spark, sf_dir):
    """Corpus composition stats by source × language."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), nsrc AS (
      SELECT COUNT(DISTINCT source) AS n FROM documents
    )
    SELECT source, term, tf, df, rn FROM (
      SELECT tf.source, tf.term, tf.tf, df.df,
             ROW_NUMBER() OVER (
               PARTITION BY tf.source
               ORDER BY CAST(tf.tf * nsrc.n AS DOUBLE) / df.df DESC, tf.term
             ) AS rn
      FROM tf, df, nsrc WHERE tf.term = df.term
    ) WHERE rn <= 3
    """,
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 most source-distinctive terms per source by a TF-IDF-style
    score: term frequency within the source × (n_sources / source-level
    document frequency). The score stays in exact integer products over
    one IEEE division (no transcendental idf), so rankings are identical
    on any engine; ties break on the term itself.

    Scale shape: tokenization is a map-side explode; tf is a partial agg
    on (source, term); df re-aggregates the already-tiny tf table; the
    scalar source count and the df table broadcast into the final
    ranking window, which shuffles only the tf table on source."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    nsrc = d.agg(F.countDistinct("source").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n")).cast("double") / F.col("df")).alias("score"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "tf", "df", "rn")
    )


_CHUNK_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), chunks AS (
      SELECT doc_id, len(tk) AS n_tokens, tk,
             unnest(range(0, 1 + GREATEST(len(tk) - 32 + 23, 0) // 24)) AS chunk_id
      FROM toks
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(tk[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS chunk_len,
           md5(array_to_string(tk[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) AS chunk_fp
    FROM chunks
"""


@query(
    "text_chunk_sliding_window",
    oracle=_CHUNK_ORACLE,
    tags=("text", "chunking", "pipeline"),
)
def text_chunk_sliding_window(spark, sf_dir):
    """Sliding-window document chunking (window 32 tokens, stride 24 ⇒
    8-token overlap) — the RAG-indexing / context-packing primitive.
    Chunk count per doc is ``1 + ceil(max(n−32, 0)/24)`` so coverage is
    complete and the final chunk may be short but never empty; the md5
    of each chunk's joined tokens pins the exact token boundaries (an
    off-by-one in the slice start or window length changes every
    fingerprint).

    All JVM expressions: tokenize → sequence → explode → slice →
    array_join. Map-only with bounded ~n/stride amplification; no
    shuffle at any corpus size."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.lower(F.trim("text")), r"\s+").alias("tk"),
    )
    chunks = toks.select(
        "doc_id",
        "tk",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor(
                    F.greatest(F.size("tk") - 32 + 23, F.lit(0)) / 24
                ).cast("int"),
            )
        ).alias("chunk_id"),
    )
    sliced = F.slice("tk", F.col("chunk_id") * 24 + 1, F.lit(32))
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(sliced).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(sliced, " ").cast("binary")).alias("chunk_fp"),
    )


_INVERTED_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT term, doc_id, COUNT(*) AS tf
      FROM tok WHERE term <> ''
      GROUP BY term, doc_id
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings_head
    FROM tf
    GROUP BY term
"""


@query("text_inverted_index", oracle=_INVERTED_ORACLE, tags=("text", "index"))
def text_inverted_index(spark, sf_dir):
    """Inverted-index build (term -> document-frequency, corpus tf,
    and the posting-list head): the retrieval primitive under corpus
    search, dedup-by-query, and contamination lookups.

    Shape: tokenize -> explode -> per-(term,doc) tf (one shuffle,
    partial-agg combines repeats map-side) -> per-term rollup (second
    shuffle keyed by term). ``postings_head`` is capped at the 20
    smallest doc_ids so the DEMO output is bounded; at 100 TB the full
    posting lists would not pass through collect_list at all — the
    sink path is sources/posting_sink.py::write_posting_segments
    (repartitionByRange(term) + sortWithinPartitions, term-run parquet
    segments, O(1) executor state, stats-pruned term lookups — layout
    pinned in tests/test_posting_sink.py). The tf/df/total_tf
    aggregates here ARE that scale path's statistics pass, unchanged.
    """
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
        ).alias("postings_head"),
    )


_SUFFIX_ARRAY_ORACLE = r"""
    WITH c AS (
      SELECT string_agg(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || '|',
               '' ORDER BY doc_id) AS corpus
      FROM documents WHERE doc_id < 40
    ), p AS (
      SELECT corpus, CAST(UNNEST(range(0, length(corpus))) AS BIGINT) AS pos
      FROM c
    )
    SELECT pos,
           CAST(row_number() OVER (ORDER BY substr(corpus, CAST(pos AS INTEGER) + 1)) - 1
                AS BIGINT) AS rank
    FROM p
"""


@query("text_suffix_array", oracle=_SUFFIX_ARRAY_ORACLE, tags=("text", "suffix-array"))
def text_suffix_array(spark, sf_dir):
    """GLOBAL suffix array by prefix doubling (Manber-Myers) — OPT-IN.

    **Default to** :func:`text_suffix_array_sharded` instead: the
    global doubling form below runs O(log n) corpus-wide shuffles and
    has a measured scratch-disk ceiling (~15M corpus chars on this
    box, BASELINE.md), so at 100 TB it is a scale-killer. The sharded
    form indexes the same volume with zero corpus-wide shuffles
    (measured 103× its throughput at the 1024× probe) and is the
    registered production operator; this global form is retained as
    the definitional oracle twin (exact global ranks across shard
    boundaries) and for corpora that genuinely need one total suffix
    order.

    The index structure under full substring search and
    all-repeated-substrings dedup (Lee et al.'s substring dedup is
    built on exactly this). The corpus is the doc_id-ordered
    concatenation of normalized doc texts (docs < 40, '|'-terminated so
    the oracle stays cheap); the output is the suffix rank of every
    corpus position — i.e. the inverse suffix array.

    Scale shape (operators/suffixarray.py): NOTHING is ever assembled
    on the driver — per-doc offsets come from the two-phase prefix
    scan, each of the ceil(log2 n) doubling rounds is one narrow
    (pos, rank) self-join plus a two-phase distributed dense-rank
    (range-partitioned distinct pairs + broadcast offsets; no global
    window), and lineage is cut per round with localCheckpoint. The
    oracle sorts the actual suffix STRINGS (`ORDER BY substr(corpus,
    pos)`) — rank equality certifies the whole doubling recursion
    against the definition."""
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.suffixarray import (
        corpus_positions,
        suffix_array,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", normalized().alias("txt"))
    )
    chars = corpus_positions(docs, id_col="doc_id", text_col="txt", sep="|")
    chars = chars.persist()
    n = chars.count()
    try:
        return suffix_array(chars, n)
    finally:
        chars.unpersist()


_BIGRAM_LM_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), bg AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)),
                 i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM d
      )
    ), cbg AS (
      SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx FROM cbg GROUP BY w1
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(cbg.c_bg) AS BIGINT) AS numer,
           CAST(SUM(cctx.c_ctx) AS BIGINT) AS denom,
           CAST(CAST(SUM(cbg.c_bg) AS DOUBLE) / CAST(SUM(cctx.c_ctx) AS DOUBLE)
                AS DOUBLE) AS avg_cond_freq
    FROM bg
    JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
    JOIN cctx ON bg.w1 = cctx.w1
    GROUP BY bg.doc_id
"""


@query("text_bigram_lm_score", oracle=_BIGRAM_LM_ORACLE, tags=("text", "lm", "quality"))
def text_bigram_lm_score(spark, sf_dir):
    """Statistical-fluency quality signal: a bigram language model is
    trained on the corpus itself (C(w1,w2) and C(w1) count tables) and
    every document is scored by its average conditional bigram
    frequency Σ C(w1,w2) / Σ C(w1) — the count-based stand-in for LM
    perplexity filtering (a CCNet/KenLM-style pipeline stage). Docs
    full of never-seen-elsewhere transitions score low; formulaic docs
    score high.

    Exactness: both sums are exact BIGINTs and the score is ONE IEEE
    double division — no floating sums, no logs — so the value is
    independent of partitioning and bit-equal across engines.

    Scale shape: tokenize/bigram is a map-side explode; the count
    tables are vocab²-bounded partial aggregates; scoring re-joins the
    corpus bigram stream to the count tables by key (AQE broadcasts
    them when small, hash-join otherwise) and reduces per doc — three
    narrow shuffles total, document text never moves after
    tokenization. Docs with < 2 tokens have no bigrams and are
    excluded (identically in both engines)."""
    from minoan_athenaeum_spark.operators.dedup import normalized

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(normalized(), " ").alias("tk")
    )
    pairs = bigram_pairs("tk")
    bg = d.select("doc_id", F.explode(pairs).alias("g")).select(
        "doc_id", F.col("g.w0").alias("w1"), F.col("g.w1").alias("w2")
    )
    cbg = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    cctx = cbg.groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    return (
        bg.join(cbg, ["w1", "w2"])
        .join(cctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("c_bg").alias("numer"),
            F.sum("c_ctx").alias("denom"),
        )
        .withColumn(
            "avg_cond_freq",
            F.col("numer").cast("double") / F.col("denom").cast("double"),
        )
    )


_LCP_ORACLE = r"""
    WITH c AS (
      SELECT string_agg(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || '|',
               '' ORDER BY doc_id) AS corpus
      FROM documents WHERE doc_id < 40
    ), p AS (
      SELECT corpus, CAST(UNNEST(range(0, length(corpus))) AS BIGINT) AS pos
      FROM c
    ), o AS (
      SELECT corpus, pos,
             CAST(row_number() OVER (ORDER BY substr(corpus, CAST(pos AS INTEGER) + 1)) - 1
                  AS BIGINT) AS rank
      FROM p
    ), pr AS (
      SELECT corpus, rank, pos,
             lag(pos) OVER (ORDER BY rank) AS prev_pos
      FROM o
    )
    SELECT rank, pos,
           CAST(COALESCE(
             (SELECT MAX(i) FROM range(1, 65) r(i)
              WHERE substr(corpus, CAST(prev_pos AS INTEGER) + 1, CAST(i AS INTEGER))
                  = substr(corpus, CAST(pos AS INTEGER) + 1, CAST(i AS INTEGER))),
             0) AS BIGINT) AS lcp64
    FROM pr WHERE prev_pos IS NOT NULL
"""


@query("text_lcp_adjacent", oracle=_LCP_ORACLE, tags=("text", "suffix-array", "lcp"))
def text_lcp_adjacent(spark, sf_dir):
    """LCP ARRAY over the suffix array, by distributed BINARY LIFTING
    (operators/suffixarray.py::lcp_adjacent): for every rank-adjacent
    suffix pair, the length of the common prefix — the structure that
    turns a suffix array into an all-repeated-substrings index (any
    substring repeated anywhere appears as an LCP >= its length;
    max(lcp) IS the longest repeated substring). No Kasai pass: Kasai
    is inherently sequential and needs the text in RAM; lifting is
    O(log n) narrow hash joins over the doubling rank tables the
    suffix-array build already produced.

    Output lcp is capped at 64 ONLY so the oracle's brute-force
    char-compare stays cheap; the Spark side computes the exact value
    and applies least(lcp, 64) at the end. The corpus (docs < 40)
    contains exact-duplicate documents, so deep LCPs (~whole documents)
    are genuinely exercised — the cap is load-bearing, not
    decorative."""
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.suffixarray import (
        corpus_positions,
        lcp_adjacent,
        suffix_array_tables,
    )

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", normalized().alias("txt"))
    )
    chars = corpus_positions(docs, id_col="doc_id", text_col="txt", sep="|")
    chars = chars.persist()
    n = chars.count()
    try:
        _ranks, tables = suffix_array_tables(chars, n)
        lcp = lcp_adjacent(tables)
        return lcp.select(
            "rank", "pos", F.least(F.col("lcp"), F.lit(64)).alias("lcp64")
        )
    finally:
        chars.unpersist()


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

# Fixed demo query terms with deliberately spread document frequencies
# (at sf0.001: 'dup' df=25/500, 'hash' df=381, 'stream' df=394) so the
# idf weighting is genuinely exercised, not a constant factor.
_BM25_TERMS = ("dup", "hash", "stream")
_BM25_K1 = "1.2"
_BM25_B = "0.75"


def bm25_cte() -> str:
    """SQL CTE chain ending in ``bm25(doc_id, bm25)`` — shared by the
    text_bm25_search oracle and the hybrid-retrieval (RRF) oracle in
    queries/similarity.py."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    score_cols = ",\n           ".join(
        f"""coalesce(max(CASE WHEN term = '{t}' THEN
             idf * ((tf * ({k1} + 1.0)) / (tf + {k1} * ((1.0 - {b}) + {b} * (dl / avgdl))))
           END), 0.0) AS s_{t}"""
        for t in _BM25_TERMS
    )
    return rf"""
    d AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM d
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), hit AS (
      SELECT d.doc_id, u.t AS term
      FROM d, UNNEST(toks) AS u(t)
      WHERE u.t IN ({terms})
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM hit GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dl.dl, stats.avgdl,
             (stats.n_docs - df.df + 0.5) / (df.df + 0.5) AS idf
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
    ), per_doc AS (
      SELECT doc_id,
           {score_cols}
      FROM scored GROUP BY doc_id
    ), bm25 AS (
      SELECT doc_id,
             (s_{_BM25_TERMS[0]} + s_{_BM25_TERMS[1]}) + s_{_BM25_TERMS[2]} AS bm25
      FROM per_doc
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {bm25_cte()}
    SELECT doc_id, bm25
    FROM bm25
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


@query("text_bm25_search", oracle=_bm25_oracle(), tags=("text", "search", "bm25"))
def text_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval for a fixed multi-term query — the scoring
    half of corpus search on top of the inverted-index statistics
    (text_inverted_index / sources/posting_sink.py are the index-build
    half; this query IS the lookup-time plan).

    The idf factor is the log-free rational form
    (N - df + 0.5)/(df + 0.5): the standard Robertson idf is
    ln(that + 1), a per-term monotone transform whose libm rounding is
    not engine-portable; the rational form keeps every arithmetic step
    an IEEE-exact double op so the DuckDB twin matches bit-for-bit
    (same discipline as text_bigram_lm_score: no float sums, no
    transcendentals). Per-term partial scores are summed in one fixed
    literal order.

    Scale shape: the term IN-filter runs map-side BEFORE the only
    corpus-sized shuffle (groupBy doc_id,term on matching tokens only —
    at 100 TB with a real posting index this becomes a pruned segment
    read, see posting_sink); df (|Q| rows) and the corpus stats (1 row)
    are broadcast; the final top-20 is TakeOrderedAndProject, never a
    global sort. Document text never shuffles — only (doc_id, term)
    pairs for matched terms.
    """
    return (
        bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _bm25_rank_per_doc(scored, idf_precomputed: bool = False):
    """Shared scoring tail: (doc_id, term, tf, dl, df, n_docs, avgdl)
    → (doc_id, bm25). ONE expression definition used by both the
    explode path and the posting-index path, so their doubles are
    bit-identical by construction (same IEEE ops, same literal sum
    order). With ``idf_precomputed`` the input carries its own ``idf``
    column (the Robertson log-idf variant) and only the tf/length
    normalization + fixed-order sum run here."""
    k1 = float(_BM25_K1)
    b = float(_BM25_B)
    if not idf_precomputed:
        scored = scored.withColumn(
            "idf", (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
    per_term = F.col("idf") * (
        (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * ((1.0 - b) + b * (F.col("dl") / F.col("avgdl"))))
    )
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == term, per_term)), F.lit(0.0)
            ).alias(f"s_{term}")
            for term in _BM25_TERMS
        ]
    )
    total = (
        F.col(f"s_{_BM25_TERMS[0]}") + F.col(f"s_{_BM25_TERMS[1]}")
    ) + F.col(f"s_{_BM25_TERMS[2]}")
    return per_doc.select("doc_id", total.alias("bm25"))


def bm25_per_doc(spark, sf_dir):
    """Per-document BM25 scores (doc_id, bm25) for the fixed demo
    query — the shared lexical leg of text_bm25_search and the hybrid
    RRF fusion in queries/similarity.py."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"),
    )
    hit = d.select(
        "doc_id", F.explode("toks").alias("term")
    ).where(F.col("term").isin(*_BM25_TERMS))
    tf = hit.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return _bm25_rank_per_doc(scored)


def bm25_serve_from_index(spark, idx_path: str):
    """Serve the standard _BM25_TERMS top-20 from a persisted BM25
    index — the ONE serve path shared by the fresh-index, append,
    compact, and streaming-append queries, so every maintenance variant
    is gated through identical scoring. One manifest read fixes the
    snapshot: its exact posting files are scanned with the pinned
    schema (no listing, no schema-inference job) and the term IN-filter
    pushed down (row-group min/max pruning over base + delta
    generations); df is counted exactly over the pruned postings by a
    window partitioned by term (one scan, no df subquery or join);
    n_docs and avgdl are the manifest's exact stats, bound as literals.
    A serve runs 3 Spark jobs: the term shuffle, the doc_id shuffle and
    the top-20. The returned DataFrame reads that snapshot even if one
    further append or compaction commits before it is collected."""
    from pyspark.sql import Window

    from minoan_athenaeum_spark.sources.posting_sink import bm25_snapshot

    postings, stats = bm25_snapshot(spark, idx_path)
    scored = postings.where(F.col("term").isin(*_BM25_TERMS)).select(
        "doc_id",
        "term",
        F.col("tf").cast("double").alias("tf"),
        "dl",
        F.count("*").over(Window.partitionBy("term")).cast("double").alias("df"),
        F.lit(float(stats.n_docs)).alias("n_docs"),
        F.lit(stats.avgdl).alias("avgdl"),
    )
    return (
        _bm25_rank_per_doc(scored)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_bm25_search_indexed",
    oracle=_bm25_oracle(),
    tags=("text", "search", "bm25", "index"),
)
def text_bm25_search_indexed(spark, sf_dir):
    """BM25 ranked retrieval SERVED FROM THE POSTING INDEX — the plan
    text_bm25_search's docstring promises at 100 TB, actually built:
    `sources/posting_sink.py::ensure_bm25_index` materializes
    term-range-segmented postings (term, doc_id, tf, dl — the length
    norm denormalized onto each posting, so query-time scoring is
    JOIN-FREE against the corpus) plus a manifest holding the exact
    corpus stats, once per source fingerprint. Query time: a parquet
    scan with the term IN-filter PUSHED DOWN (row-group min/max on the
    term-sorted segments prune to the matching ranges — no tokenize,
    no explode, no corpus scan), df counted over the pruned postings by
    a window on term (exact: df(t) = posting count of t), corpus stats
    as literals, the SAME shared scoring expression as the explode path
    (bit-identical doubles), TakeOrdered top-20. Same oracle as
    text_bm25_search — the two paths must return identical rows.

    Scale shape: per-query work is proportional to the matched terms'
    posting lists, not the corpus; the index build pays the one
    corpus-sized tokenize+shuffle ONCE (the pay-once posture of
    bucketed tables, applied to search)."""
    from minoan_athenaeum_spark.sources.posting_sink import ensure_bm25_index

    return bm25_serve_from_index(spark, ensure_bm25_index(spark, sf_dir))


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled DuckDB twin of the distributed BPE train: the same
    rounds as chained CTEs, the same left-to-right non-overlap merge
    fold via list_reduce over list-of-lists (explicit acc[:len-1] —
    DuckDB's [:-1] slice is inclusive of the last element)."""
    blocks = [
        r"""
    WITH dict0 AS (
      SELECT regexp_split_to_array(word, '') AS toks, cnt FROM (
        SELECT u.t AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS u(t)
        WHERE u.t != '' GROUP BY 1
      )
    )"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        blocks.append(
            f""", pairs{r} AS (
      SELECT toks[i] AS lft, toks[i+1] AS rgt, CAST(sum(cnt) AS BIGINT) AS pair_count
      FROM dict{p}, UNNEST(range(1, len(toks))) AS u(i)
      GROUP BY 1, 2
    ), best{r} AS (
      SELECT lft, rgt, pair_count FROM pairs{r} ORDER BY pair_count DESC, lft, rgt LIMIT 1
    ), dict{r} AS (
      SELECT list_reduce(list_transform(toks, t -> [t]),
               (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.lft AND x[1] = b.rgt
                                THEN list_append(acc[:len(acc)-1], b.lft || b.rgt)
                                ELSE list_concat(acc, x) END) AS toks, cnt
      FROM dict{p}, best{r} b
    )"""
        )
    selects = [
        f"""SELECT CAST({r} AS INTEGER) AS round, lft AS merge_left, rgt AS merge_right, pair_count,
           (SELECT CAST(sum(len(toks) * cnt) AS BIGINT) FROM dict{r}) AS corpus_tokens_after,
           (SELECT CAST(count(DISTINCT tk) AS BIGINT) FROM dict{r}, UNNEST(toks) AS v(tk)) AS vocab_after
    FROM best{r}"""
        for r in range(1, n_rounds + 1)
    ]
    return "".join(blocks) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@query("text_bpe_train", oracle=_bpe_oracle(), tags=("text", "tokenizer", "bpe"))
def text_bpe_train(spark, sf_dir):
    """DISTRIBUTED BPE MERGE TRAINING (Sennrich et al. 2016) — learn
    the first 6 byte-pair merges of a tokenizer from the corpus, with
    per-round corpus-wide tokenization statistics. The missing piece
    between the corpus and every token-count/packing operator in this
    repo: those assume a tokenizer; this builds one.

    The train runs on the word-frequency dictionary (operators/bpe.py):
    ONE corpus-sized shuffle collapses the corpus to (word, cnt), then
    every merge round is dictionary-sized — pair counts are one small
    groupBy, the argmax pair is TakeOrdered(1) with a total-order
    tie-break, and the merge applies by broadcasting the 1-row winner
    into a JVM array fold (left-to-right non-overlap, reference BPE
    semantics). Nothing collects to the driver; the DuckDB twin replays
    the identical rounds as chained CTEs with list_reduce folds, so
    every learned merge, its frequency, and the post-round corpus
    token totals and symbol-vocabulary sizes are value-hash-gated.

    All outputs are exact integers — no floats anywhere.
    """
    from minoan_athenaeum_spark.operators.bpe import (
        bpe_train_stats,
        word_frequencies,
    )

    docs = t(spark, sf_dir, "documents")
    return bpe_train_stats(word_frequencies(docs), _BPE_ROUNDS)


def _bpe_tokenize_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    """Chain the train CTEs (word column retained), then tokenize every
    document through the learned dict: per-doc token total + an md5
    fingerprint of the space-joined BPE token stream in word order."""
    blocks = [
        r"""
    WITH dict0 AS (
      SELECT word, regexp_split_to_array(word, '') AS toks, cnt FROM (
        SELECT u.t AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS u(t)
        WHERE u.t != '' GROUP BY 1
      )
    )"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        blocks.append(
            f""", pairs{r} AS (
      SELECT toks[i] AS lft, toks[i+1] AS rgt, CAST(sum(cnt) AS BIGINT) AS pair_count
      FROM dict{p}, UNNEST(range(1, len(toks))) AS u(i)
      GROUP BY 1, 2
    ), best{r} AS (
      SELECT lft, rgt FROM pairs{r} ORDER BY pair_count DESC, lft, rgt LIMIT 1
    ), dict{r} AS (
      SELECT word, list_reduce(list_transform(toks, t -> [t]),
               (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.lft AND x[1] = b.rgt
                                THEN list_append(acc[:len(acc)-1], b.lft || b.rgt)
                                ELSE list_concat(acc, x) END) AS toks, cnt
      FROM dict{p}, best{r} b
    )"""
        )
    return "".join(blocks) + f""", docarr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
      FROM documents
    ), docwords AS (
      SELECT doc_id, arr[i] AS word, i AS pos
      FROM docarr, UNNEST(range(1, len(arr) + 1)) AS u(i)
      WHERE arr[i] != ''
    )
    SELECT dw.doc_id,
           CAST(sum(len(k.toks)) AS BIGINT) AS n_bpe_tokens,
           md5(string_agg(array_to_string(k.toks, ' '), ' ' ORDER BY dw.pos)) AS stream_md5
    FROM docwords dw JOIN dict{n_rounds} k USING (word)
    GROUP BY dw.doc_id"""


@query("text_bpe_tokenize", oracle=_bpe_tokenize_oracle(), tags=("text", "tokenizer", "bpe"))
def text_bpe_tokenize(spark, sf_dir):
    """END-TO-END BPE TOKENIZATION: train the 6-merge tokenizer
    (text_bpe_train's chain, word column retained) and run every
    document through it. Output per doc: the BPE token count and an md5
    fingerprint of the full space-joined token stream in document
    order — the hash pins every token boundary of every document, so a
    single wrong merge application anywhere in the corpus flips the
    value-hash gate.

    Scale shape: the learned dict is the word-frequency vocabulary —
    BROADCAST — so tokenizing the corpus is a map-side join (word ->
    toks) plus a per-doc reassembly groupBy whose state is bounded by
    document length. The corpus shuffles once, keyed by doc_id, as
    (pos, toks) pairs; document text itself never enters an exchange.
    """
    from minoan_athenaeum_spark.operators.bpe import (
        bpe_learned_dict,
        word_frequencies,
    )

    docs = t(spark, sf_dir, "documents")
    dic = bpe_learned_dict(word_frequencies(docs), _BPE_ROUNDS)
    docwords = docs.select(
        "doc_id",
        F.posexplode(tokens()).alias("pos", "word"),
    ).where(F.col("word") != "")
    joined = docwords.join(F.broadcast(dic), "word")
    return joined.groupBy("doc_id").agg(
        F.sum(F.size("toks")).cast("bigint").alias("n_bpe_tokens"),
        F.md5(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                        lambda s: s.toks,
                    )
                ),
                " ",
            )
        ).alias("stream_md5"),
    )


# ---------------------------------------------------------------------------
# Term drift between corpus halves (distribution-shift monitor)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = r"""
    WITH tok AS (
      SELECT CASE WHEN doc_id * 2 < (SELECT max(doc_id) + 1 FROM documents)
                  THEN 0 ELSE 1 END AS half,
             u.t AS term
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS u(t)
      WHERE u.t != ''
    ), cnt AS (
      SELECT term,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM tok GROUP BY term
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2,
             CAST(count(*) AS BIGINT) AS v
      FROM cnt
    )
    SELECT term, c1, c2,
           CAST((c1 + 1) * (t2 + v) AS DOUBLE) / CAST((c2 + 1) * (t1 + v) AS DOUBLE) AS drift_ratio
    FROM cnt, tot
    WHERE c1 + c2 >= 5
    ORDER BY drift_ratio DESC, term
    LIMIT 25
"""


@query("text_term_drift", oracle=_DRIFT_ORACLE, tags=("text", "drift"))
def text_term_drift(spark, sf_dir):
    """CORPUS DRIFT MONITOR: Laplace-smoothed relative term frequency
    ratio between the first and second half of the corpus (by doc_id) —
    the distribution-shift screen run between crawl snapshots before
    retraining ("which terms exploded or vanished?"). drift_ratio =
    ((c1+1)(t2+V)) / ((c2+1)(t1+V)): exact integer products, ONE double
    division — engine-portable, no logs (the log of this is exactly the
    smoothed log-odds score, and log is monotone, so the RANKING is the
    textbook one).

    Scale shape: tokenize-explode with the half label computed map-side
    (one broadcast scalar for the doc_id split point), one term-keyed
    groupBy with conditional partial aggregates, broadcast 1-row
    totals; top-25 via TakeOrderedAndProject.
    """
    docs = t(spark, sf_dir, "documents")
    split_pt = docs.agg((F.max("doc_id") + 1).alias("n_span"))
    tok = (
        docs.crossJoin(F.broadcast(split_pt))
        .select(
            F.when(F.col("doc_id") * 2 < F.col("n_span"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("half"),
            F.explode(tokens()).alias("term"),
        )
        .where(F.col("term") != "")
    )
    cnt = tok.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    tot = cnt.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
        F.count("*").cast("bigint").alias("v"),
    )
    out = (
        cnt.where(F.col("c1") + F.col("c2") >= 5)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "c1",
            "c2",
            (
                ((F.col("c1") + 1) * (F.col("t2") + F.col("v"))).cast("double")
                / ((F.col("c2") + 1) * (F.col("t1") + F.col("v"))).cast("double")
            ).alias("drift_ratio"),
        )
    )
    return out.orderBy(F.col("drift_ratio").desc(), "term").limit(25)


_DIVERSITY_ORACLE = r"""
    WITH tok AS (
      SELECT source, u.t AS term
      FROM documents, UNNEST(regexp_split_to_array(lower(trim(text)), '\s+')) AS u(t)
      WHERE u.t != ''
    ), cnt AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c * (c - 1)) AS BIGINT) AS pairs_same
      FROM cnt GROUP BY 1
    )
    SELECT source, n AS n_tokens, vocab,
           CAST(pairs_same AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS simpson_index,
           CAST(vocab AS DOUBLE) / CAST(n AS DOUBLE) AS type_token_ratio
    FROM tot
"""


@query("text_simpson_diversity", oracle=_DIVERSITY_ORACLE, tags=("text", "diversity"))
def text_simpson_diversity(spark, sf_dir):
    """LEXICAL DIVERSITY per source: Simpson's index
    D = Σ c_i(c_i-1) / (N(N-1)) — the probability two tokens drawn
    without replacement are the same type — plus the type-token ratio.
    The corpus-composition screen next to text_source_stats (a
    source whose diversity collapses is boilerplate or template spam).
    Exact integer numerator and denominator, ONE double division each —
    engine-portable, no entropy logs (Simpson is the log-free diversity
    index, which is why it's the one chosen here).

    Scale shape: tokenize-explode, one (source, term) groupBy with
    map-side combine, then a source-cardinality rollup. Nothing else.
    """
    tok = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(tokens()).alias("term"))
        .where(F.col("term") != "")
    )
    cnt = tok.groupBy("source", "term").agg(F.count("*").cast("bigint").alias("c"))
    tot = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("pairs_same"),
    )
    return tot.select(
        "source",
        F.col("n").alias("n_tokens"),
        "vocab",
        (
            F.col("pairs_same").cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        ).alias("simpson_index"),
        (F.col("vocab").cast("double") / F.col("n").cast("double")).alias(
            "type_token_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------

_PHRASE = ("hash", "join")

_PHRASE_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
      FROM documents
    ), p1 AS (
      SELECT doc_id, i AS pos FROM d, UNNEST(range(1, len(a) + 1)) AS u(i)
      WHERE a[i] = '{_PHRASE[0]}'
    ), p2 AS (
      SELECT doc_id, i AS pos FROM d, UNNEST(range(1, len(a) + 1)) AS u(i)
      WHERE a[i] = '{_PHRASE[1]}'
    )
    SELECT p1.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(p1.pos) AS BIGINT) AS first_pos
    FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
    GROUP BY p1.doc_id
"""


@query("text_phrase_search", oracle=_PHRASE_ORACLE, tags=("text", "search", "phrase"))
def text_phrase_search(spark, sf_dir):
    """POSITIONAL PHRASE SEARCH for the ``_PHRASE`` constant
    ("hash join"): exact adjacent-term
    matching via positional postings — the search-engine feature
    bag-of-words BM25 (text_bm25_search) cannot express. Each phrase
    term's postings are (doc_id, position) pairs extracted map-side
    with the term filter BEFORE any shuffle; the phrase match is one
    equi-join on (doc_id, pos+1 = pos) — adjacency as a JOIN KEY, so
    Catalyst hash-joins it (no positional BNLJ). Longer phrases chain
    one join per extra term. Output per matching doc: occurrence count
    and first position.

    At 100 TB the postings come from the positional segment store
    (sources/posting_sink.py) with term-range pruning, replacing the
    tokenize-scan here; the join-side plan is identical.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "term")
    )
    p1 = d.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", (F.col("pos0") + 1).alias("pos")
    )
    p2 = d.where(F.col("term") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_id2"), (F.col("pos0") + 1).alias("pos2")
    )
    matched = p1.join(
        p2,
        (F.col("doc_id2") == F.col("doc_id")) & (F.col("pos2") == F.col("pos") + 1),
    )
    return matched.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


_CCNET_ORACLE = r"""
    WITH d AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), ref_bg AS (
      SELECT g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM d WHERE lang = 'en'
      )
    ), cbg AS (
      SELECT w1, w2, COUNT(*) AS c_bg FROM ref_bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx FROM cbg GROUP BY w1
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT UNNEST(tk) AS w FROM d WHERE lang = 'en')
    ), bg AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM d
      )
    ), sc AS (
      SELECT bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(COALESCE(cbg.c_bg, 0)) + COUNT(*) AS BIGINT) AS numer,
             CAST(SUM(COALESCE(cctx.c_ctx, 0)) + COUNT(*) * vocab.v AS BIGINT) AS denom
      FROM bg
      LEFT JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
      LEFT JOIN cctx ON bg.w1 = cctx.w1, vocab
      GROUP BY bg.doc_id, vocab.v
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY CAST(numer AS DOUBLE) / denom DESC, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM sc
    )
    SELECT doc_id, n_bg, numer, denom,
           CASE WHEN (rn - 1) * 3 < n THEN 'head'
                WHEN (rn - 1) * 3 < 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
"""


@query("text_ccnet_ppl_buckets", oracle=_CCNET_ORACLE, tags=("text", "lm", "quality", "ccnet"))
def text_ccnet_ppl_buckets(spark, sf_dir):
    """FLUENCY-RATIO bucketing — the cheap SCREENING HEURISTIC next to
    the faithful log-domain `text_ccnet_ppl_buckets_log`. A bigram LM
    is trained on the REFERENCE slice of the corpus (lang='en' — the
    role Wikipedia plays in CCNet, Wenzek et al. 2020), every document
    is scored with ADD-ONE smoothing, and documents split into
    head/middle/tail terciles. The score here is the RATIO OF SUMS
    Σ(c_bg+1) / Σ(c_ctx+V) — NOT a perplexity: one very frequent
    bigram can dominate a document's ratio, where in log space every
    transition contributes equally. Use this variant as a first-pass
    screen (it needs no log at all and the sums are exact BIGINTs);
    use the _log variant for CCNet-faithful tercile assignment.

    Exactness: smoothed numerator Σc_bg + n and denominator
    Σc_ctx + n·V are exact BIGINTs (ONE terminal double division
    orders the terciles; doubles are bit-equal across engines so the
    rank order is too, with doc_id tie-breaks).

    Scale shape: the reference count tables grow with reference-corpus
    size (bigram TYPES follow Heaps' law — they are NOT |V|-bounded),
    so at 100 TB the c_bg table won't broadcast: the score join
    degrades to a shuffle join keyed by bigram, which AQE skew-splits
    on the Zipf head. The corpus-side stream is re-joined by key; the
    tercile rank is the range-partitioned two-phase global rank, NO
    single-reducer window; the only window left is the oracle twin's,
    not the plan's."""
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    # featurize ONCE: tokenize in parallel (the single-file bench table
    # scans as one partition) and pin the token table — the LM branches
    # (bigram counts, context counts, vocab, per-doc scoring) otherwise
    # each re-run the corpus tokenize as their own single-task
    # broadcast job. At 100 TB this checkpoint is the featurize-once
    # layout: land the token table columnar once, serve every branch.
    d = (
        spread_scan(t(spark, sf_dir, "documents"))
        .select("doc_id", "lang", F.split(normalized(), " ").alias("tk"))
        .localCheckpoint(eager=True)
    )
    pairs = bigram_pairs("tk")
    withbg = d.withColumn("g", pairs)
    ref = withbg.filter(F.col("lang") == "en")
    ref_bg = ref.select(F.explode("g").alias("p")).select(
        F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2")
    )
    cbg = ref_bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    cctx = cbg.groupBy("w1").agg(F.sum("c_bg").cast("bigint").alias("c_ctx"))
    vocab = ref.select(F.explode("tk").alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    bg = withbg.select("doc_id", F.explode("g").alias("p")).select(
        "doc_id", F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2")
    )
    sc = (
        bg.join(cbg, ["w1", "w2"], "left")
        .join(cctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "v")
        .agg(
            F.count("*").cast("bigint").alias("n_bg"),
            (F.sum(F.coalesce(F.col("c_bg"), F.lit(0))) + F.count("*"))
            .cast("bigint")
            .alias("numer"),
            (
                F.sum(F.coalesce(F.col("c_ctx"), F.lit(0)))
                + F.count("*") * F.first("v")
            )
            .cast("bigint")
            .alias("denom"),
        )
        .select("doc_id", "n_bg", "numer", "denom")
    )
    scored = sc.withColumn(
        "neg", -(F.col("numer").cast("double") / F.col("denom").cast("double"))
    ).localCheckpoint(eager=True)
    # ^ pin per-doc scores before ranking — see the _log twin's note
    ranked = grouped_two_phase_rank(scored, [], ["neg", "doc_id"], out_col="rn")
    # count over RANKED (built on grouped_two_phase_rank's localCheckpoint)
    # — counting `sc` instead would re-run the whole score pipeline
    n = ranked.agg(F.count("*").cast("bigint").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_bg",
        "numer",
        "denom",
        F.when((F.col("rn") - 1) * 3 < F.col("n"), "head")
        .when((F.col("rn") - 1) * 3 < 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# CCNet log-perplexity bucketing (the faithful log-domain variant)
# ---------------------------------------------------------------------------

from minoan_athenaeum_spark.operators.intlog import (  # noqa: E402
    log2_fixed_pandas,
    log2_lookup_cte,
    with_log2_fixed,
)

def ccnet_log_bucket_cte(prefix: str = "cl") -> str:
    """WITH-body CTE chain (no leading WITH) ending in
    ``{prefix}buckets(doc_id, n_bg, lg_sum, bucket)`` — the log-domain
    CCNet tercile assignment as a composable SQL fragment, shared by
    text_ccnet_ppl_buckets_log's oracle and the curation-v4 capstone
    oracle (every CTE name carries ``prefix`` to avoid collisions with
    the host query's CTEs)."""
    p = prefix
    return (
        rf"""{p}d AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), {p}ref_bg AS (
      SELECT g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM {p}d WHERE lang = 'en'
      )
    ), {p}cbg AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg FROM {p}ref_bg GROUP BY w1, w2
    ), {p}cctx AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx FROM {p}cbg GROUP BY w1
    ), {p}vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT UNNEST(tk) AS w FROM {p}d WHERE lang = 'en')
    ), {p}xvals AS (
      SELECT DISTINCT c_bg + 1 AS x FROM {p}cbg
      UNION
      SELECT DISTINCT {p}cctx.c_ctx + {p}vocab.v AS x FROM {p}cctx, {p}vocab
      UNION
      SELECT v AS x FROM {p}vocab
    ),
    """
        + log2_lookup_cte(f"{p}xvals", f"{p}lgtab")
        + rf""",
    {p}lgv AS (
      SELECT {p}lgtab.lg AS lgv FROM {p}lgtab JOIN {p}vocab ON {p}lgtab.x = {p}vocab.v
    ), {p}cbg2 AS (
      SELECT {p}cbg.w1, {p}cbg.w2, {p}lgtab.lg AS lg_bg
      FROM {p}cbg JOIN {p}lgtab ON {p}lgtab.x = {p}cbg.c_bg + 1
    ), {p}cctx2 AS (
      SELECT {p}cctx.w1, {p}lgtab.lg AS lg_ctx
      FROM {p}cctx, {p}vocab
      JOIN {p}lgtab ON {p}lgtab.x = {p}cctx.c_ctx + {p}vocab.v
    ), {p}bg AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM {p}d
      )
    ), {p}sc AS (
      SELECT {p}bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(COALESCE({p}cbg2.lg_bg, 0)
                      - COALESCE({p}cctx2.lg_ctx, {p}lgv.lgv)) AS BIGINT) AS lg_sum
      FROM {p}bg
      LEFT JOIN {p}cbg2 ON {p}bg.w1 = {p}cbg2.w1 AND {p}bg.w2 = {p}cbg2.w2
      LEFT JOIN {p}cctx2 ON {p}bg.w1 = {p}cctx2.w1, {p}lgv
      GROUP BY {p}bg.doc_id
    ), {p}ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               ORDER BY CAST(lg_sum AS DOUBLE) / n_bg DESC, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM {p}sc
    ), {p}buckets AS (
      SELECT doc_id, n_bg, lg_sum,
             CASE WHEN (rn - 1) * 3 < n THEN 'head'
                  WHEN (rn - 1) * 3 < 2 * n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM {p}ranked
    )"""
    )


_CCNET_LOG_ORACLE = (
    "\n    WITH "
    + ccnet_log_bucket_cte("cl")
    + "\n    SELECT doc_id, n_bg, lg_sum, bucket FROM clbuckets\n"
)


@query(
    "text_ccnet_ppl_buckets_log",
    oracle=_CCNET_LOG_ORACLE,
    tags=("text", "lm", "quality", "ccnet", "perplexity"),
)
def text_ccnet_ppl_buckets_log(spark, sf_dir):
    """CCNet perplexity bucketing, LOG-DOMAIN (Wenzek et al. 2020,
    faithful form): train a bigram LM with add-one smoothing on the
    reference slice (lang='en'), score every document by its average
    log-probability (1/n)·Σ log((c_bg+1)/(c_ctx+V)) — equivalently
    negative log-perplexity — and bucket into head/middle/tail
    terciles (head = lowest perplexity). Unlike the ratio-of-sums
    screening heuristic (`text_ccnet_ppl_buckets`), every transition
    contributes equally here: one frequent bigram cannot mask a
    disfluent document.

    Exactness without libm: the log is the QUANTIZED fixed-point
    integer log2 L(x) (operators/intlog.py — msb-normalize +
    shift-and-square, Q24), so per-document lg_sum =
    Σ(L(c_bg+1) − L(c_ctx+V)) is an exact BIGINT that any engine
    reproduces bit-for-bit; the oracle replays the identical integer
    recurrence as a generated CTE chain. One terminal IEEE double
    division (lg_sum/n_bg) orders the terciles, doc_id tie-break.
    Quantization (2^-24, ±~25·2^-30 truncation) is part of the
    operator contract — validated against float log2 in
    tests/test_intlog.py.

    Scale shape: L is evaluated on the DISTINCT-key count tables
    (|bigram types| and |contexts| rows, NOT the corpus instance
    stream) as ~60 int64 codegen expressions per distinct count; the
    corpus pays only the same two score joins as the heuristic
    variant (bigram-keyed shuffle joins at 100 TB — Heaps' law means
    the count tables outgrow broadcast; AQE skew-splits the Zipf
    head), one map-side-combined per-doc aggregate, and the two-phase
    global rank. No single-reducer window, no driver collect."""
    d = ccnet_tokenized(spark, sf_dir)
    withbg = d.withColumn("g", bigram_pairs("tk"))
    cbg2, cctx2, lgv = ccnet_lm_fit(withbg)
    return ccnet_bucketize(ccnet_score_docs(withbg, cbg2, cctx2, lgv))


@query(
    "text_ccnet_buckets_indexed",
    oracle=_CCNET_LOG_ORACLE,
    tags=("text", "lm", "quality", "ccnet", "index", "incremental"),
)
def text_ccnet_buckets_indexed(spark, sf_dir):
    """CCNet log-perplexity buckets served from the PERSISTED LM-bucket
    index (sources/lm_index.py — the seventh index family, VERDICT
    r12 #1): ensure builds the frozen LM tables + per-doc score table
    once per corpus fingerprint; serving is one parquet scan of the
    score table + the shared two-phase tercile rank. The oracle is the
    from-scratch query's oracle UNCHANGED — a green row proves
    index-served ≡ recomputed bit-for-bit (shared fit/score/bucketize
    expressions; integer Q24 logs and bigint sums round-trip parquet
    exactly). This is the serve path the curation capstones v4/v5 gate
    on.

    Scale shape: serve touches |docs| score rows only — no tokenize,
    no bigram/context count shuffles, no log recurrence (plan pinned
    in tests/test_plan_shape.py). Appends score the batch against the
    frozen LM (model-artifact contract, like the IVF codebook) and the
    read-time rank keeps terciles consistent with every landed
    generation."""
    from minoan_athenaeum_spark.sources.lm_index import (
        ensure_lm_index,
        read_lm_buckets,
    )

    return read_lm_buckets(spark, ensure_lm_index(spark, sf_dir))


# The fit / score / bucketize stages below are shared VERBATIM between
# the from-scratch query above and the persisted LM-bucket index family
# (sources/lm_index.py, VERDICT r12 #1) — serving from the index is
# bit-equal to recomputing because both paths run these exact
# expressions (integer lg values round-trip through parquet exactly).


def ccnet_tokenized(spark, sf_dir):
    """(doc_id, lang, tk) — the corpus tokenized ONCE, in parallel, and
    pinned. The LM branches (bigram counts, context counts, vocab,
    per-doc scoring) otherwise each re-run the corpus tokenize as their
    own single-task broadcast job (the single-file bench table scans as
    one partition). At 100 TB this checkpoint is the featurize-once
    layout: land the token table columnar once, serve every branch."""
    from minoan_athenaeum_spark.operators.dedup import normalized

    return (
        spread_scan(t(spark, sf_dir, "documents"))
        .select("doc_id", "lang", F.split(normalized(), " ").alias("tk"))
        .localCheckpoint(eager=True)
    )


def ccnet_lm_fit(withbg):
    """Train the add-one bigram LM on the lang='en' reference slice of
    ``withbg`` (doc_id, lang, tk, g): returns the three log-domain
    tables (cbg2 (w1, w2, lg_bg), cctx2 (w1, lg_ctx), lgv 1-row) — the
    frozen model artifact the index family persists.

    Quantized log2 via ONE lookup table over the union of distinct
    count values (the oracle's xvals/lgtab shape exactly), computed by
    the Arrow-vectorized intlog twin (``log2_fixed_pandas`` —
    bit-identical to the JVM recurrence, pinned in
    tests/test_intlog.py). The lookup is distinct-count-valued
    (O(sqrt(corpus bigrams)) rows by Zipf — bounded; and the pandas
    form is a distributed vectorized map either way, not a collect).
    r13: the JVM ``with_log2_fixed`` form carried ~110 named
    projections that appear in THREE join subtrees of this fit
    (cbg2/cctx2/lgv), and the measured cost was driver-side — ~3.4 s
    of analysis/optimization/codegen gap per run (job-timeline probe)
    for expressions whose execution takes microseconds. One
    ArrowEvalPython node replaces all of it; AQE still broadcasts the
    lookup joins back."""
    ref = withbg.filter(F.col("lang") == "en")
    ref_bg = ref.select(F.explode("g").alias("p")).select(
        F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2")
    )
    cbg = ref_bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c_bg"))
    cctx = cbg.groupBy("w1").agg(F.sum("c_bg").cast("bigint").alias("c_ctx"))
    vocab = ref.select(F.explode("tk").alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    cctx_v = cctx.crossJoin(F.broadcast(vocab))
    xs = (
        cbg.select((F.col("c_bg") + 1).alias("x"))
        .union(cctx_v.select((F.col("c_ctx") + F.col("v")).alias("x")))
        .union(vocab.select(F.col("v").alias("x")))
        .distinct()
    )
    lgtab = xs.select("x", log2_fixed_pandas()(F.col("x")).alias("lg"))
    cbg2 = (
        cbg.join(lgtab, cbg["c_bg"] + 1 == lgtab["x"])
        .select("w1", "w2", F.col("lg").alias("lg_bg"))
    )
    cctx2 = (
        cctx_v.join(lgtab, cctx_v["c_ctx"] + cctx_v["v"] == lgtab["x"])
        .select("w1", F.col("lg").alias("lg_ctx"))
    )
    lgv = vocab.join(lgtab, vocab["v"] == lgtab["x"]).select(
        F.col("lg").alias("lgv")
    )
    return cbg2, cctx2, lgv


def ccnet_score_docs(withbg, cbg2, cctx2, lgv):
    """Per-document LM scores (doc_id, n_bg, lg_sum) for ``withbg``
    (doc_id, g) under a FIXED fitted LM: unseen bigram → lg_bg = 0
    (log2 1), unseen context → the vocab log. Map-only explode plus
    two bigram-keyed joins — the shape both the from-scratch query and
    the index family's batch-append scoring pay."""
    bg = withbg.select("doc_id", F.explode("g").alias("p")).select(
        "doc_id", F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2")
    )
    return (
        bg.join(cbg2, ["w1", "w2"], "left")
        .join(cctx2, "w1", "left")
        .crossJoin(F.broadcast(lgv))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bg"),
            F.sum(
                F.coalesce(F.col("lg_bg"), F.lit(0))
                - F.coalesce(F.col("lg_ctx"), F.col("lgv"))
            )
            .cast("bigint")
            .alias("lg_sum"),
        )
    )


def ccnet_bucketize(sc):
    """Tercile assignment over a score table (doc_id, n_bg, lg_sum):
    rank by average log-prob descending (head = lowest perplexity),
    doc_id tie-break, two-phase global rank — (doc_id, n_bg, lg_sum,
    bucket). Derived at READ time by the index family so appended
    score generations always bucket consistently with the full
    current score set (terciles are global state — storing them would
    go stale on every append)."""
    from minoan_athenaeum_spark.operators.scan import grouped_two_phase_rank

    scored = sc.withColumn(
        "neg", -(F.col("lg_sum").cast("double") / F.col("n_bg").cast("double"))
    ).localCheckpoint(eager=True)
    # ^ pin the per-doc scores (|docs| rows) before ranking: the range
    # partitioner SAMPLES its input, so an unpinned rank would run the
    # whole score pipeline twice (sample pass + shuffle pass)
    ranked = grouped_two_phase_rank(scored, [], ["neg", "doc_id"], out_col="rn")
    # count over RANKED (built on grouped_two_phase_rank's localCheckpoint)
    # — counting `sc` instead would re-run the whole score pipeline
    n = ranked.agg(F.count("*").cast("bigint").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_bg",
        "lg_sum",
        F.when((F.col("rn") - 1) * 3 < F.col("n"), "head")
        .when((F.col("rn") - 1) * 3 < 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(
    "text_bm25_index_append",
    oracle=_bm25_oracle(),
    tags=("text", "search", "bm25", "index", "incremental"),
)
def text_bm25_index_append(spark, sf_dir):
    """INCREMENTAL BM25 index maintenance, served end-to-end: the base
    index holds the EXISTING corpus (doc_id % 10 != 0, built once per
    source fingerprint — the same generation convention as the
    incremental LSH dedup), the arriving batch (doc_id % 10 == 0) is
    folded in via `append_to_bm25_index` (a delta posting generation +
    exact integer stats merge, one manifest commit), and the standard
    _BM25_TERMS query is served from the APPENDED index. The oracle is the full-corpus BM25 twin —
    identical to text_bm25_search's — so a green row proves
    append-then-serve ≡ rebuild-then-serve through the entire ranking
    math (df from base+delta postings, avgdl from merged exact sums).

    The append lands in a scratch copy of the base index (refreshed
    per run), so the fingerprint-keyed base stays pristine and the
    query is deterministic under re-execution.

    Scale shape: the corpus pays NOTHING per batch — only the batch is
    tokenized, and the append is map-only: ONE Spark job coalesces the
    batch to one partition, tokenizes, counts, sorts and writes its one
    delta file, observing the batch's stats on the way; the stats merge
    is integer arithmetic in the manifest. Serving (3 jobs) reads base +
    one delta generation with the term filter pushed into both
    (row-group min/max pruning);
    generations compact by rewriting through write_posting_segments."""
    import shutil

    from minoan_athenaeum_spark.sources.index_family import scratch_dir
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        ensure_bm25_index,
    )

    base = ensure_bm25_index(spark, sf_dir, slice_="existing")
    work = scratch_dir(base + "_appendwork")
    shutil.copytree(base, work)
    batch = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    append_to_bm25_index(spark, work, batch)
    return bm25_serve_from_index(spark, work)


@query(
    "text_bm25_index_compact",
    oracle=_bm25_oracle(),
    tags=("text", "search", "bm25", "index", "incremental", "compaction"),
)
def text_bm25_index_compact(spark, sf_dir):
    """BM25 INDEX COMPACTION, gated end-to-end (VERDICT r7 #4): the
    arriving corpus tenth lands as THREE separate append generations
    (doc_id % 30 ∈ {0, 10, 20} — three independent
    `append_to_bm25_index` folds, each its own delta generation +
    exact stats merge), then `compact_bm25_index` rewrites base +
    deltas into fresh term-range segments, and the standard
    _BM25_TERMS query is served from the COMPACTED index. The oracle
    is the full-corpus BM25 twin — the same one the fresh-build,
    single-append, and streaming-append queries carry — so a green
    row proves append×3-then-compact-then-serve ≡ rebuild-then-serve
    through the whole ranking math.

    This is the LSM read-amplification answer the append path's
    docstring promised: generations accumulate one delta file per
    fold (serve-time row-group pruning still works, but file-open
    cost grows linearly), and compaction restores the
    one-segment-per-term-range layout with one index-sized rewrite —
    rows unchanged by construction, published as one new generation by
    a manifest commit so serving never sees a half-written index. The
    measured many-delta vs compacted serve A/B lives in BASELINE.md;
    the file-count + row-identity pins in tests/test_posting_sink.py."""
    import shutil

    from minoan_athenaeum_spark.sources.index_family import scratch_dir
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        compact_bm25_index,
        ensure_bm25_index,
    )

    base = ensure_bm25_index(spark, sf_dir, slice_="existing")
    work = scratch_dir(base + "_compactwork")
    shutil.copytree(base, work)
    arriving = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    for r in (0, 10, 20):
        append_to_bm25_index(spark, work, arriving.filter(F.col("doc_id") % 30 == r))
    compact_bm25_index(spark, work)
    return bm25_serve_from_index(spark, work)


_SUFFIX_SHARDED_ORACLE = r"""
    WITH c AS (
      SELECT source AS shard,
             string_agg(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || '|',
               '' ORDER BY doc_id) AS corpus
      FROM documents WHERE doc_id < 120
      GROUP BY source
    ), p AS (
      SELECT shard, corpus,
             CAST(UNNEST(range(0, length(corpus))) AS BIGINT) AS pos
      FROM c
    )
    SELECT shard, pos,
           CAST(row_number() OVER (
                  PARTITION BY shard
                  ORDER BY substr(corpus, CAST(pos AS INTEGER) + 1)) - 1
                AS BIGINT) AS rank
    FROM p
"""


@query(
    "text_suffix_array_sharded",
    oracle=_SUFFIX_SHARDED_ORACLE,
    tags=("text", "suffix-array", "sharded"),
)
def text_suffix_array_sharded(spark, sf_dir):
    """PER-SHARD SUFFIX ARRAYS — the bounded production form of
    text_suffix_array (VERDICT r6 #4). The global prefix-doubling
    array is the repo's one O(log n)-corpus-shuffle operator; at
    100 TB that's days. Lee et al.'s deduplicate-text-datasets (the
    public tooling this family mirrors) builds suffix arrays over
    bounded CHUNKS instead — here each shard (the `source` column:
    domain/date/crawl in production) concatenates its docs in doc_id
    order and builds its inverse suffix array INSIDE one Arrow task
    (numpy prefix doubling, operators/suffixarray.py::
    np_inverse_suffix_array — the same Manber-Myers recurrence,
    vectorized). ONE groupBy(shard) exchange total, zero corpus-wide
    shuffles, shards embarrassingly parallel; the shard-size ceiling
    (~1 GB text per 16 GB task: int64 rank arrays are 16 B/char at
    the lexsort peak) is a layout contract, not an operator limit.
    Within-shard substring/repetition queries are exact; CROSS-shard
    duplicate text remains dedup_substring_spans' fixed-L gram job.

    Oracle: per shard, rank equality against DuckDB literally sorting
    the suffix STRINGS — certifying the vectorized doubling against
    the definition, shard by shard."""
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.suffixarray import sharded_suffix_ranks

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("source", "doc_id", normalized().alias("txt"))
    )
    return sharded_suffix_ranks(docs)


# ---------------------------------------------------------------------------
# BM25 with the REAL Robertson log-idf (rank-faithful form)
# ---------------------------------------------------------------------------

def _bm25_robertson_oracle() -> str:
    """DuckDB twin of the Robertson-idf BM25: the idf log runs through
    the same generated fixed-point-log2 CTE chain the engine's
    operators/intlog.py executes, so the scores stay bit-exact."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    score_cols = ",\n           ".join(
        f"""coalesce(max(CASE WHEN term = '{t}' THEN
             idf * ((tf * ({k1} + 1.0)) / (tf + {k1} * ((1.0 - {b}) + {b} * (dl / avgdl))))
           END), 0.0) AS s_{t}"""
        for t in _BM25_TERMS
    )
    return (
        rf"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM d
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ), hit AS (
      SELECT d.doc_id, u.t AS term
      FROM d, UNNEST(toks) AS u(t)
      WHERE u.t IN ({terms})
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM hit GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), rx AS (
      SELECT df.term,
             CAST(floor((1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                        * 1048576.0) AS BIGINT) AS x
      FROM df, stats
    ), rvals AS (
      SELECT DISTINCT x FROM rx
    ),
    """
        + log2_lookup_cte("rvals", "rlg")
        + rf""",
    ridf AS (
      SELECT rx.term, (rlg.lg - 335544320) / 16777216.0 AS idf
      FROM rx JOIN rlg ON rx.x = rlg.x
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dl.dl, stats.avgdl, ridf.idf
      FROM tf JOIN ridf USING (term) JOIN dl USING (doc_id), stats
    ), per_doc AS (
      SELECT doc_id,
           {score_cols}
      FROM scored GROUP BY doc_id
    ), sc AS (
      SELECT doc_id,
             (s_{_BM25_TERMS[0]} + s_{_BM25_TERMS[1]}) + s_{_BM25_TERMS[2]} AS bm25
      FROM per_doc
    )
    SELECT doc_id, bm25 FROM sc
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
"""
    )


@query(
    "text_bm25_search_robertson",
    oracle=_bm25_robertson_oracle(),
    tags=("text", "search", "bm25", "log-idf"),
)
def text_bm25_search_robertson(spark, sf_dir):
    """BM25 with the REAL Robertson log-idf — closing text_bm25_search's
    documented compromise (its rational (N−df+0.5)/(df+0.5) idf skipped
    the log because libm isn't engine-portable). The idf here is
    log2(1 + (N−df+0.5)/(df+0.5)) computed via the exact fixed-point
    integer log2 (operators/intlog.py): the rational value is scaled by
    2^20 and floored (exact IEEE ops — the scale is a power of two),
    L(x) is the quantized integer log2, and idf = (L(x) − 20·2^24)/2^24.
    log2 instead of ln is RANK-IDENTICAL to Robertson's formula: the
    score is Σ_t idf_t · tfpart_t, so the constant 1/ln2 factors out of
    the whole sum — pinned against a float ln implementation in
    tests/test_intlog.py. Same top-20 contract as text_bm25_search.

    Scale shape: identical to text_bm25_search (the idf work is a
    |query terms|-row lookup); at 100 TB serve it from the posting
    index exactly like text_bm25_search_indexed — only the idf
    expression differs. r13: the |terms|-row idf lookup uses the
    Arrow intlog twin (bit-identical, tests/test_intlog.py) instead
    of the ~110-projection JVM recurrence — the tiny table paid more
    in plan analysis/codegen than in execution."""
    from minoan_athenaeum_spark.operators.intlog import log2_fixed_pandas

    d = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("toks"))
    dl = d.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*").cast("double")).alias("avgdl"),
    )
    hit = d.select("doc_id", F.explode("toks").alias("term")).where(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = hit.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    rx = df_.crossJoin(F.broadcast(stats)).withColumn(
        "xr",
        F.floor(
            (
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.lit(float(1 << 20))
        ).cast("long"),
    )
    ridf = rx.withColumn(
        "lgx", log2_fixed_pandas()(F.col("xr"))
    ).withColumn(
        "idf",
        (F.col("lgx") - F.lit(20 << 24)).cast("double") / F.lit(float(1 << 24)),
    )
    scored = tf.join(
        F.broadcast(ridf.select("term", "idf", "n_docs", "avgdl")), "term"
    ).join(dl, "doc_id")
    return (
        _bm25_rank_per_doc(scored, idf_precomputed=True)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM scoring
# ---------------------------------------------------------------------------

_KN_ORACLE = (
    r"""
    WITH d AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ), ref_bg AS (
      SELECT g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM d WHERE lang = 'en'
      )
    ), cbg AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg FROM ref_bg GROUP BY w1, w2
    ), cctx AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx,
             CAST(COUNT(*) AS BIGINT) AS n1w1
      FROM cbg GROUP BY w1
    ), contw AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w2 FROM cbg GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM cbg
    ), bg AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM d
      )
    ), inst AS (
      SELECT bg.doc_id,
             CAST(floor(
               CASE WHEN cctx.c_ctx IS NOT NULL THEN
                 greatest(COALESCE(cbg.c_bg, 0) - 0.75, 0.0) / cctx.c_ctx
                 + ((0.75 * cctx.n1w1) / cctx.c_ctx)
                   * (CAST(COALESCE(contw.n1w2, 0) AS DOUBLE) / tot.n1tot)
               ELSE CAST(COALESCE(contw.n1w2, 0) AS DOUBLE) / tot.n1tot
               END * 1099511627776.0) AS BIGINT) + 1 AS x
      FROM bg
      LEFT JOIN cbg ON bg.w1 = cbg.w1 AND bg.w2 = cbg.w2
      LEFT JOIN cctx ON bg.w1 = cctx.w1
      LEFT JOIN contw ON bg.w2 = contw.w2, tot
    ), xvals AS (
      SELECT DISTINCT x FROM inst
    ),
    """
    + log2_lookup_cte("xvals", "kntab")
    + r"""
    SELECT inst.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bg,
           CAST(SUM(kntab.lg - 671088640) AS BIGINT) AS lg_sum
    FROM inst JOIN kntab ON inst.x = kntab.x
    GROUP BY inst.doc_id
"""
)


@query(
    "text_kneser_ney_ppl",
    oracle=_KN_ORACLE,
    tags=("text", "lm", "quality", "kneser-ney", "perplexity"),
)
def text_kneser_ney_ppl(spark, sf_dir):
    """KNESER-NEY smoothed bigram LM document scoring — the smoothing
    family production LM filters actually use (KenLM's modified KN;
    CCNet scores with a KN 5-gram). Interpolated bigram KN with fixed
    discount D = 0.75:

      P(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
                 + (D · N1+(w1,·)/c(w1)) · N1+(·,w2)/N1+(·,·)

    where the continuation counts N1+ are DISTINCT-neighbor counts
    over bigram TYPES — the insight that makes KN beat add-one: a word
    seen after many different contexts ("francisco" vs "york") gets
    continuation mass proportional to its context diversity, not raw
    frequency. Unseen w1 backs off to the continuation unigram alone.
    Per doc: n_bg and lg_sum = Σ (L(x) − 40·2^24) with
    x = floor(P · 2^40) + 1 — P is IEEE-exact (integer counts, D =
    0.75 exactly representable, fixed op order), the power-of-two
    scale is exact, and L is the quantized integer log2
    (operators/intlog.py), so lg_sum is a BIGINT any engine
    reproduces bit-for-bit. Float-KN fidelity pinned in
    tests/test_intlog.py.

    Scale shape: every model table (cbg, per-context totals+diversity,
    per-word continuation, 1-row type total) is a bigram-TYPE-bounded
    aggregate; the corpus instance stream pays three key-joins (AQE
    skew-splits the Zipf head) and ONE codegen intlog application,
    then a map-side-combined per-doc aggregate. No window, no collect."""
    from minoan_athenaeum_spark.operators.dedup import normalized
    from minoan_athenaeum_spark.operators.intlog import with_log2_fixed

    d = (
        spread_scan(t(spark, sf_dir, "documents"))
        .select("doc_id", "lang", F.split(normalized(), " ").alias("tk"))
        .localCheckpoint(eager=True)
    )
    withbg = d.withColumn("g", bigram_pairs("tk"))
    ref_bg = (
        withbg.filter(F.col("lang") == "en")
        .select(F.explode("g").alias("p"))
        .select(F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2"))
    )
    cbg = ref_bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c_bg"))
    cctx = cbg.groupBy("w1").agg(
        F.sum("c_bg").cast("bigint").alias("c_ctx"),
        F.count("*").cast("bigint").alias("n1w1"),
    )
    contw = cbg.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1w2"))
    tot = cbg.agg(F.count("*").cast("bigint").alias("n1tot"))
    bg = withbg.select("doc_id", F.explode("g").alias("p")).select(
        "doc_id", F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2")
    )
    pcont = F.coalesce(F.col("n1w2"), F.lit(0)).cast("double") / F.col("n1tot")
    p = F.when(
        F.col("c_ctx").isNotNull(),
        F.greatest(
            F.coalesce(F.col("c_bg"), F.lit(0)) - F.lit(0.75), F.lit(0.0)
        )
        / F.col("c_ctx")
        + ((F.lit(0.75) * F.col("n1w1")) / F.col("c_ctx")) * pcont,
    ).otherwise(pcont)
    inst = (
        bg.join(cbg, ["w1", "w2"], "left")
        .join(cctx, "w1", "left")
        .join(contw, "w2", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "x", (F.floor(p * F.lit(float(1 << 40))).cast("long") + 1)
        )
    )
    scored = with_log2_fixed(inst, "x", "lgp")
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bg"),
        F.sum(F.col("lgp") - F.lit(40 << 24)).cast("bigint").alias("lg_sum"),
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality filters (Rae et al. 2021)
# ---------------------------------------------------------------------------

# Gopher's fixed stopword list (Rae et al. 2021 §A1.1: a document must
# contain >= 2 DISTINCT words of these eight). The rule STRUCTURE
# (distinct-of-a-fixed-list >= 2) is the paper's; the list itself is a
# corpus parameter — the synthetic testdata vocabulary (31 words)
# contains only 'the' of these eight, so the registered query
# instantiates the same rule over the repo's 10-word en stopword list
# (STOPWORDS['en'], of which the corpus can attain 2: 'the' and 'a').
# Callers targeting real English corpora should pass GOPHER_8_STOPS.
GOPHER_8_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

def gopher_cte(p: str = "", stops: tuple = ()) -> str:
    """DuckDB CTE chain (no leading WITH) computing the Gopher verdict
    per document, every name prefixed with ``p`` so the chain can be
    spliced into a larger oracle (curation v5). Final relation
    ``{p}gverdict(doc_id, n_words, sum_word_chars, n_alpha_words,
    n_gopher_stops, top_bigram_count, top_bigram_chars, passes)``.

    Semantics match the engine exactly (see
    text_gopher_quality_filters): the repetition signal takes the
    most frequent 2-gram, breaking count ties toward the LONGER
    2-gram (lexicographic (count, chars) max — the conservative
    choice: the tie-break can only lower ``passes``). ``stops`` is the
    distinct-of-list stopword screen's list (default: the registered
    query's corpus-adapted en list — see GOPHER_8_STOPS note)."""
    stops = stops or tuple(STOPWORDS["en"])
    nstops = " + ".join(f"CAST(list_contains(tk, '{w}') AS BIGINT)" for w in stops)
    return rf"""{p}gd AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), {p}gbase AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT) AS sum_word_chars,
             CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
             {nstops} AS n_gopher_stops
      FROM {p}gd
    ), {p}gbg AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2
      FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(tk) >= 2 THEN list_transform(
                 range(1, len(tk)), i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))
               ELSE [] END) AS g
        FROM {p}gd
      )
    ), {p}gbgc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(length(w1) + length(w2) AS BIGINT) AS blen
      FROM {p}gbg GROUP BY doc_id, w1, w2
    ), {p}gtopc AS (
      SELECT doc_id, MAX(c) AS top_c FROM {p}gbgc GROUP BY doc_id
    ), {p}grep AS (
      SELECT b.doc_id, t.top_c AS top_bigram_count,
             t.top_c * MAX(b.blen) AS top_bigram_chars
      FROM {p}gbgc b JOIN {p}gtopc t
        ON b.doc_id = t.doc_id AND b.c = t.top_c
      GROUP BY b.doc_id, t.top_c
    ), {p}gverdict AS (
      SELECT b.doc_id, b.n_words, b.sum_word_chars, b.n_alpha_words,
             b.n_gopher_stops,
             COALESCE(r.top_bigram_count, 0) AS top_bigram_count,
             COALESCE(r.top_bigram_chars, 0) AS top_bigram_chars,
             CAST(CASE WHEN b.n_words >= 50 AND b.n_words <= 100000
                        AND 3 * b.n_words <= b.sum_word_chars
                        AND b.sum_word_chars <= 10 * b.n_words
                        AND 5 * b.n_alpha_words >= 4 * b.n_words
                        AND b.n_gopher_stops >= 2
                        AND 100 * COALESCE(r.top_bigram_chars, 0)
                            <= 18 * b.sum_word_chars
                  THEN 1 ELSE 0 END AS BIGINT) AS passes
      FROM {p}gbase b LEFT JOIN {p}grep r ON b.doc_id = r.doc_id
    )"""


_GOPHER_ORACLE = f"""
    WITH {gopher_cte()}
    SELECT doc_id, n_words, sum_word_chars, n_alpha_words,
           n_gopher_stops, top_bigram_count, top_bigram_chars, passes
    FROM gverdict
"""


def gopher_base_cols(stops: tuple = ()) -> list:
    """The four map-only Gopher signals as named Columns over a token
    array column ``tk`` — shared by the standalone filter query and
    the curation-v5 featurize scan (the signals ride whatever
    projection already splits the text). ``stops`` as in
    :func:`gopher_cte` (must be the same list for oracle parity)."""
    stops = stops or tuple(STOPWORDS["en"])
    return [
        F.size("tk").cast("bigint").alias("n_words"),
        # Σ len(w) == len(concat of tokens) — one codegen string op
        # instead of an interpreted per-token higher-order fold
        F.length(F.concat_ws("", F.col("tk"))).cast("bigint").alias(
            "sum_word_chars"
        ),
        F.expr("CAST(size(filter(tk, w -> w rlike '[a-z]')) AS BIGINT)").alias(
            "n_alpha_words"
        ),
        # distinct-of-list screen: one codegen array_contains probe
        # per list word (no higher-order interpreter)
        sum(
            (F.array_contains("tk", w).cast("bigint") for w in stops),
            F.lit(0).cast("bigint"),
        ).alias("n_gopher_stops"),
    ]


def gopher_rep_agg(d: DataFrame) -> DataFrame:
    """(doc_id, top_bigram_count, top_bigram_chars) — the repetition
    signal: per-doc bigram counts, then the lexicographic
    (count, chars) MAX via a struct aggregate (ties on count break
    toward the longer 2-gram). Input: (doc_id, tk)."""
    bg = (
        d.withColumn("g", bigram_pairs("tk"))
        .select("doc_id", F.explode("g").alias("p"))
        .select("doc_id", F.col("p.w0").alias("w1"), F.col("p.w1").alias("w2"))
    )
    return (
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            "doc_id",
            F.struct(
                F.col("c").alias("c"),
                (F.length("w1") + F.length("w2")).cast("bigint").alias("blen"),
            ).alias("st"),
        )
        .groupBy("doc_id")
        .agg(F.max("st").alias("top"))
        .select(
            "doc_id",
            F.col("top.c").alias("top_bigram_count"),
            (F.col("top.c") * F.col("top.blen")).alias("top_bigram_chars"),
        )
    )


def gopher_passes_expr():
    """The composite Gopher verdict over the named signal columns —
    pure integer comparisons, identical text in the oracle CTE."""
    return (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (3 * F.col("n_words") <= F.col("sum_word_chars"))
        & (F.col("sum_word_chars") <= 10 * F.col("n_words"))
        & (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
        & (F.col("n_gopher_stops") >= 2)
        & (100 * F.col("top_bigram_chars") <= 18 * F.col("sum_word_chars"))
    )


@query(
    "text_gopher_quality_filters",
    oracle=_GOPHER_ORACLE,
    tags=("text", "quality", "gopher", "pipeline"),
)
def text_gopher_quality_filters(spark, sf_dir):
    """GOPHER-RULE document quality filters (Rae et al. 2021 §A1.1,
    public — the heuristic filter battery most LLM data pipelines
    start from), the rules meaningful on a single-line corpus, each
    per the paper's definition: word count in [50, 100000]; mean word
    length in [3, 10]; ≥80% of words contain an alphabetic character;
    the "symbol soup" screen — the document must contain ≥2 DISTINCT
    words of a fixed stopword list (the paper's list is the 8 words
    the/be/to/of/and/that/have/with; the synthetic corpus's 31-word
    vocabulary contains only 'the' of those, which would degenerate
    the screen to all-fail, so this query instantiates the SAME
    distinct-of-list rule over the repo's 10-word en list — see the
    GOPHER_8_STOPS note); and the REPETITION rule — the CHARACTERS
    covered by occurrences of the most frequent 2-gram must be ≤18%
    of the document's word characters (Gopher's top-2-gram character
    fraction, the signal that catches boilerplate loops). Character
    counts exclude whitespace on both sides of the ratio (token chars
    only — stated because the paper counts over raw text; the ratio
    semantics are the same). Count ties between 2-grams break toward
    the LONGER 2-gram — the conservative direction (can only reject
    more).

    Exactness: every verdict is INTEGER arithmetic — mean-length
    bounds as 3n ≤ Σchars ≤ 10n, the alpha fraction as 5·n_alpha ≥
    4·n, the repetition bound as 100·top_count·top_len ≤ 18·Σchars —
    so there is no division anywhere and the oracle is bit-trivially
    portable.

    Scale shape: four of the five signals are MAP-ONLY expressions
    over the token split (zero shuffle; the distinct-of-8 screen is
    eight codegen array_contains probes, no higher-order interpreter);
    the repetition signal is one doc-keyed aggregate pair (per-doc
    bigram counts → per-doc lexicographic (count, chars) max via a
    struct MAX, both map-side combined — a doc's bigrams colocate by
    the doc_id key, so no skew beyond document length). Output is one
    row per document with raw counts + the composite pass flag."""
    d = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("tk"))
    base = d.select("doc_id", *gopher_base_cols())
    j = base.join(gopher_rep_agg(d), "doc_id", "left").select(
        "doc_id",
        "n_words",
        "sum_word_chars",
        "n_alpha_words",
        "n_gopher_stops",
        F.coalesce(F.col("top_bigram_count"), F.lit(0))
        .cast("bigint")
        .alias("top_bigram_count"),
        F.coalesce(F.col("top_bigram_chars"), F.lit(0))
        .cast("bigint")
        .alias("top_bigram_chars"),
    )
    return j.withColumn("passes", gopher_passes_expr().cast("bigint"))


# --- Full Rae et al. repetition battery (Table A1, repetition rows) ---
# Thresholds in PERCENT of the document's token characters: the top
# (most frequent) n-gram's covered characters for n = 2..4, and the
# characters covered by DUPLICATED n-grams (count >= 2) for n = 5..10.
# These are the paper's published values; text_gopher_quality_filters
# keeps its original single top-2-gram screen (18%) — this query is the
# complete repetition section with per-paper per-n thresholds.
_REP_TOP = {2: 20, 3: 18, 4: 16}
_REP_DUP = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}
_REP_NS = sorted(list(_REP_TOP) + list(_REP_DUP))


def _rep_oracle() -> str:
    ns_list = ", ".join(str(n) for n in _REP_NS)
    tops = ",\n             ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN top_chars END), 0)"
        f" AS BIGINT) AS top_{n}gram_chars"
        for n in _REP_TOP
    )
    dups = ",\n             ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" AS BIGINT) AS dup_{n}gram_chars"
        for n in _REP_DUP
    )
    outs = ", ".join(
        [f"COALESCE(w.top_{n}gram_chars, 0) AS top_{n}gram_chars" for n in _REP_TOP]
        + [f"COALESCE(w.dup_{n}gram_chars, 0) AS dup_{n}gram_chars" for n in _REP_DUP]
    )
    conds = " AND ".join(
        [
            f"100 * COALESCE(w.top_{n}gram_chars, 0) <= {t} * b.sum_word_chars"
            for n, t in _REP_TOP.items()
        ]
        + [
            f"100 * COALESCE(w.dup_{n}gram_chars, 0) <= {t} * b.sum_word_chars"
            for n, t in _REP_DUP.items()
        ]
    )
    return rf"""
    WITH rd AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), rbase AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT)
               AS sum_word_chars
      FROM rd
    ), rgrams AS (
      SELECT doc_id, n,
             UNNEST(list_transform(range(1, len(tk) - n + 2),
                                   i -> array_to_string(tk[i:i+n-1], ' ')))
               AS gram
      FROM rd CROSS JOIN (SELECT UNNEST([{ns_list}]) AS n) nn
    ), rc AS (
      SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM rgrams GROUP BY doc_id, n, gram
    ), rcl AS (
      SELECT doc_id, n, c,
             CAST(length(gram) - (n - 1) AS BIGINT) AS glen
      FROM rc
    ), rtopc AS (
      SELECT doc_id, n, MAX(c) AS top_c FROM rcl GROUP BY doc_id, n
    ), rtop AS (
      SELECT c.doc_id, c.n, t.top_c * MAX(c.glen) AS top_chars
      FROM rcl c JOIN rtopc t
        ON c.doc_id = t.doc_id AND c.n = t.n AND c.c = t.top_c
      GROUP BY c.doc_id, c.n, t.top_c
    ), rdup AS (
      SELECT doc_id, n,
             CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * glen END), 0)
                  AS BIGINT) AS dup_chars
      FROM rcl GROUP BY doc_id, n
    ), rsig AS (
      SELECT d.doc_id, d.n, COALESCE(t.top_chars, 0) AS top_chars,
             d.dup_chars
      FROM rdup d LEFT JOIN rtop t ON d.doc_id = t.doc_id AND d.n = t.n
    ), rwide AS (
      SELECT doc_id,
             {tops},
             {dups}
      FROM rsig GROUP BY doc_id
    )
    SELECT b.doc_id, b.sum_word_chars, {outs},
           CAST(CASE WHEN {conds} THEN 1 ELSE 0 END AS BIGINT) AS passes
    FROM rbase b LEFT JOIN rwide w ON b.doc_id = w.doc_id
"""


_REP_ORACLE = _rep_oracle()


@query(
    "text_repetition_filters",
    oracle=_REP_ORACLE,
    tags=("text", "quality", "gopher", "pipeline"),
)
def text_repetition_filters(spark, sf_dir):
    """The COMPLETE Rae et al. 2021 repetition-removal battery (Table
    A1, repetition rows; public): per document, the characters covered
    by the single most frequent n-gram for n = 2, 3, 4 (thresholds
    20/18/16 % of token characters) and the characters covered by
    DUPLICATED n-grams — those occurring at least twice — for
    n = 5..10 (thresholds 15/14/13/12/11/10 %). A document passes when
    every signal is under its bound. This is the boilerplate-loop
    screen most public LLM corpus pipelines (Gopher, MassiveText
    descendants, Dolma) run after exact/near dedup;
    text_gopher_quality_filters keeps the paper's OTHER rules and its
    single top-2-gram screen — this query is the full repetition
    section.

    Semantics pinned exactly (and mirrored in the oracle): character
    accounting is over token characters (n-gram char length = joined
    string length minus separators; occurrences × length, overlaps not
    deduplicated — stated, same simplification as the gopher screen);
    count ties for the top n-gram break toward the LONGER n-gram (the
    conservative direction). All verdicts are integer arithmetic
    (100·chars ≤ T·Σchars), so the oracle is bit-trivially portable.

    Scale shape: ngram generation is pure codegen (arrays_zip over n
    shifted slices — no interpreted higher-order lambda), the nine
    per-n streams union into ONE (doc_id, n, gram)-keyed aggregation
    (map-side combined; a doc's grams colocate, so skew is bounded by
    document length), then one (doc_id, n) rollup and one conditional-
    aggregation pivot to the wide per-doc row. Exploded volume is
    Σ_n (L−n+1) ≈ 9L grams per L-token doc — the same rows a
    single-pass per-doc counter would touch; no corpus-wide shuffle,
    no window, document text never moves (grams only)."""
    from functools import reduce

    from minoan_athenaeum_spark.operators.text import ngram_structs

    d = t(spark, sf_dir, "documents").select("doc_id", tokens().alias("tk"))
    base = d.select(
        "doc_id",
        F.length(F.concat_ws("", F.col("tk"))).cast("bigint").alias(
            "sum_word_chars"
        ),
    )
    streams = [
        d.select("doc_id", F.explode(ngram_structs("tk", n)).alias("g")).select(
            "doc_id",
            F.lit(n).cast("int").alias("n"),
            F.concat_ws(" ", *[F.col("g")[f"w{i}"] for i in range(n)]).alias(
                "gram"
            ),
        )
        for n in _REP_NS
    ]
    allg = reduce(lambda a, b: a.unionByName(b), streams)
    rc = (
        allg.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").cast("bigint").alias("c"))
        .withColumn(
            "glen", (F.length("gram") - (F.col("n") - 1)).cast("bigint")
        )
    )
    pern = (
        rc.groupBy("doc_id", "n")
        .agg(
            F.max(F.struct(F.col("c"), F.col("glen"))).alias("top"),
            F.coalesce(
                F.sum(F.when(F.col("c") >= 2, F.col("c") * F.col("glen"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("dup_chars"),
        )
        .select(
            "doc_id",
            "n",
            (F.col("top.c") * F.col("top.glen")).alias("top_chars"),
            "dup_chars",
        )
    )
    aggs = [
        F.coalesce(F.max(F.when(F.col("n") == n, F.col("top_chars"))), F.lit(0))
        .cast("bigint")
        .alias(f"top_{n}gram_chars")
        for n in _REP_TOP
    ] + [
        F.coalesce(F.max(F.when(F.col("n") == n, F.col("dup_chars"))), F.lit(0))
        .cast("bigint")
        .alias(f"dup_{n}gram_chars")
        for n in _REP_DUP
    ]
    wide = pern.groupBy("doc_id").agg(*aggs)
    j = base.join(wide, "doc_id", "left")
    sig_cols = [
        F.coalesce(F.col(f"top_{n}gram_chars"), F.lit(0))
        .cast("bigint")
        .alias(f"top_{n}gram_chars")
        for n in _REP_TOP
    ] + [
        F.coalesce(F.col(f"dup_{n}gram_chars"), F.lit(0))
        .cast("bigint")
        .alias(f"dup_{n}gram_chars")
        for n in _REP_DUP
    ]
    swc = F.col("sum_word_chars")
    conds = [
        100 * F.coalesce(F.col(f"top_{n}gram_chars"), F.lit(0)) <= thr * swc
        for n, thr in _REP_TOP.items()
    ] + [
        100 * F.coalesce(F.col(f"dup_{n}gram_chars"), F.lit(0)) <= thr * swc
        for n, thr in _REP_DUP.items()
    ]
    passes = conds[0]
    for c in conds[1:]:
        passes = passes & c
    return j.select(
        "doc_id",
        "sum_word_chars",
        *sig_cols,
        passes.cast("bigint").alias("passes"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty curve (marginal data value per document)
# ---------------------------------------------------------------------------

_NOVELTY_N = 5  # window length: the usual contamination/novelty unit

_NOVELTY_ORACLE = rf"""
    WITH rd AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(tk) - {_NOVELTY_N} + 2),
                                   i -> array_to_string(tk[i:i+{_NOVELTY_N - 1}], ' ')))
               AS gram
      FROM rd
    ), pairs AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c) AS BIGINT) AS n_grams
      FROM pairs GROUP BY 1
    ), firsts AS (
      SELECT gram, min(doc_id) AS first_doc FROM pairs GROUP BY 1
    ), novel AS (
      SELECT first_doc, CAST(count(*) AS BIGINT) AS n_novel
      FROM firsts GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_distinct, 0) AS n_distinct_grams,
           COALESCE(v.n_novel, 0) AS n_novel_grams,
           CASE WHEN COALESCE(p.n_distinct, 0) > 0
                THEN (100 * COALESCE(v.n_novel, 0)) // p.n_distinct
                ELSE 0 END AS novel_pct
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    LEFT JOIN novel v ON v.first_doc = d.doc_id
"""


@query(
    "text_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    tags=("text", "novelty", "dedup", "pipeline"),
)
def text_ngram_novelty(spark, sf_dir):
    """MARGINAL-NOVELTY curve: for every document, how many of its
    distinct 5-grams (``_NOVELTY_N``) appear for the FIRST time in the corpus
    scanned in doc_id (ingest) order — i.e. the n-gram mass this
    document contributes that no earlier document already supplied.
    This is the standard way a data-curation team prices an incremental
    crawl slice (diminishing-novelty curves; the per-window unit is the
    same n-gram the decontamination and substring-dedup passes use):
    near-zero novel_pct means the document is informationally redundant
    even when no single earlier document is a near-duplicate —
    boilerplate spread across MANY documents, invisible to pairwise
    dedup, shows up here as first-occurrence mass concentrated in the
    earliest docs.

    "First" is min(doc_id) over each gram — exact, order-deterministic,
    engine-portable (no hashing at all). Output: per-doc totals,
    distinct-gram count, novel-gram count, and the integer-percent
    novelty ratio (0 for gramless docs, i.e. fewer than N tokens).

    Scale shape: gram generation is pure codegen (arrays_zip slices);
    then THREE map-side-combinable aggregates — (doc_id, gram) counts
    (doc-colocated, skew bounded by document length), gram-keyed
    min(doc_id) (Zipf-head grams combine map-side; AQE splits any
    residual hot key), and first_doc counts — plus two doc-keyed
    broadcast-or-shuffle joins back to the documents spine. No window,
    no corpus-wide sort; document text never moves (grams only)."""
    from minoan_athenaeum_spark.operators.text import ngram_structs, tokens

    n = _NOVELTY_N
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens().alias("tk"))
    grams = d.select(
        "doc_id", F.explode(ngram_structs("tk", n)).alias("g")
    ).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(n)]).alias("gram"),
    )
    pairs = grams.groupBy("doc_id", "gram").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per_doc = pairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("c").cast("bigint").alias("n_grams"),
    )
    firsts = pairs.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy("first_doc").agg(
        F.count("*").cast("bigint").alias("n_novel")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(novel, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias(
                "n_distinct_grams"
            ),
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel_grams"
            ),
            F.when(
                F.coalesce(F.col("n_distinct"), F.lit(0)) > 0,
                F.expr("(100 * COALESCE(n_novel, 0)) div n_distinct"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("novel_pct"),
        )
    )


_NOVELTY_INC_ORACLE = rf"""
    WITH rd AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(tk) - {_NOVELTY_N} + 2),
                                   i -> array_to_string(tk[i:i+{_NOVELTY_N - 1}], ' ')))
               AS gram
      FROM rd
    ), pairs AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c) AS BIGINT) AS n_grams
      FROM pairs WHERE doc_id % 10 = 0 GROUP BY 1
    ), firsts AS (
      SELECT gram, min(doc_id) AS first_doc FROM pairs GROUP BY 1
    ), novel AS (
      SELECT first_doc, CAST(count(*) AS BIGINT) AS n_novel
      FROM firsts WHERE first_doc % 10 = 0 GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           COALESCE(p.n_distinct, 0) AS n_distinct_grams,
           COALESCE(v.n_novel, 0) AS n_novel_grams,
           CASE WHEN COALESCE(p.n_distinct, 0) > 0
                THEN (100 * COALESCE(v.n_novel, 0)) // p.n_distinct
                ELSE 0 END AS novel_pct
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    LEFT JOIN novel v ON v.first_doc = d.doc_id
    WHERE d.doc_id % 10 = 0
"""


@query(
    "text_novelty_incremental",
    oracle=_NOVELTY_INC_ORACLE,
    tags=("text", "novelty", "incremental", "pipeline"),
)
def text_novelty_incremental(spark, sf_dir):
    """INCREMENTAL marginal novelty: score the arriving batch
    (doc_id % 10 == 0) against the persisted first-occurrence gram
    index of the existing corpus (sources/gram_index.py — the fifth
    persisted-index family) WITHOUT re-gramming the corpus. Per batch
    document: how many of its distinct 5-grams no document — existing
    corpus OR earlier batch doc — already contains. The batch form of
    text_ngram_novelty, and the production way a curation team prices
    each crawl slice as it arrives.

    Serve shape: batch pairs and per-gram batch minima are map-only
    over the BATCH; the corpus side is ONE map-only scan of the lean
    (gram, first_doc) index probed by the BROADCAST batch-gram set
    (inner hash probe — matched rows are candidate-sized, and the
    min-merge across any append generations happens in that
    candidate-sized aggregate). A batch gram is novel iff it misses
    the index entirely or the batch minimum beats the indexed
    first_doc — exact under arbitrary doc_id interleaving, which the
    crafted pins exercise. No corpus re-tokenize, no corpus shuffle,
    no window.

    Oracle: the full-recompute twin — first occurrences re-derived
    from scratch over the WHOLE corpus in DuckDB, restricted to batch
    docs — proving the persisted index serves exactly what a
    from-scratch run computes."""
    from minoan_athenaeum_spark.operators.text import ngram_structs, tokens
    from minoan_athenaeum_spark.queries._util import (
        persist_tracked,
        release_tracked,
    )
    from minoan_athenaeum_spark.sources.gram_index import ensure_gram_index
    from minoan_athenaeum_spark.sources.index_family import read_table

    n = _NOVELTY_N
    idx = read_table(spark, ensure_gram_index(spark, sf_dir, n), "grams")
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    d = docs.select("doc_id", tokens().alias("tk"))
    grams = d.select(
        "doc_id", F.explode(ngram_structs("tk", n)).alias("g")
    ).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(n)]).alias("gram"),
    )
    release_tracked()
    # feeds the per-doc stats AND the per-gram minima AND the index
    # probe — one batch featurize, persisted
    bpairs = persist_tracked(
        grams.groupBy("doc_id", "gram").agg(
            F.count("*").cast("bigint").alias("c")
        )
    )
    bper = bpairs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("c").cast("bigint").alias("n_grams"),
    )
    bmins = bpairs.groupBy("gram").agg(F.min("doc_id").alias("bmin"))
    # ONE map-only index scan, broadcast-probed by the batch grams;
    # the min-merge over delta generations is candidate-sized
    matched = (
        idx.join(F.broadcast(bmins), "gram")
        .groupBy("gram")
        .agg(F.min("first_doc").alias("idx_first"), F.min("bmin").alias("bmin"))
    )
    suppressed = matched.where(F.col("idx_first") <= F.col("bmin")).select("gram")
    novel = (
        bmins.join(suppressed, "gram", "left_anti")
        .groupBy(F.col("bmin").alias("first_doc"))
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    return (
        docs.select("doc_id")
        .join(bper, "doc_id", "left")
        .join(novel, F.col("doc_id") == F.col("first_doc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("bigint")).alias(
                "n_distinct_grams"
            ),
            F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias(
                "n_novel_grams"
            ),
            F.when(
                F.coalesce(F.col("n_distinct"), F.lit(0)) > 0,
                F.expr("(100 * COALESCE(n_novel, 0)) div n_distinct"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("novel_pct"),
        )
    )
