"""Crafted pins for the r9 operators: corpus-wide line dedup and
quality-argmax cluster resolution (queries/dedup.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from minoan_athenaeum_spark.queries.dedup import (
    dedup_cluster_keep_best,
    dedup_lines_global,
)


def _write_docs(tmp_path, rows):
    p = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{p}/documents.parquet", index=False
    )
    return p


def _seq(a, b):
    return " ".join(f"w{i}" for i in range(a, b))


def test_lines_global_crafted(spark, tmp_path):
    # doc 1: lines L0=w0..w9, L1=w10..w19 (both first occurrences)
    # doc 2: line 0 duplicates doc 1's L0 -> dropped; line 1 = w30..w39 kept
    # doc 3: one 4-token tail line, unique -> kept with 4 tokens
    # doc 4: duplicates ITS OWN line: L0 == L1 -> second occurrence dropped
    d1 = _seq(0, 20)
    d2 = _seq(0, 10) + " " + _seq(30, 40)
    d3 = _seq(100, 104)
    d4 = _seq(50, 60) + " " + _seq(50, 60)
    sf = _write_docs(
        tmp_path,
        [(1, d1, "en", "a"), (2, d2, "en", "a"), (3, d3, "en", "a"), (4, d4, "en", "a")],
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_tokens"])
        for r in dedup_lines_global(spark, sf).collect()
    }
    assert out[1] == (2, 2, 20)
    assert out[2] == (2, 1, 10)  # first line lost to doc 1
    assert out[3] == (1, 1, 4)   # short tail line, token count is real
    assert out[4] == (2, 1, 10)  # self-duplicate: only the first copy kept


def test_lines_global_first_occurrence_is_positional(spark, tmp_path):
    # the OWNER is the smallest (doc_id, line_no), not the smallest doc_id
    # of some arbitrary occurrence: doc 5 line 1 vs doc 6 line 0 — doc 5 wins
    d5 = _seq(200, 210) + " " + _seq(300, 310)
    d6 = _seq(300, 310) + " " + _seq(400, 410)
    sf = _write_docs(tmp_path, [(5, d5, "en", "a"), (6, d6, "en", "a")])
    out = {
        r["doc_id"]: (r["n_kept"], r["kept_tokens"])
        for r in dedup_lines_global(spark, sf).collect()
    }
    assert out[5] == (2, 20)
    assert out[6] == (1, 10)


def test_cluster_keep_best_quality_argmax(spark, tmp_path):
    # Cluster A: docs 10/11/12 share char-3-gram text; 11 is the LONGEST
    # (highest quality) so it must be the keeper even though 10 < 11.
    # Doc 200 is unrelated (no pair) -> absent from the clustered output.
    base = "the quick brown fox jumps over the lazy dog again and again"
    sf = _write_docs(
        tmp_path,
        [
            (10, base, "en", "a"),
            (11, base + " plus extra tail words here", "en", "a"),
            (12, base + " tail", "en", "a"),
            (200, "zz qq xx vv kk pp mm nn oo rr ss tt uu ww yy", "en", "a"),
        ],
    )
    rows = {r["doc_id"]: r.asDict() for r in dedup_cluster_keep_best(spark, sf).collect()}
    assert set(rows) == {10, 11, 12}
    assert all(r["component"] == 10 for r in rows.values())
    assert rows[11]["keep"] is True
    assert rows[10]["keep"] is False and rows[12]["keep"] is False
    assert rows[11]["quality"] > rows[12]["quality"] > rows[10]["quality"]


def test_cluster_keep_best_tie_breaks_to_min_doc_id(spark, tmp_path):
    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    sf = _write_docs(
        tmp_path, [(21, txt, "en", "a"), (22, txt, "en", "a")]
    )
    rows = {r["doc_id"]: r.asDict() for r in dedup_cluster_keep_best(spark, sf).collect()}
    assert rows[21]["keep"] is True and rows[22]["keep"] is False
    assert rows[21]["quality"] == rows[22]["quality"]


def test_oracles_match_at_sf0001(spark):
    """Value-exact vs DuckDB at sf0.001, through each query's oracle SQL."""
    from collections import Counter

    import duckdb

    from minoan_athenaeum_spark.registry import load_all

    specs = load_all()
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for name in ("dedup_lines_global", "dedup_cluster_keep_best"):
        sdf = specs[name].fn(spark, sf)
        cols = sorted(sdf.columns)
        srows = Counter(tuple(r[c] for c in cols) for r in sdf.collect())
        odf = con.execute(specs[name].oracle).fetch_arrow_table()
        orows = Counter(
            tuple(rec[c] for c in cols) for rec in odf.to_pylist()
        )
        assert sorted(odf.column_names) == cols, name
        assert srows == orows, name


def _expected_recall(vecs, nq=8, k=10, pfx=16, cand=100):
    """Pure-Python replica of the recall harness (quantize + total-order
    tie-breaks), independent of both engines."""
    import math

    q = {i: [round(x * 10000) for x in v] for i, v in vecs}
    nrm = {i: math.sqrt(sum(x * x for x in qq)) for i, qq in q.items()}
    out = {}
    for qid in range(nq):
        if qid not in q:
            continue
        scored = []
        for i, qq in q.items():
            if i == qid:
                continue
            dot = sum(a * b for a, b in zip(qq, q[qid]))
            pdot = sum(a * b for a, b in zip(qq[:pfx], q[qid][:pfx]))
            cos = dot / (nrm[i] * nrm[qid])
            scored.append((i, pdot, cos))
        exact = {i for i, _, _ in sorted(scored, key=lambda t: (-t[2], t[0]))[:k]}
        screen = sorted(scored, key=lambda t: (-t[1], t[0]))[:cand]
        approx = {i for i, _, _ in sorted(screen, key=lambda t: (-t[2], t[0]))[:k]}
        out[qid] = len(exact & approx)
    return out


def test_ann_recall_eval_adversarial_tail(spark, tmp_path):
    """Corpus built so the 16-dim prefix DISAGREES with the full cosine
    for some neighbors (decoys: aligned prefix, opposed tail). The
    harness must report exactly the recall the pure-Python replica
    computes — including values < 1 when the screen genuinely misses."""
    import pandas as pd

    rng_vecs = []
    # 8 query vectors: prefix signal on dim qid, strong tail on 40+qid
    for qid in range(8):
        v = [0.0] * 64
        v[qid] = 1.0
        v[40 + qid] = 0.8
        rng_vecs.append((qid, v))
    # per query: 6 EASY true neighbors (prefix+tail aligned -> survive
    # the screen) and 6 HIDDEN true neighbors (tail-only: cos ~0.62 but
    # prefix_dot == 0, so >=100 prefix-positive fillers crowd them out
    # of the top-100 screen) -> expected recall 6/10 per query
    nid = 100
    for qid in range(8):
        for _ in range(6):
            v = [0.0] * 64
            v[qid] = 1.0
            v[40 + qid] = 0.8
            rng_vecs.append((nid, v)); nid += 1
        for _ in range(6):
            v = [0.0] * 64
            v[40 + qid] = 1.0
            rng_vecs.append((nid, v)); nid += 1
    # 110 fillers: tiny positive prefix overlap with EVERY query (so
    # their prefix_dot beats the hidden neighbors' zero), negligible cos
    for j in range(110):
        v = [0.0] * 64
        for d in range(8):
            v[d] = 0.01
        v[17 + (j % 20)] = 1.0
        rng_vecs.append((nid, v)); nid += 1
    pd.DataFrame(
        [(i, v, 0) for i, v in rng_vecs],
        columns=["vec_id", "embedding", "label"],
    ).to_parquet(f"{tmp_path}/embeddings.parquet", index=False)

    from minoan_athenaeum_spark.queries.similarity import sim_ann_recall_eval

    got = {
        r["query_id"]: (r["n_hits"], r["recall_at_k"])
        for r in sim_ann_recall_eval(spark, str(tmp_path)).collect()
    }
    want = _expected_recall(rng_vecs)
    assert set(got) == set(want)
    for qid, hits in want.items():
        assert got[qid] == (hits, hits / 10.0), (qid, got[qid], hits)
    # the corpus is adversarial by construction: at least one query must
    # see a genuine screen miss, else the pin proves nothing
    assert any(h < 10 for h, _ in got.values())
    assert any(h > 0 for h, _ in got.values())
