"""Crash-safety pins for the persisted-index write protocols.

The swap families (IVF members, first-occurrence grams, line
fingerprints, LM scores, LSH) compact by writing a rewritten sibling
directory and swapping it live with two renames. These tests fabricate
every intermediate state a crash can leave on disk and prove that

  * a subsequent reader (via the family's ``ensure_*`` entry point)
    serves either the OLD or the NEW generation set in full — never a
    mix, and never a silent corpus-only rebuild that drops appended
    delta generations;
  * re-running compaction after recovery converges to the rebuilt
    index.

The fabricated states, in the order a real crash would produce them:
  during-rewrite : tmp exists WITHOUT _SUCCESS, live intact
  between-renames: live renamed to _old, complete tmp (_SUCCESS) present
  rollback       : live renamed to _old, tmp incomplete (no _SUCCESS)
  after-swap     : new live in place, stale _old not yet removed

The BM25 index commits through a snapshot manifest instead; its tests
inject a crash at each step of that protocol (CRASH_POINTS below).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from minoan_athenaeum_spark.sources.swap import recover_swap, swap_paths


def _rows(spark, live, cols):
    return {
        tuple(r[c] for c in cols) for r in spark.read.parquet(live).collect()
    }


def _fabricate(live, state):
    """Leave ``live``'s directory tree exactly as a crash at ``state``
    would."""
    tmp, old = swap_paths(live)
    if state == "during-rewrite":
        # copy stands in for the half-written rewrite output
        shutil.copytree(live, tmp)
        os.remove(os.path.join(tmp, "_SUCCESS"))
    elif state == "between-renames":
        shutil.copytree(live, tmp)  # a COMPLETE rewrite (has _SUCCESS)
        os.rename(live, old)
    elif state == "rollback":
        shutil.copytree(live, tmp)
        os.remove(os.path.join(tmp, "_SUCCESS"))
        os.rename(live, old)
    elif state == "after-swap":
        shutil.copytree(live, old)
    else:  # pragma: no cover
        raise AssertionError(state)


STATES = ["during-rewrite", "between-renames", "rollback", "after-swap"]


@pytest.mark.parametrize("state", STATES)
def test_recover_swap_states(tmp_path, state, spark):
    live = str(tmp_path / "seg")
    pd.DataFrame({"k": [1, 2, 3]}).to_parquet(live + "_x.parquet")
    os.makedirs(live)
    shutil.copy(live + "_x.parquet", os.path.join(live, "part-0.parquet"))
    open(os.path.join(live, "_SUCCESS"), "w").close()
    before = _rows(spark, live, ["k"])
    _fabricate(live, state)
    recover_swap(live)
    tmp, old = swap_paths(live)
    assert os.path.isfile(os.path.join(live, "_SUCCESS"))
    assert not os.path.isdir(tmp) and not os.path.isdir(old)
    assert _rows(spark, live, ["k"]) == before
    recover_swap(live)  # idempotent
    assert _rows(spark, live, ["k"]) == before


def _docs_sf(tmp_path, rows):
    p = str(tmp_path)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    ).to_parquet(f"{p}/documents.parquet", index=False)
    return p


def _seq(a, b):
    return " ".join(f"w{i}" for i in range(a, b))


@pytest.mark.parametrize("state", STATES)
def test_gram_index_crash_recovery(spark, tmp_path, state):
    from minoan_athenaeum_spark.sources.gram_index import (
        append_to_gram_index,
        compact_gram_index,
        ensure_gram_index,
    )

    sf = _docs_sf(tmp_path, [(3, _seq(0, 10), "en", "a")])
    idx = ensure_gram_index(spark, sf)
    append_to_gram_index(
        spark,
        idx,
        spark.createDataFrame(
            pd.DataFrame(
                [(2, _seq(0, 8), "en", "a")],
                columns=["doc_id", "text", "lang", "source"],
            )
        ),
    )
    live = os.path.join(idx, "grams")
    served = lambda: {  # noqa: E731
        (r["gram"], r["first_doc"])
        for r in spark.read.parquet(live)
        .groupBy("gram")
        .agg(F.min("first_doc").alias("first_doc"))
        .collect()
    }
    before = served()
    assert any(fd == 2 for _, fd in before)  # the append is in there
    _fabricate(live, state)
    # ensure_* is every reader's entry point: it must repair, keep the
    # appended generation, and NOT fall through to a corpus-only rebuild
    assert ensure_gram_index(spark, sf) == idx
    assert served() == before
    compact_gram_index(spark, idx)  # re-running compaction converges
    assert served() == before
    assert spark.read.parquet(live).count() == len(before)


# BM25 is on the snapshot-manifest protocol instead of the swap: a write
# stages a generation, renames it under postings/, publishes the next
# manifest, then collects garbage. A crash is injected at each step.
CRASH_POINTS = ["mid-staging", "before-publish", "before-gc"]


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, point):
    from minoan_athenaeum_spark.sources import index_family, posting_sink

    def boom(*_args, **_kwargs):
        raise _Crash(point)

    if point == "mid-staging":
        real = posting_sink.write_posting_segments

        def partial(rows, path, **kw):
            real(rows, path, **kw)
            os.remove(os.path.join(path, "_SUCCESS"))
            raise _Crash(point)

        monkeypatch.setattr(posting_sink, "write_posting_segments", partial)
    else:
        name = {"before-publish": "publish_manifest", "before-gc": "collect_garbage"}
        monkeypatch.setattr(index_family, name[point], boom)


def _bm25_index(spark, tmp_path):
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        ensure_bm25_index,
    )

    sf = _docs_sf(
        tmp_path,
        [(1, "alpha beta gamma", "en", "a"), (11, "beta delta", "en", "a")],
    )
    idx = ensure_bm25_index(spark, sf)
    append_to_bm25_index(spark, idx, _batch(spark, 20, "gamma epsilon"))
    return sf, idx


def _batch(spark, doc_id, text):
    return spark.createDataFrame(
        pd.DataFrame(
            [(doc_id, text, "en", "a")],
            columns=["doc_id", "text", "lang", "source"],
        )
    )


def _bm25_state(spark, idx):
    """What a serve of ``idx`` reads: the posting multiset and stats."""
    from minoan_athenaeum_spark.sources.posting_sink import bm25_snapshot

    postings, stats = bm25_snapshot(spark, idx)
    rows = postings.select("term", "doc_id", "tf", "dl").collect()
    return sorted(map(tuple, rows)), tuple(stats)


def _gen_dirs(idx):
    return {
        os.path.join("postings", d) for d in os.listdir(os.path.join(idx, "postings"))
    }


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_bm25_postings_crash_recovery(spark, tmp_path, monkeypatch, point):
    """A compaction that crashes at any step leaves the pre-crash
    snapshot served (the appended generation included, no corpus-only
    rebuild); re-running it converges, and garbage collection removes
    what the crash left behind."""
    from minoan_athenaeum_spark.sources.index_family import read_manifest
    from minoan_athenaeum_spark.sources.posting_sink import (
        compact_bm25_index,
        ensure_bm25_index,
    )

    sf, idx = _bm25_index(spark, tmp_path)
    before = _bm25_state(spark, idx)
    assert any(t[1] == 20 for t in before[0])
    with monkeypatch.context() as m:
        _crash_at(m, point)
        with pytest.raises(_Crash):
            compact_bm25_index(spark, idx)
    assert ensure_bm25_index(spark, sf) == idx
    assert _bm25_state(spark, idx) == before
    compact_bm25_index(spark, idx)
    assert _bm25_state(spark, idx) == before
    man = read_manifest(idx)
    assert len(man["generations"]) == 1
    assert _gen_dirs(idx) == set(man["generations"]) | set(man["previous"])
    assert not os.path.exists(os.path.join(idx, "_staging"))


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_bm25_append_crash_resend_applies_once(spark, tmp_path, monkeypatch, point):
    """An append is all or nothing: a crash before the manifest publish
    leaves the pre-append snapshot served (no torn postings-without-
    stats state), a crash after it the committed one. Re-sending the
    batch under its id then applies it exactly once — equal to one
    clean append."""
    from minoan_athenaeum_spark.sources.index_family import read_manifest
    from minoan_athenaeum_spark.sources.posting_sink import append_to_bm25_index

    _sf, idx = _bm25_index(spark, tmp_path)
    ref = str(tmp_path / "ref")
    shutil.copytree(idx, ref)
    batch = _batch(spark, 30, "epsilon zeta")
    append_to_bm25_index(spark, ref, batch, batch_id="b30")
    pre, post = _bm25_state(spark, idx), _bm25_state(spark, ref)
    assert pre != post

    with monkeypatch.context() as m:
        _crash_at(m, point)
        with pytest.raises(_Crash):
            append_to_bm25_index(spark, idx, batch, batch_id="b30")
    assert _bm25_state(spark, idx) == (post if point == "before-gc" else pre)

    append_to_bm25_index(spark, idx, batch, batch_id="b30")
    assert _bm25_state(spark, idx) == post
    man = read_manifest(idx)
    assert man["batches"] == ["b30"]
    assert _gen_dirs(idx) == set(man["generations"]) | set(man["previous"])


@pytest.mark.parametrize("state", ["between-renames", "rollback"])
def test_ivf_members_crash_recovery(spark, tmp_path, state):
    from minoan_athenaeum_spark.sources.ivf_index import (
        append_to_ivf_index,
        compact_ivf_members,
        ensure_ivf_index,
    )

    vecs = [
        (i, [float(i % 3), float((i * 7) % 5), 1.0], i % 2)
        for i in range(1, 30)
    ]
    pd.DataFrame(vecs, columns=["vec_id", "embedding", "label"]).to_parquet(
        f"{tmp_path}/embeddings.parquet", index=False
    )
    sf = str(tmp_path)
    idx = ensure_ivf_index(spark, sf)
    append_to_ivf_index(
        spark,
        idx,
        spark.createDataFrame(
            pd.DataFrame(
                [(30, [9.0, 9.0, 9.0], 0)],
                columns=["vec_id", "embedding", "label"],
            )
        ),
    )
    live = os.path.join(idx, "members")
    cols = ["cell", "vec_id"]
    before = _rows(spark, live, cols)
    assert any(v == 30 for _, v in before)
    _fabricate(live, state)
    assert ensure_ivf_index(spark, sf) == idx
    assert _rows(spark, live, cols) == before
    compact_ivf_members(spark, idx)
    assert _rows(spark, live, cols) == before


@pytest.mark.parametrize("state", ["between-renames", "rollback"])
def test_line_index_crash_recovery(spark, tmp_path, state):
    from minoan_athenaeum_spark.sources.line_index import (
        append_to_line_index,
        compact_line_index,
        ensure_line_index,
    )

    sf = _docs_sf(tmp_path, [(3, _seq(0, 20), "en", "a")])
    idx = ensure_line_index(spark, sf)
    append_to_line_index(
        spark,
        idx,
        spark.createDataFrame(
            pd.DataFrame(
                [(2, _seq(10, 20), "en", "a")],
                columns=["doc_id", "text", "lang", "source"],
            )
        ),
    )
    live = os.path.join(idx, "lines")
    cols = ["fp", "first_doc", "first_line"]
    before = _rows(spark, live, cols)
    assert any(t[1] == 2 for t in before)  # the appended generation
    _fabricate(live, state)
    assert ensure_line_index(spark, sf) == idx
    assert _rows(spark, live, cols) == before
    compact_line_index(spark, idx)
    served = {
        (r["fp"], r["o"]["first_doc"], r["o"]["first_line"])
        for r in spark.read.parquet(live)
        .groupBy("fp")
        .agg(F.min(F.struct("first_doc", "first_line")).alias("o"))
        .collect()
    }
    assert served == {
        (fp, d, ln)
        for fp, d, ln in (
            min(
                ((f, d, ln) for f, d, ln in before if f == fp),
                key=lambda t: (t[1], t[2]),
            )
            for fp in {f for f, _, _ in before}
        )
    }


def test_gram_index_path_keys_on_n(spark, tmp_path):
    """ADVICE r8: an index built for one gram length must never be
    served for another — n is part of the cache directory name."""
    from minoan_athenaeum_spark.sources.gram_index import (
        ensure_gram_index,
        gram_index_path,
    )

    sf = _docs_sf(tmp_path, [(3, _seq(0, 10), "en", "a")])
    p5 = gram_index_path(spark, sf, 5)
    p3 = gram_index_path(spark, sf, 3)
    assert p5 != p3 and "_n5_" in p5 and "_n3_" in p3
    i5, i3 = ensure_gram_index(spark, sf, 5), ensure_gram_index(spark, sf, 3)
    assert i5 == p5 and i3 == p3
    g5 = spark.read.parquet(os.path.join(i5, "grams"))
    g3 = spark.read.parquet(os.path.join(i3, "grams"))
    # 10 tokens -> 6 5-grams vs 8 3-grams: genuinely different indexes
    assert g5.count() == 6 and g3.count() == 8


@pytest.mark.parametrize("state", ["between-renames", "rollback"])
def test_lm_scores_crash_recovery(spark, tmp_path, state):
    """Seventh family (LM buckets, r13): the scores compaction swap
    must be recoverable from every crash state without losing appended
    generations, like the siblings."""
    from minoan_athenaeum_spark.sources.lm_index import (
        append_to_lm_index,
        compact_lm_scores,
        ensure_lm_index,
    )

    sf = _docs_sf(
        tmp_path,
        [
            (1, "alpha beta gamma delta", "en", "a"),
            (2, "beta gamma epsilon", "en", "a"),
        ],
    )
    idx = ensure_lm_index(spark, sf)
    append_to_lm_index(
        spark,
        idx,
        spark.createDataFrame(
            pd.DataFrame(
                [(20, "gamma delta alpha", "en", "a")],
                columns=["doc_id", "text", "lang", "source"],
            )
        ),
    )
    live = os.path.join(idx, "scores")
    cols = ["doc_id", "n_bg", "lg_sum"]
    before = _rows(spark, live, cols)
    assert any(t[0] == 20 for t in before)
    _fabricate(live, state)
    assert ensure_lm_index(spark, sf) == idx
    assert _rows(spark, live, cols) == before
    compact_lm_scores(spark, idx)
    assert _rows(spark, live, cols) == before


@pytest.mark.parametrize("state", ["between-renames", "rollback"])
def test_lsh_index_crash_recovery(spark, tmp_path, state):
    """VERDICT r12 #2: the LSH band/shingle compaction swap must be
    recoverable from every crash state without losing appended
    generations, like the siblings."""
    from minoan_athenaeum_spark.sources.lsh_index import (
        append_to_minhash_index,
        compact_minhash_index,
        ensure_minhash_index,
    )

    sf = _docs_sf(
        tmp_path,
        [
            (1, "alpha beta gamma delta epsilon", "en", "a"),
            (11, "beta gamma delta zeta", "en", "a"),
        ],
    )
    idx = ensure_minhash_index(spark, sf)
    append_to_minhash_index(
        spark,
        idx,
        spark.createDataFrame(
            pd.DataFrame(
                [(20, "gamma delta epsilon eta", "en", "a")],
                columns=["doc_id", "text", "lang", "source"],
            )
        ),
    )
    for sub in ("bands", "shingles"):
        live = os.path.join(idx, sub)
        cols = ["bucket", "doc_id"] if sub == "bands" else ["doc_id"]
        before = _rows(spark, live, cols)
        assert any(t[-1] == 20 or t[0] == 20 for t in before)
        _fabricate(live, state)
        assert ensure_minhash_index(spark, sf) == idx
        assert _rows(spark, live, cols) == before
    compact_minhash_index(spark, idx)
    for sub, cols in (("bands", ["bucket", "doc_id"]), ("shingles", ["doc_id"])):
        live = os.path.join(idx, sub)
        assert any(
            t[-1] == 20 or t[0] == 20 for t in _rows(spark, live, cols)
        )
