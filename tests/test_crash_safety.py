"""Crash-safety pins for the persisted-index write protocol.

Every index family commits through the snapshot manifest of
sources/index_family.py: a write stages each table's generation,
renames it into place, publishes the next manifest, then collects
garbage. These tests inject a crash at each of those steps
(CRASH_POINTS), in an append and in a compaction of every family, and
prove that

  * a subsequent reader (via the family's ``ensure_*`` entry point)
    serves the pre-crash snapshot in full when the crash came before
    the publish, and the committed one after it — never a mix, and
    never a corpus-only rebuild that drops appended generations;
  * re-running the write converges (a re-sent batch id applies once),
    and garbage collection leaves exactly the current and previous
    generations and no staging output.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
import pytest

from minoan_athenaeum_spark.sources import (
    gram_index,
    ivf_index,
    line_index,
    lm_index,
    lsh_index,
    posting_sink,
)
from minoan_athenaeum_spark.sources.index_family import read_manifest, read_table
from minoan_athenaeum_spark.testing import index_rows

DOCS = ["doc_id", "text", "lang", "source"]
EMBEDDINGS = ["vec_id", "embedding", "label"]


def _seq(a, b):
    return " ".join(f"w{i}" for i in range(a, b))


@dataclass(frozen=True)
class Family:
    """One index family driven through its public lifecycle: a source
    table, two arriving batches and how a serve merges each table."""

    ensure: object
    append: object
    compact: object
    corpus: list
    batches: tuple
    columns: list = field(default_factory=lambda: DOCS)
    source: str = "documents"
    merges: dict = field(default_factory=dict)

    def source_dir(self, tmp_path):
        p = str(tmp_path)
        pd.DataFrame(self.corpus, columns=self.columns).to_parquet(
            f"{p}/{self.source}.parquet", index=False
        )
        return p

    def batch(self, spark, i):
        rows = pd.DataFrame(self.batches[i], columns=self.columns)
        return spark.createDataFrame(rows)

    def state(self, spark, idx):
        return index_rows(spark, idx, self.merges)


FAMILIES = {
    "bm25": Family(
        posting_sink.ensure_bm25_index,
        posting_sink.append_to_bm25_index,
        posting_sink.compact_bm25_index,
        [(1, "alpha beta gamma", "en", "a"), (11, "beta delta", "en", "a")],
        ([(20, "gamma epsilon", "en", "a")], [(30, "epsilon zeta", "en", "a")]),
    ),
    "gram": Family(
        gram_index.ensure_gram_index,
        gram_index.append_to_gram_index,
        gram_index.compact_gram_index,
        [(3, _seq(0, 10), "en", "a")],
        # doc 2 steals the w0.. grams from doc 3
        ([(2, _seq(0, 8), "en", "a")], [(12, _seq(5, 15), "en", "a")]),
        merges={"grams": gram_index.merge_grams},
    ),
    "line": Family(
        line_index.ensure_line_index,
        line_index.append_to_line_index,
        line_index.compact_line_index,
        [(3, _seq(0, 20), "en", "a")],
        (
            [(2, _seq(10, 20), "en", "a")],
            [(12, _seq(0, 10) + " " + _seq(30, 40), "en", "a")],
        ),
        merges={"lines": line_index.merge_lines},
    ),
    "lsh": Family(
        lsh_index.ensure_minhash_index,
        lsh_index.append_to_minhash_index,
        lsh_index.compact_minhash_index,
        [
            (1, "alpha beta gamma delta epsilon", "en", "a"),
            (11, "beta gamma delta zeta", "en", "a"),
        ],
        (
            [(20, "gamma delta epsilon eta", "en", "a")],
            [(30, "epsilon zeta eta theta", "en", "a")],
        ),
    ),
    "ivf": Family(
        ivf_index.ensure_ivf_index,
        ivf_index.append_to_ivf_index,
        ivf_index.compact_ivf_members,
        [(i, [float(i % 3), float((i * 7) % 5), 1.0], i % 2) for i in range(1, 30)],
        ([(30, [9.0, 9.0, 9.0], 0)], [(40, [1.0, 2.0, 3.0], 1)]),
        columns=EMBEDDINGS,
        source="embeddings",
    ),
    "lm": Family(
        lm_index.ensure_lm_index,
        lm_index.append_to_lm_index,
        lm_index.compact_lm_scores,
        [
            (1, "alpha beta gamma delta", "en", "a"),
            (2, "beta gamma epsilon", "en", "a"),
        ],
        ([(20, "gamma delta alpha", "en", "a")], [(30, "beta gamma delta", "en", "a")]),
    ),
}

CRASH_POINTS = ["mid-staging", "before-publish", "before-gc"]


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, point):
    from minoan_athenaeum_spark.sources import index_family

    def boom(*_args, **_kwargs):
        raise _Crash(point)

    if point == "mid-staging":

        def partial(path, _subdir, write):
            staging = os.path.join(path, "_staging", "crashed")
            write(staging)
            os.remove(os.path.join(staging, "_SUCCESS"))
            raise _Crash(point)

        monkeypatch.setattr(index_family, "stage_generation", partial)
    else:
        name = {"before-publish": "publish_manifest", "before-gc": "collect_garbage"}
        monkeypatch.setattr(index_family, name[point], boom)


def _appended_index(spark, tmp_path, fam):
    """The family's index of its corpus plus its first batch."""
    sf = fam.source_dir(tmp_path)
    idx = fam.ensure(spark, sf)
    base = fam.state(spark, idx)
    fam.append(spark, idx, fam.batch(spark, 0))
    assert fam.state(spark, idx) != base  # the append is in there
    return sf, idx


def _assert_collected(idx):
    """Exactly the current and previous generations are on disk."""
    man = read_manifest(idx)
    on_disk = {
        os.path.join(table, gen)
        for table in man["schemas"]
        for gen in os.listdir(os.path.join(idx, table))
    }
    assert on_disk == set(man["generations"]) | set(man["previous"])


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("family", list(FAMILIES))
def test_compact_crash_recovery(spark, tmp_path, monkeypatch, family, point):
    """A compaction that crashes at any step leaves the pre-crash
    snapshot served (the appended generation included, no corpus-only
    rebuild); re-running it converges to one generation per table, and
    garbage collection removes what the crash left behind."""
    fam = FAMILIES[family]
    sf, idx = _appended_index(spark, tmp_path, fam)
    before = fam.state(spark, idx)
    with monkeypatch.context() as m:
        _crash_at(m, point)
        with pytest.raises(_Crash):
            fam.compact(spark, idx)
    assert fam.ensure(spark, sf) == idx
    assert fam.state(spark, idx) == before
    fam.compact(spark, idx)
    assert fam.state(spark, idx) == before
    man = read_manifest(idx)
    per_table = Counter(os.path.dirname(g) for g in man["generations"])
    assert per_table == Counter(set(man["schemas"]))
    _assert_collected(idx)
    assert not os.path.exists(os.path.join(idx, "_staging"))


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("family", list(FAMILIES))
def test_append_crash_resend_applies_once(spark, tmp_path, monkeypatch, family, point):
    """An append is all or nothing: a crash before the manifest publish
    leaves the pre-append snapshot served (no table half-appended), a
    crash after it the committed one. Re-sending the batch under its id
    then applies it exactly once — equal to one clean append."""
    fam = FAMILIES[family]
    _sf, idx = _appended_index(spark, tmp_path, fam)
    ref = str(tmp_path / "ref")
    shutil.copytree(idx, ref)
    batch = fam.batch(spark, 1)
    fam.append(spark, ref, batch, batch_id="b2")
    pre, post = fam.state(spark, idx), fam.state(spark, ref)
    assert pre != post

    with monkeypatch.context() as m:
        _crash_at(m, point)
        with pytest.raises(_Crash):
            fam.append(spark, idx, batch, batch_id="b2")
    assert fam.state(spark, idx) == (post if point == "before-gc" else pre)

    fam.append(spark, idx, batch, batch_id="b2")
    assert fam.state(spark, idx) == post
    assert read_manifest(idx)["batches"] == ["b2"]
    _assert_collected(idx)


def test_gram_index_path_keys_on_n(spark, tmp_path):
    """ADVICE r8: an index built for one gram length must never be
    served for another — n is part of the cache directory name."""
    from minoan_athenaeum_spark.sources.gram_index import (
        ensure_gram_index,
        gram_index_path,
    )

    sf = FAMILIES["gram"].source_dir(tmp_path)  # one doc of 10 tokens
    p5 = gram_index_path(spark, sf, 5)
    p3 = gram_index_path(spark, sf, 3)
    assert p5 != p3 and "_n5_" in p5 and "_n3_" in p3
    i5, i3 = ensure_gram_index(spark, sf, 5), ensure_gram_index(spark, sf, 3)
    assert i5 == p5 and i3 == p3
    g5 = read_table(spark, i5, "grams")
    g3 = read_table(spark, i3, "grams")
    # 10 tokens -> 6 5-grams vs 8 3-grams: genuinely different indexes
    assert g5.count() == 6 and g3.count() == 8
