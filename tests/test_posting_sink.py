"""Pins for sources/posting_sink.py — the segment LAYOUT claims
(disjoint term ranges across files, sorted runs within, stats-driven
pruning) and content preservation."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.sources import (
    gram_index,
    ivf_index,
    lm_index,
    lsh_index,
    posting_sink,
)
from minoan_athenaeum_spark.sources.index_family import (
    read_manifest,
    read_table,
    table_files,
)
from minoan_athenaeum_spark.sources.posting_sink import (
    lookup_term,
    write_posting_segments,
)
from minoan_athenaeum_spark.testing import compare_results, index_rows


def _postings(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")


def test_segment_layout_and_roundtrip(spark, sf_dir, tmp_path):
    path = str(tmp_path / "segments")
    postings = _postings(spark, sf_dir)
    write_posting_segments(postings, path, num_segments=4)

    files = sorted(
        f for f in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(f).startswith(("_", "."))
    )
    assert 1 < len(files) <= 4

    # (1) within each file, (term, doc_id) runs are sorted; (2) term
    # ranges are disjoint across files
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["term", "doc_id"])
        terms = t.column("term").to_pylist()
        docs = t.column("doc_id").to_pylist()
        rows = list(zip(terms, docs))
        assert rows == sorted(rows), f"unsorted run in {f}"
        ranges.append((terms[0], terms[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping term ranges: {hi1!r} vs {lo2!r}"

    # content preserved exactly
    back = spark.read.parquet(path)
    a = postings.groupBy("term").count().collect()
    b = back.groupBy("term").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lookup_prunes_to_one_segment(spark, sf_dir, tmp_path):
    path = str(tmp_path / "segments2")
    write_posting_segments(_postings(spark, sf_dir), path, num_segments=4)

    got = lookup_term(spark, path, "spark")
    want = (
        _postings(spark, sf_dir).filter(F.col("term") == "spark").count()
    )
    assert got.count() == want
    # row-group stats admit the term in at most one segment file
    admitting = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        if os.path.basename(f).startswith(("_", ".")):
            continue
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(i)
                for i in range(meta.row_group(rg).num_columns)
                if meta.row_group(rg).column(i).path_in_schema == "term"
            )
            st = col.statistics
            if st.min <= "spark" <= st.max:
                admitting += 1
                break  # count files, not row groups
    assert admitting <= 1


def test_bm25_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Maintenance contract (mirror of the LSH index's
    test_append_to_index_equals_rebuild): ensure(existing) +
    append(batch) holds the same (term, doc_id, tf, dl) posting set
    and a BIT-EQUAL stats row as building the full-corpus index from
    scratch."""
    import shutil

    from minoan_athenaeum_spark.catalog import load_table
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        bm25_snapshot,
        bm25_stats,
        ensure_bm25_index,
    )

    base = ensure_bm25_index(spark, sf_dir, slice_="existing")
    work = str(tmp_path / "bm25idx")
    shutil.copytree(base, work)
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    append_to_bm25_index(spark, work, batch)

    full = ensure_bm25_index(spark, sf_dir, slice_="full")
    got_postings = {
        (r.term, r.doc_id, r.tf, r.dl)
        for r in bm25_snapshot(spark, work)[0].collect()
    }
    want_postings = {
        (r.term, r.doc_id, r.tf, r.dl)
        for r in bm25_snapshot(spark, full)[0].collect()
    }
    assert got_postings == want_postings

    got_stats = bm25_stats(spark, work)
    want_stats = bm25_stats(spark, full)
    # exact equality — integer sums merge losslessly (the appended
    # index has 2 generations, the rebuild 1; the stats must still be
    # bit-equal)
    assert len(read_manifest(work)["generations"]) == 2
    assert (got_stats.n_docs, got_stats.avgdl, got_stats.sum_dl) == (
        want_stats.n_docs,
        want_stats.avgdl,
        want_stats.sum_dl,
    )


def test_bm25_compact_equals_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Compaction contract (VERDICT r7 #4): three append generations
    accumulate delta files; compact_bm25_index rewrites them into
    fresh segments with (1) the posting MULTISET unchanged and equal
    to a full rebuild's, (2) the stats untouched, and (3) the
    data-file count restored to <= num_segments in one generation (the
    LSM read-amplification fix, observable in the layout)."""
    import shutil

    from minoan_athenaeum_spark.catalog import load_table
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        bm25_snapshot,
        bm25_stats,
        compact_bm25_index,
        ensure_bm25_index,
    )

    def data_files(p):
        return table_files(p, read_manifest(p), "postings")

    base = ensure_bm25_index(spark, sf_dir, slice_="existing")
    work = str(tmp_path / "bm25idx_compact")
    shutil.copytree(base, work)
    n_base_files = len(data_files(work))

    docs = load_table(spark, sf_dir, "documents")
    arriving = docs.filter(F.col("doc_id") % 10 == 0)
    for r in (0, 10, 20):
        append_to_bm25_index(spark, work, arriving.filter(F.col("doc_id") % 30 == r))
    n_after_appends = len(data_files(work))
    assert n_after_appends > n_base_files  # generations visibly accumulate

    def postings_multiset(p):
        rows = bm25_snapshot(spark, p)[0].collect()
        out = {}
        for r in rows:
            k = (r.term, r.doc_id, r.tf, r.dl)
            out[k] = out.get(k, 0) + 1
        return out

    pre = postings_multiset(work)
    stats_pre = bm25_stats(spark, work)
    assert len(read_manifest(work)["generations"]) == 4

    compact_bm25_index(spark, work, num_segments=4)
    assert len(data_files(work)) <= 4  # layout restored
    assert postings_multiset(work) == pre  # rows unchanged

    # generations collapse to ONE; stats unchanged
    assert len(read_manifest(work)["generations"]) == 1
    stats_post = bm25_stats(spark, work)
    assert tuple(stats_pre) == tuple(stats_post)

    # and all of it equals the from-scratch full build
    full = ensure_bm25_index(spark, sf_dir, slice_="full")
    assert postings_multiset(full) == pre
    full_stats = bm25_stats(spark, full)
    assert (stats_post.n_docs, stats_post.avgdl, stats_post.sum_dl) == (
        full_stats.n_docs,
        full_stats.avgdl,
        full_stats.sum_dl,
    )


def test_bm25_index_empty_slice_raises(spark, tmp_path):
    """ADVICE r7: an empty documents slice must fail loudly, not
    ZeroDivisionError, and must not write a 0-doc index. Driven
    through the public ensure (the guard moved there with the r11
    harness rewrite): a corpus whose every doc_id is a batch id makes
    the 'existing' slice empty."""
    import pandas as pd
    import pytest

    from minoan_athenaeum_spark.sources.posting_sink import (
        bm25_index_path,
        ensure_bm25_index,
    )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        pd.DataFrame(
            [(10, "alpha beta", "en", "a")],
            columns=["doc_id", "text", "lang", "source"],
        )
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    with pytest.raises(ValueError, match="empty documents slice"):
        ensure_bm25_index(spark, sf, slice_="existing")
    p = bm25_index_path(spark, sf, "existing")
    assert not os.path.exists(p)


def _arriving_batches(sf_dir, n):
    """The arriving slice's doc ids (doc_id % 10 == 0) split into ``n``
    batches."""
    ids = sorted(
        d
        for d in pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )
        .column("doc_id")
        .to_pylist()
        if d % 10 == 0
    )
    return [ids[i::n] for i in range(n)]


def _work_index(spark, sf_dir, tmp_path, name):
    import shutil

    from minoan_athenaeum_spark.sources.posting_sink import ensure_bm25_index

    work = str(tmp_path / name)
    shutil.copytree(ensure_bm25_index(spark, sf_dir, slice_="existing"), work)
    return work


def _docs_of(spark, sf_dir, ids):
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isin(ids))


def _snapshot_oracle(sf_dir, live_ids):
    """text_bm25_search's DuckDB oracle over the base corpus plus the
    appended doc ids ``live_ids``: the rows a serve of that snapshot
    must return."""
    from minoan_athenaeum_spark.registry import load_all
    from minoan_athenaeum_spark.testing import duckdb_connect

    con = duckdb_connect(sf_dir)
    try:
        extra = f" OR doc_id IN ({', '.join(map(str, live_ids))})" if live_ids else ""
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf_dir}/documents.parquet') WHERE doc_id % 10 != 0{extra}"
        )
        cur = con.execute(load_all()["text_bm25_search"].oracle)
        return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]
    finally:
        con.close()


def _serve_matches(df, oracle):
    return not compare_results(df.columns, [tuple(r) for r in df.collect()], *oracle)


# Families whose generations are key-disjoint (identity merge), where a
# re-sent batch would otherwise show up as duplicate rows: (ensure the
# base index, append, source table, key column).
RESEND_FAMILIES = {
    "bm25": (
        lambda spark, sf: posting_sink.ensure_bm25_index(spark, sf, slice_="existing"),
        posting_sink.append_to_bm25_index,
        "documents",
        "doc_id",
    ),
    "lsh": (
        lsh_index.ensure_minhash_index,
        lsh_index.append_to_minhash_index,
        "documents",
        "doc_id",
    ),
    "ivf": (
        ivf_index.ensure_ivf_index,
        ivf_index.append_to_ivf_index,
        "embeddings",
        "vec_id",
    ),
    "lm": (
        lm_index.ensure_lm_index,
        lm_index.append_to_lm_index,
        "documents",
        "doc_id",
    ),
}


@pytest.mark.parametrize("family", list(RESEND_FAMILIES))
def test_resent_batch_applies_once(spark, sf_dir, tmp_path, family):
    """A batch sent again under the same batch id (a retried or replayed
    micro-batch) is a no-op: the index holds every table's rows and the
    manifest fields (BM25's stats) of ONE append."""
    import shutil

    ensure, append, source, key = RESEND_FAMILIES[family]
    base = ensure(spark, sf_dir)
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    shutil.copytree(base, once)
    shutil.copytree(base, twice)
    batch = load_table(spark, sf_dir, source).filter(F.col(key) % 10 == 0)
    append(spark, once, batch)
    append(spark, twice, batch, batch_id=7)
    append(spark, twice, batch, batch_id=7)
    assert index_rows(spark, twice) == index_rows(spark, once)
    assert read_manifest(twice)["batches"] == ["7"]


def test_bm25_serve_reads_its_snapshot_across_a_commit(spark, sf_dir, tmp_path):
    """A serve DataFrame is bound to the manifest it was built on: an
    append or a compaction committed before it is collected changes
    neither its rows nor its stats, and the compaction's superseded
    generations stay readable for it."""
    from minoan_athenaeum_spark.queries.text import bm25_serve_from_index
    from minoan_athenaeum_spark.sources.posting_sink import (
        append_to_bm25_index,
        compact_bm25_index,
    )

    work = _work_index(spark, sf_dir, tmp_path, "bm25idx_snap")
    b0, b1 = _arriving_batches(sf_dir, 2)
    append_to_bm25_index(spark, work, _docs_of(spark, sf_dir, b0))

    df = bm25_serve_from_index(spark, work)
    compact_bm25_index(spark, work)
    assert _serve_matches(df, _snapshot_oracle(sf_dir, b0))

    df = bm25_serve_from_index(spark, work)
    append_to_bm25_index(spark, work, _docs_of(spark, sf_dir, b1))
    assert _serve_matches(df, _snapshot_oracle(sf_dir, b0))
    assert _serve_matches(bm25_serve_from_index(spark, work), _snapshot_oracle(sf_dir, b0 + b1))


def _with_batches(spark, sf_dir, ids):
    return load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 10 != 0) | F.col("doc_id").isin(ids)
    )


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _bm25_serving(spark, sf_dir):
    from minoan_athenaeum_spark.queries.text import bm25_serve_from_index

    def serve(work):
        df = bm25_serve_from_index(spark, work)
        return df.columns, [tuple(r) for r in df.collect()]

    def same(got, want):
        return not compare_results(*got, *want)

    return (
        lambda: posting_sink.ensure_bm25_index(spark, sf_dir, slice_="existing"),
        posting_sink.append_to_bm25_index,
        posting_sink.compact_bm25_index,
        serve,
        lambda ids: _snapshot_oracle(sf_dir, ids),
        same,
    )


def _gram_serving(spark, sf_dir):
    """The novelty serve's read: the min-merged (gram, first_doc) table;
    a snapshot's oracle is the rebuild from its documents."""
    return (
        lambda: gram_index.ensure_gram_index(spark, sf_dir),
        gram_index.append_to_gram_index,
        gram_index.compact_gram_index,
        lambda work: _sorted_rows(
            gram_index.merge_grams(read_table(spark, work, "grams"))
        ),
        lambda ids: _sorted_rows(
            gram_index.gram_rows(_with_batches(spark, sf_dir, ids))
        ),
        lambda got, want: got == want,
    )


def _lsh_serving(spark, sf_dir):
    """The dedup serve's read: band rows and shingle sets, both from one
    manifest; a snapshot's oracle is the rebuild from its documents."""

    def serve(work):
        m = read_manifest(work)
        return tuple(
            _sorted_rows(read_table(spark, work, t, m)) for t in ("bands", "shingles")
        )

    def oracle(ids):
        sh = lsh_index.shingled(_with_batches(spark, sf_dir, ids))
        hashed = sh.select("doc_id", lsh_index.hashed_shingles(F.col("sh")).alias("sh"))
        return _sorted_rows(lsh_index.band_rows(sh)), _sorted_rows(hashed)

    return (
        lambda: lsh_index.ensure_minhash_index(spark, sf_dir),
        lsh_index.append_to_minhash_index,
        lsh_index.compact_minhash_index,
        serve,
        oracle,
        lambda got, want: got == want,
    )


SERVINGS = {"bm25": _bm25_serving, "gram": _gram_serving, "lsh": _lsh_serving}


@pytest.mark.parametrize("family", list(SERVINGS))
def test_serves_under_concurrent_writes(spark, sf_dir, tmp_path, family):
    """Serves loop in a thread while appends and compactions commit;
    every serve returns the oracle of some committed snapshot. Readers
    keep the manifest contract: a serve is collected before the second
    commit after the one it was built on (the writer waits for one
    serve to finish after each commit)."""
    import shutil
    import threading

    ensure, append, compact, serve, oracle, same = SERVINGS[family](spark, sf_dir)
    work = str(tmp_path / "idx")
    shutil.copytree(ensure(), work)
    batches = _arriving_batches(sf_dir, 4)
    oracles = [
        oracle([d for b in batches[:k] for d in b]) for k in range(len(batches) + 1)
    ]
    done = threading.Event()
    served = threading.Condition()
    results, errors = [], []

    def reader():
        try:
            while not done.is_set():
                got = serve(work)
                with served:
                    results.append(got)
                    served.notify_all()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)
            with served:
                served.notify_all()

    def after_commit():
        with served:
            seen = len(results)
            assert served.wait_for(lambda: len(results) > seen or errors, timeout=120)

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i, b in enumerate(batches):
            append(spark, work, _docs_of(spark, sf_dir, b), batch_id=i)
            after_commit()
            compact(spark, work)
            after_commit()
    finally:
        done.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    for got in results:
        assert any(same(got, o) for o in oracles), got
