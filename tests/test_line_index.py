"""Lifecycle pins for the sixth persisted-index family: the
first-occurrence LINE-fingerprint index (sources/line_index.py).
Same contract battery as the gram index: append ≡ rebuild, append
order commutes, cross-generation ownership steal, compaction
preserves + collapses (the crash points are pinned family-generically
in tests/test_crash_safety.py; here we pin the min-merge algebra)."""

from __future__ import annotations

import os

import pandas as pd

from minoan_athenaeum_spark.sources.index_family import (
    read_manifest,
    read_table,
    table_files,
)
from minoan_athenaeum_spark.sources.line_index import (
    append_to_line_index,
    compact_line_index,
    doc_lines,
    ensure_line_index,
    line_index_path,
    line_owner_rows,
    merge_lines,
)


def _write_docs(tmp_path, rows):
    p = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{p}/documents.parquet", index=False
    )
    return p


def _seq(a, b):
    return " ".join(f"w{i}" for i in range(a, b))


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    )


def _served(spark, idx):
    return {
        (r["fp"], r["first_doc"], r["first_line"])
        for r in merge_lines(read_table(spark, idx, "lines")).collect()
    }


def _n_files(idx):
    return len(table_files(idx, read_manifest(idx), "lines"))


def test_append_equals_rebuild_and_ownership_steal(spark, tmp_path):
    # corpus: doc 3 owns lines A=(w0..w9) and B=(w10..w19)
    corpus = [(3, _seq(0, 20), "en", "a")]
    # gen1: doc 12 repeats line A (doc 3 keeps it: 3 < 12) + new line C
    gen1 = [(12, _seq(0, 10) + " " + _seq(30, 40), "en", "a")]
    # gen2: doc 2 repeats line B — id 2 < 3: ownership must MOVE back
    gen2 = [(2, _seq(10, 20), "en", "a")]
    sf = _write_docs(tmp_path, corpus)
    idx = ensure_line_index(spark, sf)
    append_to_line_index(spark, idx, _df(spark, gen1))
    append_to_line_index(spark, idx, _df(spark, gen2))
    merged = _served(spark, idx)
    rebuilt = {
        (r["fp"], r["first_doc"], r["first_line"])
        for r in line_owner_rows(_df(spark, corpus + gen1 + gen2)).collect()
    }
    assert merged == rebuilt  # min-over-generations == rebuild-from-union
    owners = {fp: (d, ln) for fp, d, ln in merged}
    lines2 = {r["fp"]: r for r in doc_lines(_df(spark, gen2)).collect()}
    b_fp = next(iter(lines2))  # doc 2's only line is line B
    assert owners[b_fp] == (2, 0)  # stolen by the smaller doc_id

    files_before = _n_files(idx)
    compact_line_index(spark, idx)
    assert _served(spark, idx) == rebuilt
    assert _n_files(idx) <= files_before
    # post-compaction each fp appears exactly once
    assert len(rebuilt) == read_table(spark, idx, "lines").count()


def test_append_order_commutes(spark, tmp_path):
    corpus = [(3, _seq(0, 20), "en", "a")]
    gen1 = [(12, _seq(0, 10), "en", "a")]
    gen2 = [(2, _seq(10, 20), "en", "a")]

    def build(order, sub):
        sf = _write_docs(tmp_path / sub, corpus)
        (tmp_path / sub).mkdir(exist_ok=True) if not os.path.isdir(
            tmp_path / sub
        ) else None
        idx = ensure_line_index(spark, sf)
        for rows in order:
            append_to_line_index(spark, idx, _df(spark, rows))
        return _served(spark, idx)

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert build([gen1, gen2], "a") == build([gen2, gen1], "b")


def test_path_keys_on_line_len(spark, tmp_path):
    sf = _write_docs(tmp_path, [(3, _seq(0, 20), "en", "a")])
    p10 = line_index_path(spark, sf, 10)
    p5 = line_index_path(spark, sf, 5)
    assert p10 != p5 and "_L10_" in p10 and "_L5_" in p5
    i10, i5 = ensure_line_index(spark, sf, 10), ensure_line_index(spark, sf, 5)
    # 20 tokens -> 2 ten-token lines vs 4 five-token lines
    assert read_table(spark, i10, "lines").count() == 2
    assert read_table(spark, i5, "lines").count() == 4
