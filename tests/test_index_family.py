"""Pins for the shared persisted-index lifecycle harness
(sources/index_family.py).

The shipped families exercise the harness through their own pins
(tests/test_r8_ops.py, tests/test_line_index.py,
tests/test_crash_safety.py, ...). This file pins the harness's OWN
contract with a synthetic table the repo does not ship — a per-key MAX
aggregate — proving the lifecycle (fingerprinted path, ensure
idempotence, append ≡ rebuild, compaction through the merge) is
family-agnostic and not accidentally min- or schema-specific.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from minoan_athenaeum_spark.sources.index_family import (
    Maintained,
    append_index,
    compact_index,
    ensure_index,
    hash_layout,
    read_manifest,
    read_table,
    table_files,
    warehouse_index_path,
)


def _docs(tmp_path, rows):
    p = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{p}/documents.parquet", index=False
    )
    return p


def _rows_fn(docs):
    # per-key MAX of doc_id per language — deliberately NOT the min
    # the shipped families use
    return docs.groupBy(F.col("lang").alias("k")).agg(
        F.max("doc_id").alias("v")
    )


def _merge_fn(gens):
    return gens.groupBy("k").agg(F.max("v").alias("v"))


def _ensure(spark, sf, base, n_files):
    path = warehouse_index_path(spark, sf, "mas_testidx", "documents", "m1")
    layout = hash_layout("k", n_files)
    return ensure_index(spark, path, lambda w: w.stage("vals", _rows_fn(base), layout))


def _append(spark, path, docs):
    append_index(spark, path, lambda w: w.stage("vals", _rows_fn(docs)))


def _compact(spark, path, n_files):
    spec = Maintained(hash_layout("k", n_files), _merge_fn)
    compact_index(spark, path, {"vals": spec})


def _served(spark, path):
    rows = _merge_fn(read_table(spark, path, "vals")).collect()
    return {(r["k"], r["v"]) for r in rows}


def test_path_embeds_params_and_fingerprint(spark, tmp_path):
    sf = _docs(tmp_path, [(1, "a", "en", "s")])
    p1 = warehouse_index_path(spark, sf, "mas_testidx", "documents", "m1")
    p2 = warehouse_index_path(spark, sf, "mas_testidx", "documents", "m2")
    base1, base2 = os.path.basename(p1), os.path.basename(p2)
    assert base1 != base2 and "_m1_" in base1 and "_m2_" in base2
    # touching the source changes the fingerprint → new path
    pd.DataFrame(
        [(9, "b", "de", "s")], columns=["doc_id", "text", "lang", "source"]
    ).to_parquet(f"{sf}/documents.parquet", index=False)
    assert warehouse_index_path(spark, sf, "mas_testidx", "documents", "m1") != p1


def test_append_equals_rebuild_any_interleaving(spark, tmp_path):
    rows = [
        (5, "x", "en", "s"),
        (2, "x", "de", "s"),
        (9, "x", "en", "s"),
        (4, "x", "fr", "s"),
        (7, "x", "de", "s"),
    ]
    sf = _docs(tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # base = first two rows; two appends in an order where the LATER
    # generation carries the SMALLER key values for 'en'
    base = docs.filter(F.col("doc_id").isin(9, 4))
    path = _ensure(spark, sf, base, n_files=2)
    _append(spark, path, docs.filter(F.col("doc_id").isin(2, 7)))
    _append(spark, path, docs.filter(F.col("doc_id") == 5))
    rebuilt = {(r["k"], r["v"]) for r in _rows_fn(docs).collect()}
    assert _served(spark, path) == rebuilt == {("en", 9), ("de", 7), ("fr", 4)}
    # ensure is idempotent: a second call must NOT rebuild (which
    # would discard the appended generations)
    assert _ensure(spark, sf, base, n_files=2) == path
    assert _served(spark, path) == rebuilt


def test_compact_preserves_rows_and_caps_files(spark, tmp_path):
    rows = [(i, "x", f"l{i % 3}", "s") for i in range(12)]
    sf = _docs(tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    path = _ensure(spark, sf, docs.filter("doc_id < 4"), n_files=2)
    for lo, hi in ((4, 8), (8, 12)):
        _append(spark, path, docs.filter(F.col("doc_id").between(lo, hi - 1)))
    before = _served(spark, path)
    n_before = len(table_files(path, read_manifest(path), "vals"))
    _compact(spark, path, n_files=2)
    n_after = len(table_files(path, read_manifest(path), "vals"))
    assert n_after <= 2 < n_before
    assert _served(spark, path) == before
    # post-compaction the table holds exactly one row per key, in one
    # generation
    assert read_table(spark, path, "vals").count() == 3
    assert len(read_manifest(path)["generations"]) == 1


@pytest.mark.parametrize("order", [(0, 1), (1, 0)])
def test_append_order_commutes(spark, tmp_path, order):
    rows = [(1, "x", "en", "s"), (8, "x", "en", "s"), (3, "x", "de", "s")]
    sf = _docs(tmp_path, rows)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batches = [docs.filter("doc_id = 8"), docs.filter("doc_id = 3")]
    path = _ensure(spark, sf, docs.filter("doc_id = 1"), n_files=1)
    for i in order:
        _append(spark, path, batches[i])
    assert _served(spark, path) == {("en", 8), ("de", 3)}
