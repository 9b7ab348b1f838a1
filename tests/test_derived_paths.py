"""Pins for where derived data lives: every directory a query writes
resolves through ``index_family.warehouse_index_path`` (warehouse dir +
sf_dir tag + source fingerprint), every derived copy that is not an
index is built through ``index_family.ensure_copy``, a crashed build of a
derived store is rebuilt instead of served, and each such build path
matches its DuckDB oracle when it runs from nothing."""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import shutil

import pytest

import minoan_athenaeum_spark
from minoan_athenaeum_spark.queries import rollup
from minoan_athenaeum_spark.registry import load_all
from minoan_athenaeum_spark.sources.index_family import warehouse_index_path
from minoan_athenaeum_spark.testing import check_query_against_oracle

PACKAGE = os.path.dirname(minoan_athenaeum_spark.__file__)


def test_package_names_no_tmp_dir():
    """Only the session's warehouse default may name ``/tmp``; every
    other directory is derived from the warehouse."""
    hits = []
    for root, _dirs, files in os.walk(PACKAGE):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    if not any(w in line for w in ("tempfile", "mkdtemp", '"/tmp/')):
                        continue
                    if fn == "session.py" and "spark.sql.warehouse.dir" in line:
                        continue
                    hits.append(f"{os.path.relpath(path, PACKAGE)}:{no}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_rollup_store_rebuilds_after_crashed_build(spark, sf_dir, tmp_path, monkeypatch):
    """A build that dies after its first grain leaves ``rollup_1h``
    behind; the next query must rebuild the store, not serve it."""
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf)
    real_build = rollup.build_rollups

    def crash_after_first_grain(events, out):
        real_build(events, out, grains={"1h": 3600})
        raise RuntimeError("crash after rollup_1h")

    monkeypatch.setattr(rollup, "build_rollups", crash_after_first_grain)
    with pytest.raises(RuntimeError, match="crash after rollup_1h"):
        rollup.rollup_daily_by_type(spark, sf)
    monkeypatch.setattr(rollup, "build_rollups", real_build)

    spec = load_all()["rollup_daily_by_type"]
    assert not check_query_against_oracle(spark, sf, spec.fn, spec.oracle)


def test_one_build_once_step():
    """Every derived copy that is not an index is built through
    ``index_family.ensure_copy``: no ``_SUCCESS`` probe, no catalog
    existence check, and only the bucketed-table operator writes through
    the catalog."""
    hits = []
    for root, _dirs, files in os.walk(PACKAGE):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PACKAGE)
            with open(path, encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    if "_SUCCESS" in line or "tableExists" in line or (
                        "saveAsTable" in line and rel != os.path.join("operators", "bucketing.py")
                    ):
                        hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "\n".join(hits)


# Every registry query that builds a cached derived copy other than an index.
BUILD_PATH_QUERIES = [
    "rollup_daily_by_type",
    "rollup_6h_purchases",
    "src_csv_events_agg",
    "src_jsonl_events_agg",
    "src_orc_events_agg",
    "misc_compaction_roundtrip",
    "misc_zorder_roundtrip",
    "bucketed_colocated_join",
    "stream_tumbling_exec",
]


@pytest.fixture(scope="module")
def fresh_sf(spark, sf_dir, tmp_path_factory):
    """A copy of the test data: its sf_dir tag resolves derived paths no
    earlier run built, so every build path runs. Teardown deletes the
    copies and catalog tables derived from it."""
    sf = str(tmp_path_factory.mktemp("fresh") / "sf")
    shutil.copytree(sf_dir, sf)
    yield sf
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    for table in spark.catalog.listTables():
        if tag in table.name:
            spark.sql(f"DROP TABLE {table.name}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in os.listdir(wh):
        if tag in name:
            shutil.rmtree(os.path.join(wh, name))


@pytest.mark.parametrize("name", BUILD_PATH_QUERIES)
def test_build_path_matches_oracle(spark, fresh_sf, name):
    spec = load_all()[name]
    assert not check_query_against_oracle(spark, fresh_sf, spec.fn, spec.oracle)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_bucketed_tables_survive_a_session(spark, fresh_sf):
    """A new session (standing in: the pair's catalog entries dropped)
    registers the bucketed tables over the files already written, with
    no rewrite and the same bucketed plan."""
    fn = load_all()["bucketed_colocated_join"].fn
    paths = [
        warehouse_index_path(spark, fresh_sf, f"mas_bucketed_{t}", t)
        for t in ("orders", "lineitem")
    ]

    def mtimes():
        return {
            os.path.join(p, f): os.stat(os.path.join(p, f)).st_mtime_ns
            for p in paths
            for f in os.listdir(p)
        }

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        before = sorted(fn(spark, fresh_sf).collect())
        written = mtimes()
        for p in paths:
            spark.sql(f"DROP TABLE {os.path.basename(p)}")
        df = fn(spark, fresh_sf)
        assert _explain(df).count("Bucketed: true") == 2
        assert sorted(df.collect()) == before
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert mtimes() == written
