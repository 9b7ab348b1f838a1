"""Pins for where derived data lives: every directory a query writes
resolves through ``index_family.warehouse_index_path`` (warehouse dir +
sf_dir tag + source fingerprint), and a crashed build of a derived store
is rebuilt instead of served."""

from __future__ import annotations

import os
import shutil

import pytest

import minoan_athenaeum_spark
from minoan_athenaeum_spark.queries import rollup
from minoan_athenaeum_spark.registry import load_all
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
