"""Pins for ``catalog.load_table``'s handles: the scan's schema comes
from the parquet footer (no schema-inference Spark job) and equals what
Spark infers, and a cached handle is never served for a rewritten
source."""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from minoan_athenaeum_spark.catalog import TABLES, load_table, read_plan, source_fingerprint
from minoan_athenaeum_spark.engine import Athenaeum
from minoan_athenaeum_spark.streaming.ops import read_stream, run_to_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def datagen_dir(tmp_path_factory):
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(ROOT, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    out = str(tmp_path_factory.mktemp("datagen"))
    datagen.generate(out, seed=7, sf=0.001)
    return out


@pytest.fixture(scope="module")
def spark_written_dir(spark, tmp_path_factory):
    """A directory table written by Spark, with types pandas never writes."""
    out = str(tmp_path_factory.mktemp("spark_written"))
    spark.sql(
        """SELECT CAST(id AS INT) AS a, CAST(id AS TINYINT) AS b,
                  CAST(id AS DECIMAL(12, 2)) AS d, TIMESTAMP'2024-01-02 03:04:05' AS ts,
                  CAST(TIMESTAMP'2024-01-02 03:04:05' AS TIMESTAMP_NTZ) AS ts_ntz,
                  DATE'2024-01-02' AS dt, array(CAST(id AS FLOAT)) AS arr,
                  named_struct('x', id, 'y', 'z') AS st, map('k', id) AS m,
                  CAST('ab' AS BINARY) AS bin, id
           FROM range(20)"""
    ).repartition(3).write.parquet(f"{out}/mixed.parquet")
    return out


def _parquet_sources(d):
    return sorted(fn[: -len(".parquet")] for fn in os.listdir(d) if fn.endswith(".parquet"))


@pytest.mark.parametrize("which", ["sf0.001", "sf0.01", "datagen", "spark_written"])
def test_pinned_schema_equals_inferred(spark, which, sf_dir, datagen_dir, spark_written_dir):
    d = {
        "datagen": datagen_dir,
        "spark_written": spark_written_dir,
    }.get(which) or os.path.join(os.path.dirname(sf_dir), which)
    names = _parquet_sources(d)
    assert names
    for name in names:
        path = f"{d}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        pinned = spark.read.schema(read_plan(spark, path)[0]).parquet(path)
        assert pinned.schema == inferred, name
        assert load_table(spark, d, name).schema == inferred, name


def test_extra_column_survives_batch_and_stream(spark, sf_dir, tmp_path):
    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.append_column("country", pa.array(["gr"] * len(t)))
    pq.write_table(t, tmp_path / "events.parquet")
    d = str(tmp_path)
    batch = load_table(spark, d, "events")
    assert batch.columns == t.column_names
    stream = run_to_memory(read_stream(spark, d, "events"), "extra_column", mode="append")
    assert stream.columns == t.column_names
    assert sorted(stream.collect(), key=repr) == sorted(batch.collect(), key=repr)


def test_load_table_runs_no_job(spark, sf_dir, tmp_path, jobs_run):
    # A fresh directory, so no handle is cached yet.
    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    for name in TABLES:
        assert jobs_run(lambda: load_table(spark, d, name)) == 0, name


def _write_ids(path, ids, as_dir):
    table = pa.table({"k": pa.array(ids, pa.int64()), "v": pa.array([f"v{i}" for i in ids])})
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    # Many small row groups: a reader holding the old file length misses
    # the ones past it.
    if as_dir:
        # New part-file names, as a rewrite by another writer leaves them.
        os.makedirs(path)
        half = len(ids) // 2
        pq.write_table(table.slice(0, half), f"{path}/part-{uuid.uuid4().hex}.parquet", row_group_size=100)
        pq.write_table(table.slice(half), f"{path}/part-{uuid.uuid4().hex}.parquet", row_group_size=100)
    else:
        pq.write_table(table, path, row_group_size=100)


@pytest.mark.parametrize("as_dir", [True, False], ids=["directory", "single-file"])
def test_rewritten_source_gets_a_fresh_handle(spark, tmp_path, as_dir):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    _write_ids(path, list(range(10)), as_dir)
    eng = Athenaeum(spark)
    eng.register_parquet_dir(d)
    assert eng.sql("SELECT count(*) AS n FROM t").first().n == 10
    assert load_table(spark, d, "t").count() == 10

    new = list(range(100, 2100))
    _write_ids(path, new, as_dir)
    # A registered table is a snapshot until the directory is registered
    # again; load_table sees the rewrite at once.
    got = load_table(spark, d, "t").agg(F.count("*"), F.min("k"), F.max("k")).first()
    assert tuple(got) == (2000, 100, 2099)
    eng.register_parquet_dir(d)
    assert sorted(r.k for r in eng.sql("SELECT k FROM t").collect()) == new
    rows = eng.show(eng.sql_strict("SELECT v FROM t WHERE k = 1110")).splitlines()
    assert rows[2:] == ["v1110"]


def test_copy_keeping_size_and_mtime_gets_a_fresh_fingerprint(tmp_path):
    """A source overwritten by another file of the same size, copied with
    its mtime (``cp -p``), is a rewritten source."""
    src, other = tmp_path / "t.parquet", tmp_path / "other"
    src.write_bytes(b"a" * 64)
    other.write_bytes(b"b" * 64)
    mtime = src.stat().st_mtime_ns
    os.utime(other, ns=(mtime, mtime))
    before = source_fingerprint(str(src))
    time.sleep(0.05)  # past a coarse kernel timestamp tick
    shutil.copy2(other, src)
    assert src.stat().st_mtime_ns == mtime
    assert source_fingerprint(str(src)) != before


def test_rewritten_sources_get_fresh_bucketed_tables(spark, sf_dir, tmp_path):
    """``bucketed_colocated_join`` answers from bucketed tables built from
    ``orders`` and ``lineitem``; once both sources are rewritten it must
    answer from the new rows, not from the tables built before."""
    from minoan_athenaeum_spark.registry import load_all
    from minoan_athenaeum_spark.testing import check_query_against_oracle

    spec = load_all()["bucketed_colocated_join"]
    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    assert check_query_against_oracle(spark, d, spec.fn, spec.oracle) == []

    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        path = f"{d}/{name}.parquet"
        table = pq.read_table(path)
        os.remove(path)
        even = pc.equal(pc.bit_wise_and(table[key], 1), 0)
        pq.write_table(table.filter(even), path)
    assert check_query_against_oracle(spark, d, spec.fn, spec.oracle) == []
