"""Pins for the engine's small-table tier: tables whose parquet source is
at most ``SMALL_TABLE_BYTES`` are served from in-memory local relations
with the rows and schema of the file scan, larger tables stay file
scans, and the registry's ``catalog.load_table`` handles are untouched."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.engine import SMALL_TABLE_BYTES, Athenaeum
from minoan_athenaeum_spark.plans.dialect import DialectError


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _tier_tables(d):
    return sorted(
        fn[: -len(".parquet")]
        for fn in os.listdir(d)
        if fn.endswith(".parquet") and os.path.getsize(f"{d}/{fn}") <= SMALL_TABLE_BYTES
    )


# sf0.01 has tables on both sides of the bound: lineitem (about 1 MB)
# stays a file scan, every other table is tier-served.
@pytest.fixture(scope="module")
def eng(spark, sf01_dir):
    e = Athenaeum(spark)
    e.register_parquet_dir(sf01_dir)
    return e


def test_bound_splits_sf0_01(sf01_dir):
    assert "lineitem" not in _tier_tables(sf01_dir)
    assert {"customer", "orders", "nation", "events", "embeddings"} <= set(_tier_tables(sf01_dir))


def test_tier_tables_equal_file_scans(spark, eng, sf01_dir):
    for name in _tier_tables(sf01_dir):
        scan = load_table(spark, sf01_dir, name)
        tier = eng.table(name)
        assert "LocalTableScan" in _plan(tier), name
        assert tier.schema == scan.schema, name
        assert sorted(tier.collect(), key=repr) == sorted(scan.collect(), key=repr), name


def test_tier_reads_nanosecond_events(spark, sf01_dir, tmp_path):
    t = pq.read_table(f"{sf01_dir}/events.parquet")
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    d = str(tmp_path)
    e = Athenaeum(spark)
    e.register_parquet_dir(d)
    scan = load_table(spark, d, "events")
    assert "LocalTableScan" in _plan(e.table("events"))
    assert e.table("events").schema == scan.schema
    assert sorted(e.table("events").collect(), key=repr) == sorted(scan.collect(), key=repr)


def test_point_lookup_runs_no_job(eng, jobs_run):
    ansi = "SELECT c_name FROM customer WHERE c_custkey = 7"
    assert jobs_run(lambda: eng.sql(ansi).collect()) == 0
    strict = "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey = 7"
    assert jobs_run(lambda: eng.show(eng.sql_strict(strict))) == 0


def test_table_above_bound_stays_file_scan(eng, sf01_dir):
    assert os.path.getsize(f"{sf01_dir}/lineitem.parquet") > SMALL_TABLE_BYTES
    df = eng.sql("SELECT l_returnflag, sum(l_linenumber) FROM lineitem WHERE l_suppkey = 3 GROUP BY 1")
    assert "FileScan parquet" in _plan(df)


def test_registry_handles_stay_file_scans(spark, eng, sf01_dir):
    for name in _tier_tables(sf01_dir):
        assert "FileScan parquet" in _plan(load_table(spark, sf01_dir, name)), name


@pytest.mark.parametrize(
    "query, message",
    [
        ("SELECT c_name FROM nope", 'Unable to read table "nope.table.json" from disk'),
        (
            "SELECT c_nope FROM customer",
            'ERROR: Column reference "c_nope" does not exist in table "customer"',
        ),
        (
            "SELECT c_name FROM customer AS a, customer AS b",
            'ERROR: Column reference "c_name" is ambiguous; present in multiple tables: "a", "b".',
        ),
    ],
    ids=["missing-table", "missing-column", "ambiguous-column"],
)
def test_dialect_errors_unchanged_over_tier(eng, query, message):
    with pytest.raises(DialectError) as err:
        eng.sql_strict(query)
    assert str(err.value) == message


def test_registry_query_leaves_engine_tables_alone(spark, eng, sf_dir, sf01_dir):
    """A registry query over another sf_dir must not rebind the views
    the engine registered."""
    from minoan_athenaeum_spark.queries.stats import agg_grouping_sets

    agg_grouping_sets(spark, sf_dir).collect()
    want = load_table(spark, sf01_dir, "customer").count()
    assert eng.sql("SELECT count(*) FROM customer").first()[0] == want
