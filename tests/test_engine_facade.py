from __future__ import annotations

import pytest
from conftest import REFERENCE_FIXTURES

from minoan_athenaeum_spark.engine import Athenaeum
from minoan_athenaeum_spark.plans.dialect import DialectError


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = Athenaeum(spark)
    e.register_table_json_dir(REFERENCE_FIXTURES)
    e.register_parquet_dir(sf_dir)
    return e


def test_strict_dialect_path(eng):
    df = eng.sql_strict(
        'SELECT name, population FROM cities WHERE country = "Japan" AND population > 8000'
    )
    assert {tuple(r) for r in df.collect()} == {
        ("Tokyo", 13513),
        ("Kanagawa", 9127),
        ("Osaka", 8838),
    }


def test_ansi_sql_path_same_tables(eng):
    df = eng.sql("SELECT count(*) AS n FROM cities WHERE country = 'Japan'")
    assert df.collect()[0].n == 4


def test_modern_catalog(eng):
    df = eng.sql(
        "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag"
    )
    assert df.count() == 3


def test_missing_table_error(eng):
    with pytest.raises(DialectError, match='Unable to read table "nope.table.json"'):
        eng.sql_strict("SELECT x FROM nope")


def test_show_formats(eng):
    out = eng.show(eng.sql_strict("SELECT name FROM countries"))
    lines = out.splitlines()
    assert lines[0].startswith("name")
    assert set(lines[1]) == {"-"}
