from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from minoan_athenaeum_spark.catalog import load_table
from minoan_athenaeum_spark.sources.delimited import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from minoan_athenaeum_spark.sources.textio import read_events_csv, read_events_jsonl


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = os.path.join(str(tmp_path), "nation_csv")
    write_csv(nation, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = read_csv(spark, path, schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    supplier = load_table(spark, sf_dir, "supplier")
    path = os.path.join(str(tmp_path), "supplier_jsonl")
    write_jsonl(supplier, path)
    back = read_jsonl(spark, path, supplier.schema)
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in supplier.collect()
    }
    # And it's queryable like any table.
    assert (
        back.filter(F.col("s_acctbal") > 0).count()
        == supplier.filter(F.col("s_acctbal") > 0).count()
    )


# One events row whose ``us`` field is not a BIGINT, per text format.
MALFORMED = {
    "csv": (read_events_csv, "event_id,us,user_id,event_type,cents\n2,xx,5,click,200\n"),
    "json": (
        read_events_jsonl,
        '{"event_id":2,"us":"xx","user_id":5,"event_type":"click","cents":200}\n',
    ),
}


@pytest.mark.parametrize("fmt", sorted(MALFORMED))
def test_malformed_field_raises(spark, tmp_path, fmt):
    """A field that does not parse as its declared type fails the read
    instead of reading as null."""
    read, text = MALFORMED[fmt]
    (tmp_path / f"events.{fmt}").write_text(text)
    with pytest.raises(Exception, match="MALFORMED|Malformed"):
        read(spark, str(tmp_path)).collect()
