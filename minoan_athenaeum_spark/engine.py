"""High-level engine facade — the library surface a reference user
switches to.

    from minoan_athenaeum_spark.engine import Athenaeum

    eng = Athenaeum.local()
    eng.register_table_json_dir("/root/reference")       # reference catalog
    eng.sql_strict('SELECT name, population FROM cities '
                   'WHERE country = "Japan" AND population > 8000')  # dialect
    eng.register_parquet_dir("/root/testdata/sf0.01")    # modern catalog
    eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1")  # ANSI

Two table tiers, split by the byte size of a table's parquet source:
  - small tables (at most ``SMALL_TABLE_BYTES``) are read once, when
    ``register_parquet_dir`` runs, and served from an in-memory local
    relation. Catalyst folds filters and projections over it while
    planning, so a point lookup runs no Spark job. The relation is a
    snapshot: a later change to the file is seen only after registering
    the directory again.
  - larger tables stay lazy parquet scans (``catalog.load_table``), so
    the same code handles 100 TB directories.

Two query paths:
  - ``sql_strict``: the reference dialect with its exact error semantics
    (SURVEY §2 T1/T2/E2-E6) — parsed/validated by plans/, executed as
    DataFrame ops.
  - ``sql``: full Spark SQL (Catalyst) over the same registered tables —
    the widened engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from minoan_athenaeum_spark.catalog import load_table, source_files
from minoan_athenaeum_spark.plans.dialect import parse
from minoan_athenaeum_spark.plans.executor import Executor, check_duplicate_aliases
from minoan_athenaeum_spark.session import get_spark
from minoan_athenaeum_spark.sink import format_results
from minoan_athenaeum_spark.sources.table_json import load_table_json


# Byte bound of the small-table tier. Measured warm on a 4-vCPU host
# (pyspark 4.1.2, local[4]): a point lookup on the 279 KB, 15k-row
# orders table took 0.02 s from a local relation against 0.10 s from
# its parquet scan, while a filtered aggregate over the 1.04 MB, 60k-row
# lineitem table went from 0.11 s to 0.135 s, because Catalyst
# evaluates a filter over a local relation row by row, in one thread,
# while planning.
# The crossover lies between the two sizes.
SMALL_TABLE_BYTES = 512 * 1024


class Athenaeum:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}

    @classmethod
    def local(cls, **kwargs) -> "Athenaeum":
        return cls(get_spark(**kwargs))

    # ------------------------------------------------------------ catalog

    def register(self, name: str, df: DataFrame) -> None:
        self._tables[name] = df
        df.createOrReplaceTempView(name)

    def register_parquet_dir(self, path: str) -> list[str]:
        """Register every ``<name>.parquet`` under ``path``. A table of at
        most ``SMALL_TABLE_BYTES`` is read now, through the same scan
        ``catalog.load_table`` returns, into an in-memory local relation
        with that scan's schema and rows: a snapshot, which a change to
        the file reaches only through a new ``register_parquet_dir``.
        Larger tables are registered as the lazy scan itself."""
        names = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                name = fn[: -len(".parquet")]
                df = load_table(self.spark, path, name)
                files = source_files(os.path.join(path, fn))
                if sum(map(os.path.getsize, files)) <= SMALL_TABLE_BYTES:
                    df = self.spark.createDataFrame(df.toArrow(), schema=df.schema)
                self.register(name, df)
                names.append(name)
        return names

    def register_table_json_dir(self, path: str) -> list[str]:
        """Register every ``<name>.table.json`` under ``path`` (the
        reference's file-as-catalog layout, SURVEY §1.3)."""
        names = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".table.json"):
                name = fn[: -len(".table.json")]
                df, _ = load_table_json(self.spark, os.path.join(path, fn), name)
                self.register(name, df)
                names.append(name)
        return names

    def table(self, name: str) -> DataFrame:
        return self._tables[name]

    # ------------------------------------------------------------ queries

    def sql(self, query: str) -> DataFrame:
        """Full ANSI Spark SQL over the registered tables."""
        return self.spark.sql(query)

    def sql_strict(self, query: str) -> DataFrame:
        """Reference-dialect SQL with reference error semantics."""
        q = parse(query)
        check_duplicate_aliases(q)
        missing = [t.name for t in q.tables if t.name not in self._tables]
        if missing:
            from minoan_athenaeum_spark.plans.dialect import DialectError

            raise DialectError(
                f'Unable to read table "{missing[0]}.table.json" from disk'
            )
        tables = {t.effective_name: self._tables[t.name] for t in q.tables}
        return Executor(tables).plan(q)

    def show(self, df: DataFrame) -> str:
        """Reference-format text rendering (S3 sink)."""
        return format_results(df)
