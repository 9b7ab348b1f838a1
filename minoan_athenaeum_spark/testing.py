"""Local replica of the driver's correctness gate: run a registered
query on Spark and its oracle SQL on DuckDB over the same parquet dir,
and compare order-insensitively (columns sorted by name, rows sorted,
exact value equality — queries are *designed* to be bit-exact across
engines; see registry.py docstring).
"""

from __future__ import annotations

import math
from typing import Any

import duckdb

from minoan_athenaeum_spark.catalog import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple((v is None, str(v)) for v in row))
    return out


def _cells_equal(a: Any, b: Any) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            return float(a) == float(b)
        return int(a) == int(b)
    return str(a) == str(b)


def compare_results(
    spark_cols: list[str],
    spark_rows: list[tuple],
    oracle_cols: list[str],
    oracle_rows: list[tuple],
) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in oracle_cols):
        problems.append(f"schema mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return problems
    if len(spark_rows) != len(oracle_rows):
        problems.append(f"row count: spark={len(spark_rows)} oracle={len(oracle_rows)}")
    s = _normalize(spark_cols, spark_rows)
    o = _normalize(oracle_cols, oracle_rows)
    for i, (sr, orow) in enumerate(zip(s, o)):
        if len(sr) != len(orow) or not all(_cells_equal(x, y) for x, y in zip(sr, orow)):
            problems.append(f"first differing row #{i}: spark={sr!r} oracle={orow!r}")
            break
    return problems


def check_query_against_oracle(spark, sf_dir: str, fn, oracle: str) -> list[str]:
    sdf = fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    con = duckdb_connect(sf_dir)
    try:
        cur = con.execute(oracle)
        oracle_cols = [d[0] for d in cur.description]
        oracle_rows = [tuple(r) for r in cur.fetchall()]
    finally:
        con.close()
    return compare_results(spark_cols, spark_rows, oracle_cols, oracle_rows)


def index_rows(spark, path: str, merges: dict | None = None) -> tuple[dict, dict]:
    """What a serve of a persisted index reads, from one manifest: each
    table's rows (through ``merges[table]`` when given), sorted, and the
    manifest's family fields (e.g. BM25's corpus stats)."""
    from minoan_athenaeum_spark.sources.index_family import read_manifest, read_table

    m = read_manifest(path)
    tables = {}
    for table in m["schemas"]:
        df = read_table(spark, path, table, m)
        if merges and table in merges:
            df = merges[table](df)
        tables[table] = sorted(map(tuple, df.collect()), key=repr)
    structural = {"generations", "previous", "schemas", "batches"}
    return tables, {k: v for k, v in m.items() if k not in structural}
