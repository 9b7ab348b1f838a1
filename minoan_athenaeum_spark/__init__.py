"""minoan_athenaeum_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
``icirellik/minoan-athenaeum`` (a single-process, in-memory columnar SQL
executor; see ``/root/reference/database.py``), widened to a full
DataFrame/SQL analytics engine with aggregations, windows, dedup,
similarity search, text analysis, multimodal plumbing and streaming —
all designed for partitioned execution on a large cluster.

Layout:
  session     — SparkSession factory (local parallelism, UTC, Arrow on)
  catalog     — testdata parquet catalog (views + DataFrames)
  registry    — named query registry: spark fn + DuckDB oracle SQL
  queries/    — operator implementations registered by name
  sources/    — file-format sources incl. the reference's .table.json
  operators/  — reusable operator builders (dedup, similarity, text, ...)
  plans/      — strict-dialect parser/validator for reference parity
  streaming/  — Structured Streaming operators over the events table
  sink        — CLI text formatter matching the reference's output
"""

__version__ = "0.1.0"
