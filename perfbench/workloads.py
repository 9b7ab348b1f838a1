"""The benchmark's workloads.

Each workload is driven by one single-client closed loop: the next
operation is sent only after the previous one returned. A workload
yields its operations in rounds; every operation belongs to class
``a`` or ``b`` (see ``run.py`` for what each class is per workload).
Results are kept and checked against DuckDB after the measured phase,
so oracle time never lands inside a timed region.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from datagen import SEGMENTS as _SEGMENTS


@dataclass
class Op:
    kind: str
    cls: str
    run: Callable[[], Any]
    # check(result) -> mismatch descriptions; called after the loop.
    check: Callable[[Any], list[str]]
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: Any
    eng: Any
    specs: dict
    data_dir: str
    tracer: Any


class Workload:
    """Hooks the harness calls; the defaults do nothing."""

    name = ""
    # Storage or other counters the workload records for the report.
    counters: dict[str, list] = {}

    def prepare(self, ctx: Ctx) -> None:
        """Timed as part of set-up."""

    def load_oracles(self, ctx: Ctx) -> None:
        """After ``prepare``: oracle results and other reference data for
        the checks; excluded from set-up time."""

    def warm_up(self, ctx: Ctx) -> None:
        """After ``load_oracles``, timed as part of set-up."""

    def rounds(self, ctx: Ctx) -> Iterator[list[Op]]:
        raise NotImplementedError

    def before(self, op: Op) -> None:
        """Between operations, outside the timed call."""

    def after(self, op: Op) -> None:
        """After an operation that succeeded, outside the timed call."""

    def close(self) -> None:
        pass


def _duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()]


def _rows_check(oracle: Callable[[], tuple[list[str], list[tuple]]]):
    from minoan_athenaeum_spark.testing import compare_results

    def check(result: tuple[list[str], list[tuple]]) -> list[str]:
        return compare_results(*result, *oracle())

    return check


# ---------------------------------------------------------------- sql_analytics

# Query shapes as (name, template). ``{q}`` is the string quote of the
# dialect (reference: double, ANSI: single) and ``{count}`` its row
# count aggregate, so the reference and ANSI twins of a shape differ only
# in those tokens. Every shape runs unchanged on DuckDB in its ANSI form.
_SHAPES = (
    ("customer_point", "SELECT c_name, c_mktsegment, c_nationkey FROM customer WHERE c_custkey = {k}"),
    ("orders_point", "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey = {o}"),
    (
        "customer_nation_join",
        "SELECT c_name, c_mktsegment, n_name FROM customer, nation "
        "WHERE c_nationkey = n_nationkey AND n_nationkey = {n}",
    ),
    (
        "orders_customer_join",
        "SELECT o_orderkey, o_orderpriority, c_name FROM orders, customer "
        "WHERE o_custkey = c_custkey AND c_custkey = {k}",
    ),
    (
        "segment_count",
        "SELECT c_mktsegment, {count} AS n FROM customer WHERE c_mktsegment != {q}{s}{q} "
        "GROUP BY c_mktsegment",
    ),
    (
        "returnflag_line_sum",
        "SELECT l_returnflag, SUM(l_linenumber) AS total FROM lineitem WHERE l_suppkey = {u} "
        "GROUP BY l_returnflag",
    ),
)

# Reference-dialect queries per ANSI query. A round sends every shape
# _STRICT_PER_ANSI times through the dialect and once as ANSI, in
# groups of _STRICT_PER_ANSI + 1 queries that each hold one ANSI query,
# so every round has the same mix and only order and keys vary by seed.
_STRICT_PER_ANSI = 3


def _parse_rendered(text: str) -> tuple[list[str], list[tuple], list[str]]:
    """Split an ``Athenaeum.show`` table back into header and cells."""
    lines = text.split("\n")
    problems = []
    if len(lines) < 2 or lines[1] != "-" * len(lines[0]):
        problems.append("rendered table has no full-width underline")
    header = [c.strip() for c in lines[0].split(" | ")]
    rows = [tuple(c.strip() for c in line.split(" | ")) for line in lines[2:]]
    if any(len(r) != len(header) for r in rows):
        problems.append("rendered row width differs from header")
    return header, rows, problems


# Registry report queries (``spec.fn`` + collect): one relational
# (Catalyst scan / shuffle / join) and one curation (Python / Arrow
# operator) query, each sent after every REPORT_EVERY query groups.
REPORTS = ("tpch_q18_large_orders", "mm_jpeg_decode_stats")
REPORT_EVERY = 3


class SqlAnalytics(Workload):
    """A seeded stream of small queries (reference-dialect queries
    through ``sql_strict`` + ``show``, their ANSI twins through ``sql`` +
    ``collect``) interleaved with registry report queries."""

    name = "sql_analytics"

    def __init__(self, data_dir: str, seed: int, counts: dict[str, int]):
        self.data_dir = data_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 1])
        self.counts = counts
        self._con = None
        self._report_oracles: dict[str, tuple[list[str], list[tuple]]] = {}

    def _duckdb(self):
        if self._con is None:
            from minoan_athenaeum_spark.testing import duckdb_connect

            self._con = duckdb_connect(self.data_dir)
        return self._con

    def load_oracles(self, ctx: Ctx) -> None:
        for name in REPORTS:
            self._report_oracles[name] = _duck_rows(self._duckdb(), ctx.specs[name].oracle)

    def _params(self, r: np.random.Generator) -> dict:
        c = self.counts
        return {
            "k": int(r.integers(0, c["customer"])),
            "o": int(r.integers(0, c["orders"])),
            "n": int(r.integers(0, 25)),
            "s": str(r.choice(_SEGMENTS)),
            "u": int(r.integers(0, c["supplier"])),
        }

    def _op(self, ctx: Ctx, shape: str, template: str, params: dict, ansi_path: bool) -> Op:
        ansi = template.format(q="'", count="count(*)", **params)

        def oracle():
            return _duck_rows(self._duckdb(), ansi)

        if ansi_path:

            def run():
                with ctx.tracer.span("engine.sql", "build"):
                    df = ctx.eng.sql(ansi)
                with ctx.tracer.span("spark.collect", "exec"):
                    rows = [tuple(r) for r in df.collect()]
                return df.columns, rows

            return Op(f"ansi.{shape}", "a", run, _rows_check(oracle))

        text = template.format(q='"', count="COUNT()", **params)

        def run():
            if ctx.tracer.enabled:
                from minoan_athenaeum_spark.plans.dialect import parse

                with ctx.tracer.span("plans.parse"):
                    parse(text)
            with ctx.tracer.span("plans.plan", "build"):
                df = ctx.eng.sql_strict(text)
            with ctx.tracer.span("sink.show", "exec"):
                return ctx.eng.show(df)

        def check(rendered: str) -> list[str]:
            header, rows, problems = _parse_rendered(rendered)
            cols, expect = oracle()
            if header != cols:
                problems.append(f"header {header} != {cols}")
            want = sorted(tuple(str(v) for v in r) for r in expect)
            if sorted(rows) != want:
                problems.append(f"{text!r}: {len(rows)} rendered rows differ from {len(want)} oracle rows")
            return problems

        return Op(f"reference.{shape}", "a", run, check)

    def _report(self, ctx: Ctx, name: str) -> Op:
        fn = ctx.specs[name].fn

        def run():
            with ctx.tracer.span(f"queries.{name}.build", "build"):
                df = fn(ctx.spark, ctx.data_dir)
            with ctx.tracer.span(f"queries.{name}.collect", "exec"):
                rows = [tuple(r) for r in df.collect()]
            return df.columns, rows

        return Op(name, "b", run, _rows_check(lambda: self._report_oracles[name]))

    def _round(self, ctx: Ctx, rng: np.random.Generator) -> list[Op]:
        n, k = len(_SHAPES), _STRICT_PER_ANSI
        ansi = rng.permutation(n)
        strict = rng.permutation(np.repeat(np.arange(n), k))
        ops = []
        for g in range(n):
            group = [(int(i), False) for i in strict[g * k : (g + 1) * k]]
            group.insert(int(rng.integers(0, k + 1)), (int(ansi[g]), True))
            ops += [self._op(ctx, *_SHAPES[i], self._params(rng), a) for i, a in group]
            if (g + 1) % REPORT_EVERY == 0:
                ops += [self._report(ctx, name) for name in REPORTS]
        return ops

    def warm_up(self, ctx: Ctx) -> None:
        """One unchecked round from a stream of its own: in a fresh JVM
        the first round runs about a third slower than later ones."""
        for op in self._round(ctx, np.random.default_rng([self.seed, 3])):
            op.run()

    def rounds(self, ctx: Ctx) -> Iterator[list[Op]]:
        while True:
            yield self._round(ctx, self.rng)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ---------------------------------------------------------------- index_ingest

# A round: APPENDS_PER_ROUND appends, each followed by SERVES_PER_APPEND
# serves, then one compaction and a serve of the compacted index.
SERVES_PER_APPEND = 3
APPENDS_PER_ROUND = 2
N_BATCHES = 24


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


class IndexIngest(Workload):
    """Seeded batches of the arriving documents folded into a BM25 index
    with serves after each append and periodic compaction."""

    name = "index_ingest"

    def __init__(self, data_dir: str, seed: int, counts: dict[str, int]):
        self.data_dir = data_dir
        arriving = np.arange(0, counts["documents"], 10)
        np.random.default_rng([seed, 2]).shuffle(arriving)
        self.batches = [b.tolist() for b in np.array_split(arriving, N_BATCHES) if b.size]
        self.index_path: str | None = None
        self.n_applied = 0
        self.counters = {"delta_files_at_serve": [], "write_amp": [], "space_amp": []}
        self._text_bytes: dict[int, int] = {}
        self._oracle_cache: dict[int, tuple[list[str], list[tuple]]] = {}
        self._base_text_bytes = 0

    def _docs(self, ctx: Ctx, ids: list[int]):
        from pyspark.sql import functions as F

        from minoan_athenaeum_spark.catalog import load_table

        return load_table(ctx.spark, ctx.data_dir, "documents").filter(F.col("doc_id").isin(ids))

    def prepare(self, ctx: Ctx) -> None:
        from minoan_athenaeum_spark.sources.posting_sink import ensure_bm25_index

        with ctx.tracer.span("sources.ensure"):
            self.index_path = ensure_bm25_index(ctx.spark, ctx.data_dir, slice_="existing")

    def load_oracles(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.data_dir, "documents.parquet"), columns=["doc_id", "text"])
        for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            self._text_bytes[doc_id] = len(text.encode())
        self._base_text_bytes = sum(n for d, n in self._text_bytes.items() if d % 10 != 0)

    def _oracle(self, n_applied: int):
        if n_applied not in self._oracle_cache:
            from minoan_athenaeum_spark.registry import load_all
            from minoan_athenaeum_spark.testing import duckdb_connect

            live = [d for b in self.batches[:n_applied] for d in b]
            con = duckdb_connect(self.data_dir)
            try:
                con.execute(
                    "CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.data_dir}/documents.parquet') WHERE doc_id % 10 != 0"
                    + (f" OR doc_id IN ({', '.join(map(str, live))})" if live else "")
                )
                self._oracle_cache[n_applied] = _duck_rows(con, load_all()["text_bm25_search"].oracle)
            finally:
                con.close()
        return self._oracle_cache[n_applied]

    def _serve_op(self, ctx: Ctx, path: str, state: int | None) -> Op:
        from minoan_athenaeum_spark.queries.text import bm25_serve_from_index

        def run():
            with ctx.tracer.span("sources.serve.build", "build"):
                df = bm25_serve_from_index(ctx.spark, path)
            with ctx.tracer.span("sources.serve.collect", "exec"):
                rows = [tuple(r) for r in df.collect()]
            return df.columns, rows

        check = _rows_check(lambda: self._oracle(state)) if state is not None else (lambda r: [])
        return Op("serve", "b", run, check)

    def _append_op(self, ctx: Ctx, path: str, batch: list[int]) -> Op:
        from minoan_athenaeum_spark.sources.posting_sink import append_to_bm25_index

        def run():
            with ctx.tracer.span("sources.append", "exec"):
                append_to_bm25_index(ctx.spark, path, self._docs(ctx, batch))

        return Op("append", "a", run, lambda r: [], {"batch": batch})

    def _compact_op(self, ctx: Ctx, path: str) -> Op:
        from minoan_athenaeum_spark.sources.posting_sink import compact_bm25_index

        def run():
            with ctx.tracer.span("sources.compact", "exec"):
                compact_bm25_index(ctx.spark, path)

        return Op("compact", "a", run, lambda r: [])

    def _round(self, ctx: Ctx, path: str, first: int, checked: bool) -> list[Op]:
        """Appends of batches ``first``, ``first + 1``, ... with serves
        after each, then a compaction and a serve."""
        ops = []
        for i in range(first, first + APPENDS_PER_ROUND):
            state = i + 1 if checked else None
            ops.append(self._append_op(ctx, path, self.batches[i]))
            ops += [self._serve_op(ctx, path, state) for _ in range(SERVES_PER_APPEND)]
        state = first + APPENDS_PER_ROUND if checked else None
        return ops + [self._compact_op(ctx, path), self._serve_op(ctx, path, state)]

    def warm_up(self, ctx: Ctx) -> None:
        """One unchecked round on a throwaway copy of the index, so the
        measured index starts from the pristine base: in a fresh JVM the
        first round runs about a quarter slower than later ones."""
        work = self.index_path + "_warmup"
        shutil.copytree(self.index_path, work)
        for op in self._round(ctx, work, 0, checked=False):
            op.run()
        shutil.rmtree(work)

    # Storage counters, taken between operations (outside timed calls).
    def before(self, op: Op) -> None:
        if op.kind == "serve":
            self.counters["delta_files_at_serve"].append(
                _data_files(os.path.join(self.index_path, "postings"))
            )
        elif op.kind == "append":
            op.extra["bytes_before"] = _dir_bytes(self.index_path)

    def after(self, op: Op) -> None:
        if op.kind == "append":
            self.n_applied += 1
            written = _dir_bytes(self.index_path) - op.extra["bytes_before"]
            self.counters["write_amp"].append(
                written / sum(self._text_bytes[d] for d in op.extra["batch"])
            )
        elif op.kind == "compact":
            live = self._base_text_bytes + sum(
                self._text_bytes[d] for b in self.batches[: self.n_applied] for d in b
            )
            self.counters["space_amp"].append(_dir_bytes(self.index_path) / live)

    def rounds(self, ctx: Ctx) -> Iterator[list[Op]]:
        for first in range(0, len(self.batches) - APPENDS_PER_ROUND + 1, APPENDS_PER_ROUND):
            yield self._round(ctx, self.index_path, first, checked=True)


WORKLOADS = {w.name: w for w in (SqlAnalytics, IndexIngest)}
