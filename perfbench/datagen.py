"""Seeded generator for the benchmark's input tables.

Writes the ten tables the package's catalog expects (``catalog.TABLES``)
as ``<name>.parquet`` files with the column names, types and value
domains of the package's TPC-H-like test data: uniform keys, two-decimal
money columns, day-granular order/ship dates, a 31-word document
vocabulary with one rare term (``dup``), unit-norm 64-d embeddings.
The same seed and scale factor always give byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PNOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H proportions)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": n(50_000),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _choice(rng: np.random.Generator, values, size: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)])


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, size: int) -> pa.Array:
    d = rng.integers(lo_day, hi_day + 1, size)
    return pa.array(_EPOCH_1995 + d * _US_PER_DAY, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    word_ids = rng.integers(0, len(_WORDS), int(lengths.sum()))
    rare = rng.random(word_ids.size) < 0.001
    vocab = np.asarray(_WORDS + ["dup"], dtype=object)
    word_ids[rare] = len(_WORDS)
    words = vocab[word_ids]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row counts."""
    rng = np.random.default_rng(seed)
    counts = row_counts(sf)
    nc, ns, npart, no, nl = (
        counts[k] for k in ("customer", "supplier", "part", "orders", "lineitem")
    )
    ne, nd, nv = counts["events"], counts["documents"], counts["embeddings"]

    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    event_ts = _EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, ne)

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _choice(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{_PADJ[a]} {_PNOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, npart)]
                ),
                "p_type": _choice(rng, _PTYPES, npart),
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, npart), 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), no),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
                "o_orderdate": _days(rng, 0, 2404, no),
                "o_orderpriority": _choice(rng, _PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _choice(rng, ("A", "N", "R"), nl),
                "l_linestatus": _choice(rng, ("F", "O"), nl),
                "l_shipdate": _days(rng, 1, 2499, nl),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                "ts": pa.array(event_ts, pa.timestamp("us")),
                "user_id": pa.array(
                    rng.integers(0, max(1, nc // 10), ne), pa.int64()
                ),
                "event_type": _choice(rng, _EVENT_TYPES, ne),
                "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
        "documents": _documents(rng, nd),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(nv), pa.int64()),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return counts
