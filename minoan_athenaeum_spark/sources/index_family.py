"""Shared lifecycle for the persisted-index families.

Six index families keep serving state in the Spark warehouse: LSH bands
and shingles, BM25 postings, IVF cells, first-occurrence grams, line
fingerprints and LM scores. This module holds the lifecycle they all
share, in two layers:

1. :func:`warehouse_index_path` — the path/freshness convention (warehouse
   dir + sf_dir tag + source-parquet fingerprint, so a changed corpus
   resolves to a new path and a stale index is never served).

2. Snapshot manifests — an index is a set of tables (``grams/``,
   ``bands/`` + ``shingles/``, ``centroids/`` + ``members/``, ...), each
   a list of immutable generation directories ``<index>/<table>/<gen>/``
   with one pinned schema, and one JSON manifest lists them all.
   :func:`ensure_index`, :func:`append_index` and :func:`compact_index`
   stage each table's rows, rename them into place and publish the next
   manifest with one ``os.replace``; :func:`read_table` reads a manifest
   once and then exactly one table's files with its schema (no listing,
   no schema-inference job). The publish is the only commit point, so a
   crash at any step leaves the previous snapshot served. A generation
   is deleted only once neither the current manifest nor the one it
   replaced names it, so a reader that built its plan on one snapshot
   can still read it after the next commit. A batch id already in the
   manifest makes an append a no-op.

Compaction rewrites each maintained table through its family's merge
(one row per key again; the identity for tables whose generations are
key-disjoint) and layout, all in one commit; model tables (the IVF
codebook, the LM tables) carry over untouched. Every family's crash
invariants are pinned in tests/test_crash_safety.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def warehouse_index_path(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    source_table: str = "documents",
    params: str = "",
) -> str | None:
    """Resolve the warehouse directory for a persisted index of
    ``sf_dir``'s ``source_table``: ``<wh>/<prefix>_<sfTag>[_<params>]_
    <sourceFingerprint>``. Returns None when the warehouse isn't a
    local filesystem (these indexes are local-disk artifacts). Folding
    the source fingerprint into the name is the freshness contract —
    a regenerated source parquet resolves to a NEW path, so a stale
    index is simply never served. ``params`` carries family
    hyper-parameters that change index CONTENT (gram length n, line
    length L, corpus slice) so one setting's index can never be served
    for another (the ADVICE-r8 gram-index n lesson)."""
    from minoan_athenaeum_spark.sources.bucketed import _source_fingerprint

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    elif "://" in wh:
        return None
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fresh = _source_fingerprint(f"{sf_dir}/{source_table}.parquet")
    mid = f"_{params}" if params else ""
    return os.path.join(wh, f"{prefix}_{tag}{mid}_{fresh}")


# A layout writes a table's rows as parquet into a fresh directory.
Layout = Callable[[DataFrame, str], None]


def write_parquet(rows: DataFrame, target: str) -> None:
    """The default layout: one file per partition of ``rows``."""
    rows.write.parquet(target)


def single_file(rows: DataFrame, target: str) -> None:
    """One file, for small model tables."""
    rows.coalesce(1).write.parquet(target)


def hash_layout(col: str, n_files: int) -> Layout:
    """``n_files`` files, hash-partitioned by ``col``."""
    return lambda rows, target: (
        rows.repartition(n_files, F.col(col)).write.parquet(target)
    )


@dataclass(frozen=True)
class Maintained:
    """How compaction rewrites one maintained table: ``merge`` restores
    one row per key across all of the table's generations (idempotent
    and order-insensitive, min/max/sum style; the default identity
    suits tables whose generations are key-disjoint), and ``layout``
    writes the merged rows."""

    layout: Layout
    merge: Callable[[DataFrame], DataFrame] = lambda rows: rows


# --------------------------------------------------------------------------
# Manifests. A manifest is a JSON object holding ``generations`` ({gen
# dir relative to the index, ``<table>/<name>``: its data file names}),
# ``schemas`` ({table: pinned schema}), ``batches`` (applied batch ids),
# ``previous`` (the generation dirs of the manifest it replaced) and
# whatever fields the family keeps beside them. Paths are relative, so a
# copied index directory stays valid. One writer per index; readers
# never take a lock.
# --------------------------------------------------------------------------

MANIFEST = "_manifest.json"
_STAGING = "_staging"


def read_manifest(path: str) -> dict:
    """The index's current manifest; FileNotFoundError when none was
    ever published."""
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as f:
        return json.load(f)


def _files(path: str, generations: dict[str, list[str]], table: str) -> list[str]:
    return [
        os.path.join(path, gen, name)
        for gen, names in generations.items()
        if os.path.dirname(gen) == table
        for name in names
    ]


def table_files(path: str, manifest: dict, table: str) -> list[str]:
    """Absolute paths of exactly the data files the manifest lists for
    ``table``."""
    return _files(path, manifest["generations"], table)


def _scan(spark: SparkSession, files: list[str], schema: dict) -> DataFrame:
    # every generation holds at least one file: Spark writes an empty
    # parquet file for an empty DataFrame
    return spark.read.schema(StructType.fromJson(schema)).parquet(*files)


def read_table(
    spark: SparkSession, path: str, table: str, manifest: dict | None = None
) -> DataFrame:
    """One table of the index: exactly the files ``manifest`` (default:
    the current one) lists for it, read with the table's pinned schema.
    Pass one manifest to read several tables of the same snapshot. The
    DataFrame stays readable across the next commit."""
    m = manifest if manifest is not None else read_manifest(path)
    return _scan(spark, table_files(path, m, table), m["schemas"][table])


def stage_generation(
    path: str, subdir: str, write: Callable[[str], None]
) -> dict[str, list[str]]:
    """Run ``write(staging_dir)``, then rename the finished directory to
    a fresh ``<path>/<subdir>/<gen>/``. Returns ``{gen: data files}``;
    readers see the generation only once a committed manifest names it."""
    name = uuid.uuid4().hex
    staging = os.path.join(path, _STAGING, name)
    write(staging)
    files = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    gen = os.path.join(subdir, name)
    os.makedirs(os.path.join(path, subdir), exist_ok=True)
    os.rename(staging, os.path.join(path, gen))
    return {gen: files}


def publish_manifest(path: str, manifest: dict) -> None:
    """Make ``manifest`` current: write and fsync a temp file, then one
    ``os.replace`` (and a directory fsync so the rename is durable)."""
    tmp = os.path.join(path, f".{MANIFEST}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, MANIFEST))
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def collect_garbage(path: str, manifest: dict) -> None:
    """Delete every generation dir neither ``manifest`` nor the one it
    replaced names (compacted-away inputs, orphans of a crashed write),
    and any leftover staging output."""
    keep = set(manifest["generations"]) | set(manifest["previous"])
    for subdir in {os.path.dirname(g) for g in keep}:
        for name in os.listdir(os.path.join(path, subdir)):
            if os.path.join(subdir, name) not in keep:
                shutil.rmtree(os.path.join(path, subdir, name))
    if os.path.isdir(os.path.join(path, _STAGING)):
        shutil.rmtree(os.path.join(path, _STAGING))


class IndexWrite:
    """The generations one commit stages on top of ``base``, the
    manifest it follows (None while the index is first built)."""

    def __init__(self, spark: SparkSession, path: str, base: dict | None):
        self.spark, self.path, self.base = spark, path, base
        self.generations: dict[str, list[str]] = {}
        self.schemas: dict[str, dict] = dict(base["schemas"]) if base else {}

    def stage(
        self, table: str, rows: DataFrame, layout: Layout = write_parquet
    ) -> None:
        """Write ``rows`` as a new generation of ``table``: cast to the
        table's pinned schema, or pinning it on the table's first
        write."""
        if table in self.schemas:
            # compare without nullability: parquet reads back nullable
            have = {f.name: f.dataType.simpleString() for f in rows.schema}
            rows = rows.select(*[
                F.col(f.name)
                if have[f.name] == f.dataType.simpleString()
                else F.col(f.name).cast(f.dataType)
                for f in StructType.fromJson(self.schemas[table])
            ])
        else:
            self.schemas[table] = rows.schema.jsonValue()
        self.generations.update(
            stage_generation(self.path, table, lambda target: layout(rows, target))
        )

    def read(self, table: str) -> DataFrame:
        """``table`` as this write staged it, else as ``base`` holds it
        (how a build reads back a model table before the commit)."""
        if not any(os.path.dirname(gen) == table for gen in self.generations):
            return read_table(self.spark, self.path, table, self.base)
        files = _files(self.path, self.generations, table)
        return _scan(self.spark, files, self.schemas[table])

    def commit(self, generations: dict[str, list[str]], **fields) -> None:
        """Publish the manifest that follows ``base``: ``generations``
        live, the tables' schemas, ``fields`` replacing base's family
        fields and the rest carried over. Then collect garbage."""
        base = self.base or {"generations": {}}
        manifest = {
            **base,
            **fields,
            "schemas": self.schemas,
            "generations": generations,
            "previous": list(base["generations"]),
        }
        publish_manifest(self.path, manifest)
        collect_garbage(self.path, manifest)


def ensure_index(
    spark: SparkSession,
    path: str | None,
    build: Callable[[IndexWrite], dict | None],
) -> str:
    """Build the index at ``path`` unless it exists, which it does once
    its manifest does. ``build(write)`` stages every table (and may read
    a staged model table back through ``write.read``); it returns the
    family's manifest fields, if any. One commit publishes it all."""
    if path is None:
        raise RuntimeError("a persisted index needs a local warehouse dir")
    if not os.path.isfile(os.path.join(path, MANIFEST)):
        write = IndexWrite(spark, path, None)
        fields = build(write) or {}
        write.commit(write.generations, batches=[], **fields)
    return path


def append_index(
    spark: SparkSession,
    path: str,
    batch: Callable[[IndexWrite], dict | None],
    batch_id: str | int | None = None,
) -> None:
    """Fold one source batch into the index as new generations:
    ``batch(write)`` stages each table's rows (``write.base`` is the
    current manifest) and returns changed manifest fields, if any; one
    commit publishes them. No read-modify-write — a table's merge over
    generations equals a rebuild from the union.

    ``batch_id`` makes a re-sent batch a no-op: an id already in the
    manifest is skipped, and a fresh one is recorded with the commit.
    Without it, each source row appended once is the caller's
    contract."""
    m = read_manifest(path)
    if batch_id is not None and str(batch_id) in m["batches"]:
        return
    write = IndexWrite(spark, path, m)
    fields = batch(write) or {}
    ids = [] if batch_id is None else [str(batch_id)]
    write.commit(
        {**m["generations"], **write.generations},
        batches=m["batches"] + ids,
        **fields,
    )


def compact_index(
    spark: SparkSession, path: str, maintained: dict[str, Maintained]
) -> None:
    """Rewrite every generation of each maintained table into one new
    generation through its merge and layout — the LSM compaction step
    that caps read amplification — and publish them in one commit.
    Other tables and the manifest fields carry over unchanged; the
    replaced generations stay on disk until the next commit, so a read
    planned before this compaction still reads its snapshot."""
    m = read_manifest(path)
    write = IndexWrite(spark, path, m)
    for table, spec in maintained.items():
        write.stage(table, spec.merge(read_table(spark, path, table, m)), spec.layout)
    kept = {
        gen: files
        for gen, files in m["generations"].items()
        if os.path.dirname(gen) not in maintained
    }
    write.commit({**kept, **write.generations})
