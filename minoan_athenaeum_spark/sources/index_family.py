"""Shared lifecycle harness for the persisted-index families.

Several index families keep serving state in the Spark warehouse (LSH
bands, BM25 postings, IVF cells, first-occurrence grams, LM scores,
line fingerprints). This module holds the lifecycle they share, in
three layers:

1. :func:`warehouse_index_path` — the path/freshness convention EVERY
   family shares (warehouse dir + sf_dir tag + source-parquet
   fingerprint, so a changed corpus resolves to a new path and a stale
   index is never served).

2. :class:`MergeableIndexFamily` + ensure/append/compact — the LSM
   lifecycle for families whose state is a per-key MERGEABLE
   aggregate: appends land as delta files in one live directory, a
   reader (or the compactor) restores the exact rebuilt-from-union
   index by applying ``merge_fn`` across them, and compaction swaps
   live via the crash-safe two-rename dance (sources/swap.py). The
   gram and line families are defined entirely on this layer; the LSH
   band index compacts through it.

3. Snapshot manifests — immutable generation directories plus one JSON
   manifest per index (:func:`stage_generation`, :func:`commit`,
   :func:`read_manifest`). Each write stages its files, renames them
   into ``<index>/<subdir>/<gen>/`` and publishes a new manifest with
   one ``os.replace``; a reader reads the manifest once and then
   exactly its files with its pinned schema. A published manifest is
   the only commit point, so a crash at any step leaves the previous
   snapshot served, and a reader that built its plan on one snapshot
   can still read it after the next commit. The BM25 index
   (sources/posting_sink.py) is built on this layer.

The IVF and LM-score families keep their own writers on layer 1 and
sources/swap.py. Every family's crash invariants are pinned in
tests/test_crash_safety.py.
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

from minoan_athenaeum_spark.sources.swap import (
    recover_swap,
    swap_live,
    swap_paths,
)


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


@dataclass(frozen=True)
class MergeableIndexFamily:
    """A persisted index whose state is a per-key mergeable aggregate.

    ``rows_fn(slice) -> DataFrame`` maps a source slice to per-key rows
    ALREADY merged within the slice (the one definition both the full
    build and every batch append use, so append ≡ rebuild holds by
    construction). ``merge_fn(generations) -> DataFrame`` restores one
    row per key across any set of delta generations; it must be
    idempotent and order-insensitive (min/max/sum-style). ``part_col``
    is the key column the files are hash-partitioned by.

    ``layout_fn(rows, target_dir, n_files)``, when set, replaces the
    default hash-repartition overwrite for the FULL layout (ensure +
    compact) — e.g. the BM25 postings' term-range-sorted segment
    layout. ``append_fn(rows, live_dir)``, when set, replaces the
    default plain parquet append for delta generations (e.g. sorting
    a batch's postings within the delta file). Both defaults preserve
    the pre-r11 single-table behavior exactly."""

    prefix: str
    subdir: str
    rows_fn: Callable[[DataFrame], DataFrame]
    merge_fn: Callable[[DataFrame], DataFrame]
    part_col: str
    source_table: str = "documents"
    params: str = ""

    def path(self, spark: SparkSession, sf_dir: str) -> str | None:
        return warehouse_index_path(
            spark, sf_dir, self.prefix, self.source_table, self.params
        )

    def live_dir(self, path: str) -> str:
        return os.path.join(path, self.subdir)


def ensure_index(
    fam: MergeableIndexFamily,
    spark: SparkSession,
    sf_dir: str,
    existing: DataFrame,
    n_files: int = 8,
) -> str:
    """Materialize ``fam`` for the ``existing`` source slice as
    ``part_col``-hash-partitioned parquet. Idempotent per source
    fingerprint; repairs any interrupted compaction swap FIRST (a
    crash between swap renames must not look like a missing index and
    silently discard appended generations — the ADVICE-r8 recovery
    window, pinned in tests/test_crash_safety.py)."""
    path = fam.path(spark, sf_dir)
    if path is None:
        raise RuntimeError(f"{fam.prefix} index needs a local warehouse dir")
    live = fam.live_dir(path)
    recover_swap(live)
    if os.path.isfile(os.path.join(live, "_SUCCESS")):
        return path
    _write_layout(fam, fam.rows_fn(existing), live, n_files)
    return path


def _write_layout(
    fam: MergeableIndexFamily, rows: DataFrame, target: str, n_files: int
) -> None:
    (
        rows.repartition(n_files, F.col(fam.part_col))
        .write.mode("overwrite")
        .parquet(target)
    )


def append_index(
    fam: MergeableIndexFamily, path: str, new_slice: DataFrame
) -> None:
    """Fold a source batch INTO the persisted index as one delta
    generation (parquet append of the batch's per-key merged rows). No
    read-modify-write: ``merge_fn`` over generations ≡ rebuild from
    the unioned source under any interleaving. Per-record idempotence
    (each source row appended once) is the caller's contract."""
    fam.rows_fn(new_slice).write.mode("append").parquet(fam.live_dir(path))


def compact_index(
    fam: MergeableIndexFamily,
    spark: SparkSession,
    path: str,
    n_files: int = 8,
) -> None:
    """Rewrite accumulated generations into ``n_files`` fresh files
    with ``merge_fn`` APPLIED (one row per key again) — the LSM
    compaction step, landed in a sibling dir and swapped live with the
    crash-safe two-rename dance (sources/swap.py)."""
    live = fam.live_dir(path)
    recover_swap(live)
    _write_layout(
        fam, fam.merge_fn(spark.read.parquet(live)), swap_paths(live)[0], n_files
    )
    swap_live(live)




# --------------------------------------------------------------------------
# Snapshot manifests (layer 3). A manifest is a JSON object holding
# ``generations`` ({gen dir relative to the index: its data file
# names}), ``previous`` (the generation dirs of the manifest it
# replaced) and whatever fields the family keeps beside them. Paths are
# relative, so a copied index directory stays valid. One writer per
# index; readers never take a lock.
# --------------------------------------------------------------------------

MANIFEST = "_manifest.json"
_STAGING = "_staging"


def read_manifest(path: str) -> dict:
    """The index's current manifest; FileNotFoundError when none was
    ever published."""
    with open(os.path.join(path, MANIFEST), encoding="utf-8") as f:
        return json.load(f)


def manifest_files(path: str, manifest: dict) -> list[str]:
    """Absolute paths of exactly the data files the manifest lists."""
    return [
        os.path.join(path, gen, name)
        for gen, names in manifest["generations"].items()
        for name in names
    ]


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


def commit(
    path: str,
    prev: dict | None,
    generations: dict[str, list[str]],
    **fields,
) -> None:
    """Publish the manifest that follows ``prev`` (None for a new
    index): ``generations`` live, ``fields`` replacing prev's family
    fields, the rest carried over. Then collect garbage."""
    base = prev if prev is not None else {"generations": {}}
    manifest = {
        **base,
        **fields,
        "generations": generations,
        "previous": list(base["generations"]),
    }
    publish_manifest(path, manifest)
    collect_garbage(path, manifest)
