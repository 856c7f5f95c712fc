"""Lake file-layout maintenance over Hive-partitioned trees.

The operational 100 TB problem the ingest side creates: a 15-minute drop
cadence × hundreds of partitions × months = millions of KB-sized parquet
files, and scan cost becomes dominated by file-open/footer overhead and
driver-side listing instead of bytes read (the classic small-files
problem; every lakehouse engine ships a compaction command — Delta
OPTIMIZE, Iceberg rewrite_data_files — this is that command for the
plain-parquet lake).

The per-directory kernel is ``sources/lake.compact_parquet`` — snapshot
the file list, read EXACTLY those files, ``coalesce`` (concatenate, never
shuffle) to ``ceil(bytes/target)``, move in, delete only the snapshot —
so concurrent appenders (a streaming micro-batch landing mid-compaction)
are safe by construction, and its constraints (one compactor per
directory, the crash caveat) are documented there. This module adds the
tree walk: find every leaf partition directory, compact each
independently, report per partition. Work is proportional to the
REWRITTEN partitions' bytes only; healthy partitions are never read —
each leaf decision is a driver-side listing through the Hadoop
FileSystem (``util.list_visible``), so any scheme the session reads works.

Content is preserved row-for-row but NOT order-for-order (a parquet
directory never promises row order); ``tests/test_layout.py`` pins
row-multiset equality across the whole tree.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..sources.lake import compact_parquet, parquet_files
from ..util import list_visible


class CompactionResult(NamedTuple):
    partition: str  # "day=2015-01-07" (nested: "day=.../hour=...")
    files_before: int
    files_after: int
    bytes: int


def _leaves(spark: SparkSession, path: str) -> list[tuple[str, list]]:
    """``(relative path, parquet FileStatuses)`` of every directory under
    ``path`` that directly holds parquet data files (Hive leaves; '' for a
    flat directory), sorted by path. Listing only — no data read; a
    directory that vanishes mid-walk is skipped.

    Hidden/system subtrees are pruned, not just their files: a concurrent
    Spark writer's ``_temporary`` staging tree contains real
    ``part-*.parquet`` files that must never be treated as a compactable
    leaf (compacting one would read and DELETE in-flight data), and a
    ``*.__compact_tmp__`` dir left by a crashed compaction is stale
    output, not a partition. Spark's own readers skip these trees for
    the same reason."""
    out = []

    def walk(d: str, rel: str) -> None:
        try:
            children = list_visible(spark, d)
        except FileNotFoundError:
            return
        files = parquet_files(children)
        if files:
            out.append((rel, files))
        for st in children:
            name = st.getPath().getName()
            if st.isDirectory() and not name.endswith(".__compact_tmp__"):
                walk(st.getPath().toString(), f"{rel}/{name}" if rel else name)

    walk(path, "")
    return sorted(out, key=lambda leaf: leaf[0])


def partition_file_stats(spark: SparkSession, path: str) -> list[CompactionResult]:
    """(partition, n_files, n_files, bytes) per leaf partition directory —
    the read-only report behind :func:`compact_partitions` (files_after
    echoes files_before)."""
    return [
        CompactionResult(leaf, len(files), len(files), sum(st.getLen() for st in files))
        for leaf, files in _leaves(spark, path)
    ]


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_file_mb: float = 128,
    min_files: int = 2,
) -> list[CompactionResult]:
    """Compact every oversplit leaf partition of the Hive tree at
    ``path`` (``compact_parquet`` per leaf — see its docstring for the
    snapshot/concat/delete protocol and its concurrency constraints);
    returns one :class:`CompactionResult` per REWRITTEN partition.
    Healthy leaves are a listing-only no-op."""
    if target_file_mb <= 0:
        raise ValueError("target_file_mb must be positive")
    results = []
    for leaf, _ in _leaves(spark, path):
        full = f"{path.rstrip('/')}/{leaf}" if leaf else path
        rep = compact_parquet(
            spark, full, target_file_mb=target_file_mb, min_files=min_files
        )
        if rep["files_after"] != rep["files_before"]:
            results.append(
                CompactionResult(
                    leaf, rep["files_before"], rep["files_after"], rep["bytes"]
                )
            )
    return results


def compaction_report(
    spark: SparkSession, results: list[CompactionResult]
) -> DataFrame:
    """Results as a DataFrame (partition, files_before, files_after,
    bytes) — the queryable form for dashboards and the driver surface."""
    return spark.createDataFrame(
        [tuple(r) for r in results],
        "partition string, files_before int, files_after int, bytes long",
    )
