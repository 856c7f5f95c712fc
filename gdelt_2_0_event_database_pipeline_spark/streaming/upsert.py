"""Streaming merge-upsert into a partitioned parquet lake.

Plain parquet has no MERGE; the scalable substitute is partition-scoped
rewrite: each micro-batch touches only the Hive partitions its keys land
in — read those partitions back, keep their rows that are NOT being
replaced, union the batch, and rewrite JUST those partitions via dynamic
partition overwrite (``spark.sql.sources.partitionOverwriteMode=dynamic``,
set by the session factory). Cost per batch is O(touched partitions), not
O(lake), which is what makes continuous upsert viable on a 100 TB lake
partitioned by day/source.

Exactly-once story: the checkpoint makes batch replay possible after a
crash, and the merge itself is idempotent — re-merging the same batch
replaces rows with identical content — so replays converge instead of
duplicating (same contract as ``convert_stream``'s file-level
idempotency, one level down).

Caveats (same family as ``lake.compact_parquet``): one upserter per lake —
concurrent writers to the same partition race on the overwrite; a crash
mid-``foreachBatch`` can leave a partition rewritten while the checkpoint
replays the batch, which the idempotent merge absorbs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F


def merge_upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    partition_col: str,
) -> None:
    """Merge one (micro-)batch into the lake at ``path``.

    Rows in ``batch`` replace same-key rows in their partition; new keys
    append. ``batch`` must contain ``partition_col``; duplicate keys within
    a batch are resolved arbitrarily by the final union ordering — dedup
    upstream if it matters. A key whose ``partition_col`` value CHANGES is
    an insert into the new partition, not a move — the old partition's row
    survives (the standard partitioned-upsert caveat; keys must be stable
    within their partition value, e.g. event-id within its event-day).
    """
    # checkpoint FIRST (sever from the streaming source), THEN read the
    # touched partitions off the materialized batch — the old order ran
    # the batch's full lineage twice (once for the distinct-collect, once
    # for the checkpoint), which at encode-heavy lineages (ANN append)
    # was the single largest per-micro-batch cost (r12 verdict item 3).
    # r16: the checkpoint is LAZY and materialized by the distinct-collect
    # itself — ONE job both severs the batch and answers the touched-
    # partition probe (the khop-frontier fusion, guide §5 job-count
    # discipline); the write below then reads the materialized blocks.
    batch = batch.localCheckpoint(eager=False)
    parts = [r[0] for r in batch.select(partition_col).distinct().collect()]
    if not parts:
        return
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:  # first batch: lake doesn't exist yet.
        # Anything else (transient IO, permissions, corrupt footer)
        # propagates — treating it as first-batch would replace the
        # touched partitions with only the fresh batch's rows.
        merged = batch
    else:
        keep = existing.filter(F.col(partition_col).isin(parts)).join(
            batch.select(*key_cols).distinct(), list(key_cols), "left_anti"
        )
        merged = keep.unionByName(batch.select(*existing.columns))
    # dynamic mode pinned AT THE WRITE SITE: this write holds only the
    # touched partitions' rows — under a caller session left at Spark's
    # default static mode, mode('overwrite') would delete every
    # untouched partition (the streaming/rollup.py fix, same class).
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def upsert_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    partition_col: str,
):
    """``writeStream.foreachBatch`` wrapper around
    :func:`merge_upsert_batch` — returns the started query handle. With
    dynamic partition overwrite only the partitions present in ``merged``
    are replaced; untouched partitions are never read or written."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        merge_upsert_batch(
            batch.sparkSession, batch, path, key_cols, partition_col
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
