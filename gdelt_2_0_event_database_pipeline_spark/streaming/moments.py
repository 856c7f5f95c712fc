"""Streaming maintenance of the PCA moment state — model refresh without
corpus rescans.

``operators/pca.embedding_moments`` output is ADDITIVE state (counts, first
moments, the raw Gram triangle — all plain sums), so a growing corpus's
covariance/PCA can be maintained exactly like the rollup family: per
micro-batch, compute the BATCH's moments (O(batch) work, O(d²) rows out)
and merge them into a tiny at-rest state table (d(d+3)/2 rows — KBs at any
corpus size). ``fit_pca_from_state`` then refits the model from state in
milliseconds, no matter how many trillions of vectors the state summarizes
— the same maintained-index economics as ``streaming/ann.py``, applied to
the model-fit pass.

Exactly-once: additive state double-counts under foreachBatch's
at-least-once replay, so batches commit through the same stage →
atomic-ledger-rename → idempotent-publish protocol as
``streaming/rollup.py`` (its module doc is the spec; the ledger/staging
primitives are imported from there verbatim so the two protocols can never
drift). The one difference: moment state is a single global grain, not
day-partitioned, so publish replaces the WHOLE state directory (one
rename) instead of per-day partition swaps — simpler, and still idempotent
because the staged content is frozen at commit time.

Merge-vs-direct float note: merging per-batch sums reassociates the
additions, so maintained state equals a from-scratch scan only to float
tolerance (~1e-12 relative) — the same contract as ``merge_rollup``, and
far inside the 8dp the oracle rounds to. Counts are exact.

One maintainer per state path (foreachBatch is serial per query);
concurrent maintainers race on publish, like every plain-parquet writer in
this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pca import MAX_FIT_DIM, PCAModel, embedding_moments, model_from_moments
from ..util import hadoop_fs
from .rollup import (
    _already_applied,
    _append_ledger_atomic,
    _pending_path,
    _recover_pending,
    _try_read_parquet,
)


def _publish_pending_whole(
    spark: SparkSession, state_path: str, batch_id: int
) -> None:
    """Replace ``<state_path>/state`` with the staged directory — the
    whole-grain flavor of rollup's per-day publish. Idempotent: the
    staged dir is frozen at commit time and vanishes with the final
    rename, so any crash mid-publish (even between the delete and the
    rename) is repaired by re-running until the pending dir is gone."""
    pending = _pending_path(state_path, batch_id)
    jvm, fs, ppath = hadoop_fs(spark, pending)
    if not fs.exists(ppath):
        return  # already fully published (or nothing staged)
    data = jvm.org.apache.hadoop.fs.Path(f"{state_path}/state")
    if fs.exists(data) and not fs.delete(data, True):
        raise IOError(f"publish failed: could not delete {data}")
    if not fs.rename(ppath, data):
        raise IOError(f"publish failed: rename {ppath} -> {data} returned false")
    root = jvm.org.apache.hadoop.fs.Path(_pending_path(state_path))
    if fs.exists(root) and len(fs.listStatus(root)) == 0:
        fs.delete(root, True)


def recover_moments_state(spark: SparkSession, state_path: str) -> None:
    """Bring the state current after a crash without waiting for the
    next micro-batch. Safe whenever the maintainer is not running."""
    _recover_pending(spark, state_path, _publish_pending_whole)


def merge_moments_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    state_path: str,
    vec_col: str = "embedding",
    sever: bool = True,
) -> bool:
    """Merge one micro-batch's vectors into the moment state via stage →
    commit → publish; returns False when ``batch_id`` was already
    applied (replay finishes any pending publish, never re-merges). The
    batch pays ONE moments pass over its own rows; the merge itself runs
    on ≤ 2·d(d+3)/2 state rows.

    ``sever`` eagerly localCheckpoints the batch first — REQUIRED when it
    comes from a streaming source (foreachBatch hands out one-shot
    frames); batch-mode callers replaying history from a plain table can
    pass False and skip that materialization job."""
    _recover_pending(spark, state_path, _publish_pending_whole)
    if _already_applied(spark, state_path, batch_id):
        return False
    if sever:
        batch = batch.localCheckpoint(eager=True)  # sever from the stream source
    fresh = embedding_moments(batch, vec_col)
    state = _try_read_parquet(spark, f"{state_path}/state")
    if state is None:  # None only pre-first-publish
        combined = fresh
    else:
        combined = (
            state.unionByName(fresh)
            .groupBy("dim_i", "dim_j")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
    # a batch whose vector width differs from the state's would silently
    # corrupt the merged triangle. The row-count check alone misses
    # SUBSET widths (a narrower batch's pairs are a subset of the
    # state's), so the load-bearing invariant is: every dimension's
    # first-moment n is identical — every vector contributes to every
    # dim exactly once. The lazy checkpoint is materialized by the stats
    # job: ONE job both pins `combined` before any directory is replaced
    # and answers the width check — the khop-frontier fusion.
    combined = combined.localCheckpoint(eager=False)
    is_first = F.col("dim_j") == -1
    stats = combined.agg(
        F.count(F.when(is_first, 1)).alias("n_dims"),
        F.count_distinct(F.when(is_first, F.col("n"))).alias("distinct_n"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    expected = stats["n_dims"] * (stats["n_dims"] + 3) // 2
    if stats["distinct_n"] > 1 or stats["total"] != expected:
        raise ValueError(
            f"moment state is not a clean {stats['n_dims']}-dim triangle "
            f"after the merge ({stats['total']} rows, want {expected}; "
            f"{stats['distinct_n']} distinct per-dim counts, want <= 1): "
            "the batch's vector width differs from the state's"
        )
    combined.coalesce(1).write.mode("overwrite").parquet(
        _pending_path(state_path, batch_id)
    )
    _append_ledger_atomic(spark, state_path, batch_id)  # THE commit point
    _publish_pending_whole(spark, state_path, batch_id)
    return True


def maintain_moments_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
):
    """``writeStream.foreachBatch`` wrapper around
    :func:`merge_moments_batch` — returns the started query handle.
    Refit models any time with :func:`fit_pca_from_state`."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_moments_batch(
            batch.sparkSession, batch, batch_id, state_path, vec_col
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_moments_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current moment rows (``embedding_moments`` shape)."""
    return spark.read.parquet(f"{state_path}/state")


def fit_pca_from_state(
    spark: SparkSession,
    state_path: str,
    k: int = 8,
    max_dim: int = MAX_FIT_DIM,
) -> PCAModel:
    """Refit the PCA model from maintained state: a KB-sized read + the
    bounded d×d eigen step — no corpus scan, at any corpus size."""
    return model_from_moments(
        read_moments_state(spark, state_path).collect(), k, max_dim
    )
