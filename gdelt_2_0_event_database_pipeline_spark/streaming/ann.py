"""Streaming ANN index maintenance — the ingest half of the PQ family.

``operators/pq.py:append_pq_index`` made index maintenance a batch
operation (encode against the persisted codebooks, partition-scoped
upsert into ``<index>/codes``); this module wires it behind
``foreachBatch`` so a document stream keeps the index current as files
land — the full path from the reference's 15-minute drop cadence to a
searchable compressed index with no rebuild.

Exactly-once WITHOUT a ledger: unlike the additive rollup state
(``streaming/rollup.py``, where a replayed ``+=`` double-counts and a
batch-id ledger is required), the upsert is IDEMPOTENT — the batch
encode (``pq_encode_batch``) is a deterministic function of the frozen
codebooks and each row's vector alone, so a replayed batch re-encodes
to the SAME codes and replaces the same keys with the same rows.
At-least-once delivery therefore converges to the exactly-once state
by construction; pinned in tests/test_streaming_ann.py.

Codebook drift: the quantizers are frozen at index creation (the
standard FAISS-style discipline — retrain on evidence, not per batch).
``operators/pq.index_drift_report`` is the evidence: run it on the
recent batches any time (occupancy TVD vs the build snapshot + a
frozen-vs-refit error ratio, both bounded-cost) and refit + rebuild
when it recommends — thresholds measured in DRIFT_PROBE.json.

Residual indexes maintain identically: ``append_pq_index`` reads the
``residual`` flag from the index meta and encodes the batch with the
matching math, so the idempotence argument is unchanged (pinned in
tests/test_streaming_ann.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..operators.pq import append_pq_index, index_drift_report, refit_pq_index


def maintain_pq_index_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "ingest_day",
    drift_check_every_n_batches: int | None = None,
    drift_action: str = "report",
    refit_corpus: Callable[[], DataFrame] | None = None,
    drift_sink: str | None = None,
    tvd_threshold: float = 0.25,
    err_ratio_threshold: float = 1.30,
):
    """``writeStream.foreachBatch`` wrapper around
    :func:`operators.pq.append_pq_index` — returns the started query
    handle. ``stream`` must carry (id_col, vec_col, partition_col); the
    index at ``index_path`` must exist (``write_pq_index`` with the
    same ``partition_col``). Search the maintained index any time with
    ``read_pq_index`` + ``pq_topk``, or — for an IVF-PQ index (persisted
    centroids; appends assign cells automatically) —
    ``ivf_pq_search_index``, which never re-assigns the corpus.

    **Drift → refit loop** (r12 verdict item 2; default OFF): with
    ``drift_check_every_n_batches=N``, every Nth micro-batch (by batch
    id, so the cadence survives checkpointed restarts) additionally runs
    :func:`operators.pq.index_drift_report` with the batch itself as the
    bounded tap of recent vectors (the report hash-rank-caps it). The
    decision row — batch id, the report's measurements, and the action
    taken — is appended to ``drift_sink`` (a parquet monitoring table)
    when given. On ``refit_recommended``:

    - ``drift_action="report"`` (default): emit the decision row only —
      the operator schedules the refit (the FAISS-style discipline:
      retrain on evidence, on the operator's terms).
    - ``drift_action="refit"``: call :func:`operators.pq.refit_pq_index`
      with ``refit_corpus()`` (a REQUIRED zero-arg provider returning
      the full current raw-vector corpus incl. ``partition_col``,
      evaluated only when a refit actually fires). The refit is the
      atomic version swap: concurrent searches resolve old-or-new in
      full, never a mix (``resolve_index_root`` contract), and the NEXT
      batch's append resolves the new version. The refit runs after this
      batch's append, so its corpus snapshot can include the batch.

    Cadence cost is measured in BENCH_streaming.json (``drift_check``
    rows): one scan of the codes table's cell column + two bounded
    sample passes per checked batch."""
    if drift_action not in ("report", "refit"):
        raise ValueError(f"drift_action must be 'report' or 'refit', got {drift_action!r}")
    if drift_action == "refit" and drift_check_every_n_batches and refit_corpus is None:
        raise ValueError("drift_action='refit' needs a refit_corpus provider")
    if drift_check_every_n_batches:
        # Fail fast at setup: index_drift_report raises on a plain PQ
        # index (no coarse centroids to drift), and discovering that on
        # the Nth micro-batch would kill a running stream instead of the
        # start() call. One driver-side read of the index meta.
        from ..operators.pq import read_pq_meta

        _, _centroids, _, _ = read_pq_meta(stream.sparkSession, index_path)
        if _centroids is None:
            raise ValueError(
                f"drift_check_every_n_batches needs an IVF-PQ index with "
                f"persisted centroids; {index_path} is a plain PQ index"
            )

    def _append(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        append_pq_index(
            spark,
            index_path,
            batch,
            id_col=id_col,
            vec_col=vec_col,
            partition_col=partition_col,
        )
        n = drift_check_every_n_batches
        if not n or (batch_id + 1) % n:
            return
        rep = index_drift_report(
            spark,
            index_path,
            batch,
            id_col=id_col,
            vec_col=vec_col,
            tvd_threshold=tvd_threshold,
            err_ratio_threshold=err_ratio_threshold,
        ).collect()[0]
        refitted = bool(rep["refit_recommended"]) and drift_action == "refit"
        if refitted:
            refit_pq_index(
                spark,
                index_path,
                refit_corpus(),
                id_col=id_col,
                vec_col=vec_col,
                partition_col=partition_col,
            )
        if drift_sink is not None:
            from ..util import single_partition_df

            single_partition_df(
                spark,
                [
                    (
                        int(batch_id),
                        rep["occupancy_tvd"],
                        rep["err_ratio"],
                        bool(rep["refit_recommended"]),
                        "refit" if refitted else "report",
                    )
                ],
                "batch_id bigint, occupancy_tvd double, err_ratio double, "
                "refit_recommended boolean, action string",
            ).write.mode("append").parquet(drift_sink)

    return (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
