"""Streaming PQ index maintenance: files land -> codes appear; the
maintained index equals a whole-corpus rebuild under the same codebooks;
replays converge (idempotent upsert — no ledger needed, unlike the
additive rollup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
    fit_pq_codebooks,
    pq_encode,
    read_pq_index,
    write_pq_index,
)
from gdelt_2_0_event_database_pipeline_spark.streaming.ann import (
    maintain_pq_index_stream,
)
from gdelt_2_0_event_database_pipeline_spark.streaming.ingest import (
    read_event_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("ingest_day", T.StringType()),
    ]
)


def _vecs(spark, ids, day):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)], day)
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def corpus(spark):
    return _vecs(spark, range(40), "d0")


@pytest.mark.slow
def test_stream_maintains_index_to_rebuild_parity(spark, tmp_path, corpus):
    index = str(tmp_path / "pq_index")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    books = fit_pq_codebooks(corpus, m=4, ncodes=4, iters=3)
    base = corpus.filter("vec_id < 20")
    write_pq_index(
        pq_encode(base, books).withColumn("ingest_day", F.lit("d0")),
        books,
        index,
        partition_col="ingest_day",
    )

    # two file drops = two micro-batches on different ingest days
    _vecs(spark, range(20, 30), "d1").coalesce(1).write.mode("append").parquet(src)
    _vecs(spark, range(30, 40), "d2").coalesce(1).write.mode("append").parquet(src)
    stream = read_event_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = maintain_pq_index_stream(stream, index, ckpt)
    q.awaitTermination(120)

    codes, books2 = read_pq_index(spark, index)
    assert books2 == books
    maintained = {
        r.vec_id: (list(r.codes), r.vhat_sq)
        for r in codes.select("vec_id", "codes", "vhat_sq").collect()
    }
    rebuilt = {
        r.vec_id: (list(r.codes), r.vhat_sq)
        for r in pq_encode(corpus, books).collect()
    }
    assert maintained == rebuilt


@pytest.mark.slow
def test_replayed_batches_converge_without_a_ledger(spark, tmp_path, corpus):
    """A fresh checkpoint reprocesses every file (worst-case replay);
    the idempotent upsert converges to the same state — byte-wise on
    codes, count-wise on rows."""
    index = str(tmp_path / "pq_index")
    src = str(tmp_path / "src")

    books = fit_pq_codebooks(corpus, m=4, ncodes=4, iters=3)
    write_pq_index(
        pq_encode(corpus.filter("vec_id < 20"), books).withColumn(
            "ingest_day", F.lit("d0")
        ),
        books,
        index,
        partition_col="ingest_day",
    )
    _vecs(spark, range(20, 40), "d1").coalesce(1).write.parquet(src)

    for run in ("ckpt_a", "ckpt_b"):  # second run replays the same file
        stream = read_event_stream(spark, src, SCHEMA)
        q = maintain_pq_index_stream(
            stream, index, str(tmp_path / run)
        )
        q.awaitTermination(120)

    codes, _ = read_pq_index(spark, index)
    assert codes.count() == 40
    assert codes.select("vec_id").distinct().count() == 40


@pytest.mark.slow
def test_stream_maintains_residual_index(spark, tmp_path, corpus):
    """A RESIDUAL index maintains through the same stream path: the meta
    flag dispatches each micro-batch's encode to residual math, and the
    maintained codes equal a whole-corpus residual rebuild."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_residual_codebooks,
        ivf_pq_encode_residual,
    )

    index = str(tmp_path / "ridx")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    cents = fit_ivf_centroids(corpus, k=4, iters=3)
    books = fit_residual_codebooks(corpus, cents, m=4, ncodes=4, iters=3)
    base = corpus.filter("vec_id < 20")
    write_pq_index(
        ivf_pq_encode_residual(base, books, cents).withColumn(
            "ingest_day", F.lit("d0")
        ),
        books,
        index,
        partition_col="ingest_day",
        centroids=cents,
        residual=True,
    )

    rest = corpus.filter("vec_id >= 20").withColumn("ingest_day", F.lit("d1"))
    rest.coalesce(1).write.mode("append").parquet(src)
    stream = read_event_stream(spark, src, SCHEMA)
    q = maintain_pq_index_stream(stream, index, ckpt)
    q.awaitTermination(120)

    codes, _ = read_pq_index(spark, index)
    maintained = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in codes.select("vec_id", "cell", "codes", "vhat_sq").collect()
    }
    rebuilt = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in ivf_pq_encode_residual(corpus, books, cents).collect()
    }
    assert maintained == rebuilt


@pytest.mark.slow
def test_drift_check_triggers_exactly_one_refit(spark, tmp_path):
    """The r13 drift->refit loop: an in-distribution batch passes the
    cadence check silently, a planted hard-shift batch trips
    index_drift_report and fires refit_pq_index exactly once (atomic
    version swap); the decision sink records the check, a fresh drift
    check against the refit index no longer recommends a refit (fit
    restored), and the maintained index covers the full corpus."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        index_drift_report,
    )
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import list_versions

    index = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "decisions")

    base = _vecs(spark, range(40), "d0")
    cents = fit_ivf_centroids(base, k=4, iters=3)
    books = fit_pq_codebooks(base, m=4, ncodes=4, iters=3)
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells

    codes = pq_encode(base, books).join(
        assign_cells(base, cents).select("vec_id", "cell"), "vec_id"
    ).withColumn("ingest_day", F.lit("d0"))
    write_pq_index(codes, books, index, partition_col="ingest_day", centroids=cents)

    # batch 1 (ids 40..49): in-distribution — cadence=2 skips the check.
    # batch 2 (ids 50..69): a hard shift (+60 on the first 2 of 8 dims,
    # the drift_probe recipe) — cadence fires, report recommends, refit runs.
    _vecs(spark, range(40, 50), "d1").coalesce(1).write.mode("append").parquet(src)
    shifted = _vecs(spark, range(50, 70), "d2").withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (v, i) -> CASE WHEN i < 2 THEN v + 60.0 ELSE v END)"
        ),
    )
    shifted.coalesce(1).write.mode("append").parquet(src)

    def full_corpus():
        lake = spark.read.parquet(src)
        return base.unionByName(lake)

    stream = read_event_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = maintain_pq_index_stream(
        stream,
        index,
        ckpt,
        drift_check_every_n_batches=2,
        drift_action="refit",
        refit_corpus=full_corpus,
        drift_sink=sink,
    )
    q.awaitTermination(180)

    # exactly one refit: one committed version, one decision row with action=refit
    assert list_versions(spark, index) == [1]
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    assert rows[0]["action"] == "refit" and rows[0]["refit_recommended"]

    # fit restored: a sample of the CURRENT mix (what the refit was fit on)
    # no longer trips the report — a shifted-only sample would, by
    # construction: a dedicated fresh fit on 20 homogeneous rows always
    # beats a mixed-corpus fit, which is not what "drifted" means.
    rep = index_drift_report(spark, index, full_corpus()).first()
    assert not rep["refit_recommended"]

    # the refit index covers the full corpus (old + both batches)
    codes2, _ = read_pq_index(spark, index)
    assert codes2.count() == 70
    assert codes2.select("vec_id").distinct().count() == 70


def test_drift_cadence_fails_fast_on_plain_pq_index(spark, tmp_path, corpus):
    """r13 ADVICE: drift checks need coarse centroids; on a plain PQ
    index the report raises — that must surface at start() (one cached
    meta read), not kill the stream on the Nth micro-batch."""
    index = str(tmp_path / "plain_idx")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    books = fit_pq_codebooks(corpus, m=4, ncodes=4, iters=2)
    write_pq_index(
        pq_encode(corpus, books).withColumn("ingest_day", F.lit("d0")),
        books,
        index,
        partition_col="ingest_day",
    )
    _vecs(spark, range(40, 50), "d1").coalesce(1).write.mode("append").parquet(src)
    stream = read_event_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    with pytest.raises(ValueError, match="plain PQ index"):
        maintain_pq_index_stream(
            stream, index, ckpt, drift_check_every_n_batches=2
        )
