"""OPQ tests (operators/opq.py): deterministic fit, orthogonal rotation,
map-only rotate plan, numpy parity, the Ge-et-al. error guarantee (OPQ
training error <= plain PQ's on correlated data), and end-to-end search
shape + raw-space rerank exactness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators.opq import (
    _encode_matrix,
    fit_opq,
    opq_topk,
    rotate_vectors,
)
from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
    fit_pq_codebooks,
    pq_encode,
)
from gdelt_2_0_event_database_pipeline_spark.operators.similarity import (
    cosine_topk,
)

D, N, M, NCODES = 16, 500, 4, 8


def _aniso(seed=3):
    """Correlated anisotropic sample — the regime OPQ exists for: a few
    dominant directions NOT axis-aligned, so contiguous subvector splits
    cut across correlated coordinates."""
    rng = np.random.RandomState(seed)
    basis, _ = np.linalg.qr(rng.standard_normal((D, D)))
    scales = np.array([8.0, 6.0, 4.0, 3.0] + [0.4] * (D - 4))
    return (rng.standard_normal((N, D)) * scales) @ basis.T


@pytest.fixture(scope="module")
def xmat():
    return _aniso()


@pytest.fixture(scope="module")
def vec_df(spark, xmat):
    return spark.createDataFrame(
        [(i, [float(v) for v in xmat[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).repartition(5)


@pytest.fixture(scope="module")
def fitted(vec_df):
    return fit_opq(vec_df, m=M, ncodes=NCODES, iters=3, opq_iters=6)


def test_fit_deterministic_and_orthogonal(vec_df, fitted):
    r1, b1 = fitted
    r2, b2 = fit_opq(vec_df, m=M, ncodes=NCODES, iters=3, opq_iters=6)
    assert r1 == r2 and b1 == b2
    r = np.asarray(r1)
    assert r.shape == (D, D)
    assert np.allclose(r @ r.T, np.eye(D), atol=1e-9)


def test_opq_error_beats_plain_pq_on_correlated(vec_df, xmat, fitted):
    """The point of the rotation: at identical bytes (same m, ncodes),
    quantizing R·x must not be worse than quantizing x — and on this
    correlated fixture it is strictly, substantially better."""
    r, books = fitted
    plain = fit_pq_codebooks(vec_df, m=M, ncodes=NCODES, iters=3)

    def err(x, cb):
        cb = np.asarray(cb, np.float64)
        codes = _encode_matrix(x, cb)
        m, _, sub = cb.shape
        xhat = np.concatenate([cb[s, codes[:, s]] for s in range(m)], axis=1)
        return float(((x - xhat) ** 2).sum())

    e_plain = err(xmat, plain)
    e_opq = err(xmat @ np.asarray(r).T, books)
    assert e_opq < 0.8 * e_plain, (e_opq, e_plain)


def test_rotate_vectors_matches_numpy_and_is_map_only(spark, vec_df, xmat, fitted):
    r, _ = fitted
    out = rotate_vectors(vec_df, r)
    got = {row.vec_id: np.array(row.rotated) for row in out.collect()}
    want = xmat @ np.asarray(r).T
    for i in range(N):
        assert np.allclose(got[i], want[i], rtol=1e-12)
    # plan shape on a plain scan-shaped input (the module fixture carries
    # its own repartition Exchange, which would false-positive the check)
    plain = spark.createDataFrame(
        [(0, [0.0] * D)], "vec_id long, embedding array<double>"
    )
    plan = rotate_vectors(plain, r)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in plan
    # guards: existing out_col refused; wrong-width rows get NULL
    with pytest.raises(ValueError, match="already exists"):
        rotate_vectors(out, r, out_col="rotated")
    short = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    assert rotate_vectors(short, r).first().rotated is None


def test_opq_search_shape_and_raw_space_rerank(spark, vec_df, xmat, fitted):
    r, books = fitted
    enc = pq_encode(
        rotate_vectors(vec_df, r).select(
            "vec_id", F.col("rotated").alias("embedding")
        ),
        books,
    )
    queries = vec_df.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="rerank requires"):
        opq_topk(enc, queries, r, books, k=5, rerank=60)
    rows = opq_topk(
        enc, queries, r, books, k=5, rerank=60, corpus=vec_df
    ).collect()
    assert {row.query_id for row in rows} == {0, 1, 2}
    per_q = {}
    for row in rows:
        per_q.setdefault(row.query_id, []).append(row)
    exact = {
        (row.query_id, row.neighbor_id): row.cos_sim
        for row in cosine_topk(vec_df, queries, k=5).collect()
    }
    hits = 0
    for q, rs in per_q.items():
        assert sorted(x.rank for x in rs) == [1, 2, 3, 4, 5]
        assert all(x.neighbor_id != q for x in rs)
        for x in rs:
            key = (x.query_id, x.neighbor_id)
            if key in exact:
                # rerank cosine is RAW-space exact (rotation-invariant)
                assert x.cos_sim == pytest.approx(exact[key], rel=1e-9)
                hits += 1
    assert hits > 0


def test_opq_recall_not_worse_than_pq_on_correlated(spark, vec_df, xmat, fitted):
    """Recall-vs-bytes: same 4 codes/vector, ADC-only (no rerank — the
    regime where codebook quality IS the result). On the correlated
    fixture the rotation must not lose recall; the measured curve in
    ANN_RECALL.json shows where it strictly gains."""
    r, books = fitted
    plain_books = fit_pq_codebooks(vec_df, m=M, ncodes=NCODES, iters=3)
    queries = vec_df.filter(F.col("vec_id") < 10)
    truth = {}
    for row in cosine_topk(vec_df, queries, k=5).collect():
        truth.setdefault(row.query_id, set()).add(row.neighbor_id)

    def recall(result) -> float:
        got = {}
        for row in result.collect():
            got.setdefault(row.query_id, set()).add(row.neighbor_id)
        return sum(len(v & got.get(q, set())) for q, v in truth.items()) / sum(
            len(v) for v in truth.values()
        )

    from gdelt_2_0_event_database_pipeline_spark.operators.pq import pq_topk

    enc_plain = pq_encode(vec_df, plain_books)
    enc_opq = pq_encode(
        rotate_vectors(vec_df, r).select(
            "vec_id", F.col("rotated").alias("embedding")
        ),
        books,
    )
    r_plain = recall(pq_topk(enc_plain, queries, plain_books, k=5))
    r_opq = recall(opq_topk(enc_opq, queries, r, books, k=5))
    assert r_opq >= r_plain - 0.05, (r_plain, r_opq)


def _opq_index(spark, vec_df, rotation, path):
    """Write a small IVF-PQ index in the rotated frame at ``path`` over
    the first 400 rows; returns (rotated corpus, centroids, codebooks)."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import write_pq_index

    rot_all = (
        rotate_vectors(vec_df, rotation, out_col="__r__")
        .drop("embedding")
        .withColumnRenamed("__r__", "embedding")
    )
    cents = fit_ivf_centroids(rot_all, k=4, iters=2)
    books = fit_pq_codebooks(rot_all, m=M, ncodes=NCODES, iters=2)
    base = rot_all.filter("vec_id < 400")
    codes = pq_encode(base, books).join(
        assign_cells(base, cents).select("vec_id", "cell"), "vec_id"
    ).withColumn("ingest_day", F.lit("d0"))
    write_pq_index(
        codes, books, path, partition_col="ingest_day",
        centroids=cents, rotation=rotation,
    )
    return rot_all, cents, books


def test_maintained_opq_ivfpq_index_append_equals_rebuild(spark, tmp_path, vec_df, fitted):
    """The r13 composition: an at-rest IVF-PQ index carrying an OPQ
    rotation sidecar. Appends rotate each batch with the fold a rebuild's
    rotate_vectors performs, so maintained codes+cells equal an
    encode-everything rebuild EXACTLY (in rotation space); search through
    ivf_pq_search_index rotates queries automatically from the meta and
    reranks in raw space."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        ivf_pq_search_index,
        read_pq_index,
    )

    rotation, _ = fitted
    index = str(tmp_path / "opq_idx")
    rot_all, cents, books = _opq_index(spark, vec_df, rotation, index)

    # append a RAW batch: the index rotates it internally
    append_pq_index(
        spark, index,
        vec_df.filter("vec_id >= 400").withColumn("ingest_day", F.lit("d1")),
    )

    maintained, _ = read_pq_index(spark, index)
    got = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in maintained.select("vec_id", "cell", "codes", "vhat_sq").collect()
    }
    rebuilt = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in pq_encode(rot_all, books)
        .join(assign_cells(rot_all, cents).select("vec_id", "cell"), "vec_id")
        .collect()
    }
    assert got == rebuilt

    # search the maintained index with RAW queries: recall against exact
    # brute-force cosine (raw space) with full rerank must be perfect on
    # the reranked shortlist head
    queries = vec_df.filter("vec_id < 3")
    res = ivf_pq_search_index(
        spark, index, queries, corpus=vec_df, k=5, nprobe=4, rerank=400,
    ).collect()
    assert {r["query_id"] for r in res} == {0, 1, 2}
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(vec_df, queries, k=5).collect()
    }
    got_ranks = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in res}
    # probe-all (nprobe=4 of 4 cells) + rerank over every candidate ==
    # exact brute force
    assert got_ranks == exact


def test_refit_preserves_rotation_frame(spark, tmp_path, vec_df, fitted):
    """refit_pq_index on a rotated (OPQ) index re-fits centroids+codebooks
    WITHIN the rotated coordinate frame and carries the rotation into the
    new committed version's meta — searches through the refit index still
    rotate queries from the meta and match exact brute force under
    probe-all + full rerank."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        ivf_pq_search_index,
        read_pq_meta,
        refit_pq_index,
        write_pq_index,
    )
    from gdelt_2_0_event_database_pipeline_spark.sources.lake import list_versions

    rotation, _ = fitted
    rot_all = (
        rotate_vectors(vec_df, rotation, out_col="__r__")
        .drop("embedding")
        .withColumnRenamed("__r__", "embedding")
    )
    cents = fit_ivf_centroids(rot_all, k=4, iters=2)
    books = fit_pq_codebooks(rot_all, m=M, ncodes=NCODES, iters=2)
    codes = pq_encode(rot_all, books).join(
        assign_cells(rot_all, cents).select("vec_id", "cell"),
        "vec_id",
    ).withColumn("ingest_day", F.lit("d0"))
    index = str(tmp_path / "opq_refit_idx")
    write_pq_index(
        codes, books, index, partition_col="ingest_day",
        centroids=cents, rotation=rotation,
    )

    # refit takes the RAW corpus; the rotation frame is preserved
    report = refit_pq_index(
        spark, index,
        vec_df.withColumn("ingest_day", F.lit("d0")),
        partition_col="ingest_day", iters=2,
    )
    assert report["version"] == 1
    assert list_versions(spark, index) == [1]
    _, _, _, rot2 = read_pq_meta(spark, index)
    assert rot2 == rotation  # the frame survived the version swap

    queries = vec_df.filter("vec_id < 3")
    res = ivf_pq_search_index(
        spark, index, queries, corpus=vec_df, k=5, nprobe=4, rerank=500,
    ).collect()
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(vec_df, queries, k=5).collect()
    }
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in res}
    assert got == exact


def test_rotate_batch_arrow_bit_parity(spark, vec_df, fitted, tmp_path):
    """The append's fused rotation (ivf.fold_dots, the first step of
    pq_encode_batch on an OPQ index) and rotate_vectors must both equal
    the SQL aggregate fold of tests/ann_reference.py bit-for-bit on the
    full fixture — numpy mul/add are the same IEEE doubles in the same
    left-fold order — and so must the codes, vhat_sq and cell it feeds. A NULL vector yields no row; a wrong-width vector
    fails the batch with a named error instead of vanishing."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fold_dots,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        pq_encode_batch,
    )

    from tests.ann_reference import reference_fold

    rotation, _ = fitted
    rows = sorted(vec_df.collect(), key=lambda r: r["vec_id"])
    ref = reference_fold(
        rotate_vectors(vec_df, rotation), "embedding", rotation
    ).collect()
    a = {r["vec_id"]: list(r["__ref__"]) for r in ref}
    assert all(r["rotated"] == r["__ref__"] for r in ref)
    b = dict(
        zip(
            [r["vec_id"] for r in rows],
            fold_dots([r["embedding"] for r in rows], rotation).tolist(),
        )
    )
    assert a == b and len(a) == N

    rot_all, cents, books = _opq_index(
        spark, vec_df, rotation, str(tmp_path / "opq_idx")
    )
    meta = (books, cents, False, rotation)

    def fused(df):
        return pq_encode_batch(
            df.withColumn("ingest_day", F.lit("d1")), meta,
            "vec_id", "embedding", "ingest_day",
        )

    got = {
        r["vec_id"]: (r["cell"], list(r["codes"]), r["vhat_sq"])
        for r in fused(vec_df).collect()
    }
    want = {
        r["vec_id"]: (r["cell"], list(r["codes"]), r["vhat_sq"])
        for r in pq_encode(rot_all, books)
        .join(assign_cells(rot_all, cents).select("vec_id", "cell"), "vec_id")
        .collect()
    }
    assert got == want and len(got) == N

    null_row = spark.createDataFrame(
        [(10_001, None)], "vec_id long, embedding array<double>"
    )
    assert fused(null_row).collect() == []
    bad = spark.createDataFrame(
        [(10_000, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match=f"pq_encode_batch: expected embedding of length {D}, got 2"):
        fused(bad).collect()


def test_opq_append_and_refit_reject_wrong_width(spark, vec_df, fitted, tmp_path):
    """A wrong-width vector in an OPQ append batch or refit corpus raises a
    named error, as it does on raw and IVF-PQ indexes. Rotating first
    would turn it into NULL, which the encode then drops from the index
    without a word."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        refit_pq_index,
    )

    rotation, _ = fitted
    index = str(tmp_path / "opq_idx")
    _opq_index(spark, vec_df, rotation, index)
    bad = spark.createDataFrame(
        [(10_000, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    batch = vec_df.filter("vec_id >= 400").unionByName(bad)
    with pytest.raises(Exception, match=f"pq_encode_batch: expected embedding of length {D}, got 2"):
        append_pq_index(spark, index, batch.withColumn("ingest_day", F.lit("d1")))
    with pytest.raises(Exception, match=f"refit_pq_index: expected embedding of length {D}, got 2"):
        refit_pq_index(
            spark, index, vec_df.unionByName(bad).withColumn("ingest_day", F.lit("d0")),
            partition_col="ingest_day", iters=2,
        )
