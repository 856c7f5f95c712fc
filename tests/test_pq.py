"""Product-quantization tests: deterministic fit, encode == numpy
reference, ADC score == numpy reference, reranked recall floor at sf0.1
(the ANN_RECALL.json setting)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
    fit_pq_codebooks,
    pq_encode,
    pq_topk,
)
from gdelt_2_0_event_database_pipeline_spark.operators.similarity import cosine_topk

SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def books(emb):
    return fit_pq_codebooks(emb, m=16, ncodes=16, iters=3)


def _np_corpus(emb):
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    x = np.asarray([[float(v) for v in r.embedding] for r in rows], np.float64)
    return ids, x


def _np_encode(x, books):
    cb = np.asarray(books, np.float64)  # m × ncodes × subdim
    m, ncodes, subdim = cb.shape
    xs = x.reshape(x.shape[0], m, subdim)
    # d2[n,s,c] = |x_sub - c|²; argmin over c, first-minimum tie rule
    d2 = (
        (xs * xs).sum(axis=2)[:, :, None]
        + (cb * cb).sum(axis=2)[None, :, :]
        - 2.0 * np.einsum("nsd,scd->nsc", xs, cb)
    )
    return d2.argmin(axis=2)  # n × m


def test_fit_deterministic(emb):
    a = fit_pq_codebooks(emb, m=16, ncodes=16, iters=3)
    b = fit_pq_codebooks(emb, m=16, ncodes=16, iters=3)
    assert a == b
    assert len(a) == 16 and len(a[0]) == 16 and len(a[0][0]) == 4


def test_encode_matches_numpy(emb, books):
    ids, x = _np_corpus(emb)
    want = _np_encode(x, books)
    got = {r.vec_id: r for r in pq_encode(emb, books).collect()}
    assert set(got) == set(ids)
    cb = np.asarray(books, np.float64)
    for i, vid in enumerate(ids):
        assert list(got[vid].codes) == [int(c) for c in want[i]], vid
        expect_sq = sum(
            float((cb[s, c] * cb[s, c]).sum()) for s, c in enumerate(want[i])
        )
        assert got[vid].vhat_sq == pytest.approx(expect_sq, rel=1e-9)


def test_adc_scores_match_numpy(emb, books):
    ids, x = _np_corpus(emb)
    codes = _np_encode(x, books)
    cb = np.asarray(books, np.float64)
    m, ncodes, subdim = cb.shape
    # reconstruction of every corpus row from its codes
    recon = np.stack(
        [np.concatenate([cb[s, codes[i, s]] for s in range(m)]) for i in range(len(ids))]
    )
    enc = pq_encode(emb, books).cache()
    queries = emb.filter(F.col("vec_id") < 3)
    got = pq_topk(enc, queries, books, k=5).collect()
    assert got, "expected ADC results"
    qx = {ids[i]: x[i] for i in range(len(ids))}
    rx = {ids[i]: recon[i] for i in range(len(ids))}
    for r in got:
        q, v = qx[r.query_id], rx[r.neighbor_id]
        expect = float(
            (q @ v) / (np.sqrt((q * q).sum()) * np.sqrt((v * v).sum()))
        )
        assert r.cos_sim == pytest.approx(expect, rel=1e-9), (
            r.query_id,
            r.neighbor_id,
        )


def test_topk_shape_and_rerank_exactness(emb, books):
    enc = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    out = pq_topk(enc, queries, books, k=5, rerank=50, corpus=emb)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != q for r in rs)
    # reranked cos_sim is EXACT cosine (matches brute force on the overlap)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    hits = 0
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert r.cos_sim == pytest.approx(exact[key], rel=1e-9)
            hits += 1
    assert hits > 0


def test_reranked_recall_sf01(spark):
    """Re-measure the headline PQ configuration on the sf0.1 fixture
    (near-uniform embeddings — PQ's hard case, same setting as
    ANN_RECALL.json) and pin the recall floor: ADC shortlist of 100 +
    exact rerank at the m=16/ncodes=16 defaults must recover >= 0.80
    of exact top-5 (ANN_RECALL.json measured 0.94 on its 25-query
    sample)."""
    emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb01.orderBy(F.xxhash64("vec_id", F.lit(7))).limit(15).cache()
    books = fit_pq_codebooks(emb01, m=16, ncodes=16, iters=3)
    enc = pq_encode(emb01, books).cache()
    exact = {}
    for r in cosine_topk(emb01, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in pq_topk(enc, queries, books, k=5, rerank=100, corpus=emb01).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    num = sum(len(v & approx.get(q, set())) for q, v in exact.items())
    den = sum(len(v) for v in exact.values())
    recall = num / den
    assert recall >= 0.80, f"PQ rerank=100 recall@5 {recall}"


def test_bad_inputs(emb, books):
    with pytest.raises(ValueError):
        fit_pq_codebooks(emb, m=7)  # 64 % 7 != 0
    with pytest.raises(ValueError):
        pq_topk(pq_encode(emb, books), emb.limit(1), books, rerank=10)


def test_ivf_pq_probe_all_equals_pq_topk(spark, emb, books):
    """With nprobe = n_cells the IVF stage prunes nothing, so the ADC
    shortlist — and therefore the reranked result — must equal plain
    pq_topk's at the same rerank (the composition's sanity bound)."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import ivf_pq_topk

    cents = fit_ivf_centroids(emb, k=8, iters=2)
    queries = emb.filter(F.col("vec_id") < 3)
    enc = pq_encode(emb, books).localCheckpoint()
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_pq_topk(
            emb, queries, cents, books, k=5, nprobe=8, rerank=50,
            corpus_codes=enc,
        ).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_topk(enc, queries, books, k=5, rerank=50, corpus=emb).collect()
    )
    assert a == b


def test_ivf_pq_recall_sf01(spark):
    """Composed IVF-PQ at the defaults (auto nprobe from the measured IVF
    curve, rerank=100): the probed-cell ceiling times the PQ-shortlist
    recall. ANN_RECALL.json's 'ivfpq' section measured 0.76 at nprobe=8;
    pin 0.70 as the floor on the 15-query re-sample."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import ivf_pq_topk

    emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb01.orderBy(F.xxhash64("vec_id", F.lit(7))).limit(15).cache()
    cents = fit_ivf_centroids(emb01, k=16, iters=2)
    books = fit_pq_codebooks(emb01, m=16, ncodes=16, iters=3)
    exact = {}
    for r in cosine_topk(emb01, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_pq_topk(
        emb01, queries, cents, books, k=5, rerank=100
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    num = sum(len(v & approx.get(q, set())) for q, v in exact.items())
    den = sum(len(v) for v in exact.values())
    recall = num / den
    assert recall >= 0.70, f"IVF-PQ recall@5 {recall}"


def test_pq_index_roundtrip(spark, emb, books, tmp_path):
    """write_pq_index -> read_pq_index is lossless: codebooks compare
    equal and searching the from-disk index reproduces the in-memory
    result exactly."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        read_pq_index,
        write_pq_index,
    )

    enc = pq_encode(emb, books)
    path = str(tmp_path / "pq_index")
    write_pq_index(enc, books, path)
    codes2, books2 = read_pq_index(spark, path)
    assert books2 == books
    queries = emb.filter(F.col("vec_id") < 3)
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_topk(enc, queries, books, k=5, rerank=50, corpus=emb).collect()
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_topk(codes2, queries, books2, k=5, rerank=50, corpus=emb).collect()
    )
    assert got == want
    with pytest.raises(Exception):
        write_pq_index(enc, books, path)  # mode="error" refuses overwrite


def test_dim_mismatch_fails_loudly(spark, emb, books):
    """Corpus vectors whose length != m*subdim must raise (assert_true
    guard), not silently produce truncated codes / NULL ADC scores."""
    short = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(Exception) as ei:
        pq_encode(short, books).collect()
    assert "pq_encode" in str(ei.value)


def test_malformed_codebooks_raise_valueerror():
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        _check_codebooks,
    )

    for bad in (None, [], [[]], [[[]]], [[[1.0]], [[1.0], [2.0]]]):
        with pytest.raises(ValueError):
            _check_codebooks(bad)


def test_append_then_search_equals_rebuild(spark, emb, books, tmp_path):
    """Incremental maintenance contract: build the index on half the
    corpus, append the rest batch-by-batch against the PERSISTED
    codebooks, and the maintained codes + searches must equal a fresh
    whole-corpus encode under the same codebooks, exactly."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        read_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "pq_index")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    base = pq_encode(half, books).withColumn("ingest_day", F.lit("d0"))
    write_pq_index(base, books, path, partition_col="ingest_day")
    append_pq_index(
        spark, path, rest.withColumn("ingest_day", F.lit("d1"))
    )

    codes, books2 = read_pq_index(spark, path)
    assert books2 == books
    maintained = {
        r.vec_id: (list(r.codes), r.vhat_sq)
        for r in codes.select("vec_id", "codes", "vhat_sq").collect()
    }
    rebuilt = {
        r.vec_id: (list(r.codes), r.vhat_sq)
        for r in pq_encode(emb, books).collect()
    }
    assert maintained == rebuilt

    queries = emb.filter(F.col("vec_id") < 3)
    got = pq_topk(
        codes.select("vec_id", "codes", "vhat_sq"),
        queries, books, k=5, rerank=20, corpus=emb,
    )
    want = pq_topk(
        pq_encode(emb, books), queries, books, k=5, rerank=20, corpus=emb
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_append_replaces_reingested_ids(spark, emb, books, tmp_path):
    """Re-ingesting an id with a NEW vector replaces its codes in place
    (upsert semantics), without touching other partitions."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        read_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "pq_index")
    base = pq_encode(emb, books).withColumn("ingest_day", F.lit("d0"))
    write_pq_index(base, books, path, partition_col="ingest_day")

    victim = emb.filter(F.col("vec_id") == 1).select(
        "vec_id",
        F.reverse("embedding").alias("embedding"),
        F.lit("d0").alias("ingest_day"),
    )
    append_pq_index(spark, path, victim)
    codes, _ = read_pq_index(spark, path)
    assert codes.filter(F.col("vec_id") == 1).count() == 1
    got = codes.filter(F.col("vec_id") == 1).first()
    want = pq_encode(victim, books).first()
    assert list(got.codes) == list(want.codes) and got.vhat_sq == want.vhat_sq
    assert codes.count() == emb.count()


def test_append_requires_partition_column(spark, emb, books, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "pq_index")
    base = pq_encode(emb, books).withColumn("ingest_day", F.lit("d0"))
    write_pq_index(base, books, path, partition_col="ingest_day")
    with pytest.raises(ValueError):
        append_pq_index(spark, path, emb)  # no ingest_day column


@pytest.fixture(scope="module")
def cents(emb):
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )

    return fit_ivf_centroids(emb, k=8, iters=3)


def test_ivf_pq_index_search_equals_direct(spark, emb, books, cents, tmp_path):
    """Searching the maintained IVF-PQ index (codes+cells+centroids at
    rest) must equal ivf_pq_topk computing everything from the corpus —
    assignment and encode are deterministic expressions of the fitted
    models."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        ivf_pq_search_index,
        ivf_pq_topk,
        write_pq_index,
    )

    path = str(tmp_path / "ivfpq")
    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell"), "vec_id"
    )
    write_pq_index(codes, books, path, centroids=cents)
    queries = emb.filter(F.col("vec_id") < 3)
    got = ivf_pq_search_index(
        spark, path, queries, corpus=emb, k=5, nprobe=3, rerank=20
    )
    want = ivf_pq_topk(emb, queries, cents, books, k=5, nprobe=3, rerank=20)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # pure ADC serving path: no raw vector needed at all
    adc = ivf_pq_search_index(spark, path, queries, k=5, nprobe=3, rerank=None)
    adc_direct = ivf_pq_topk(emb, queries, cents, books, k=5, nprobe=3, rerank=None)
    assert sorted(map(tuple, adc.collect())) == sorted(map(tuple, adc_direct.collect()))


def test_ivf_pq_append_assigns_cells(spark, emb, books, cents, tmp_path):
    """Appending to an IVF-PQ index assigns the batch's coarse cells
    against the PERSISTED centroids; maintained state == rebuild."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "ivfpq")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    base = (
        pq_encode(half, books)
        .join(assign_cells(half, cents).select("vec_id", "cell"), "vec_id")
        .withColumn("ingest_day", F.lit("d0"))
    )
    write_pq_index(base, books, path, partition_col="ingest_day", centroids=cents)
    append_pq_index(spark, path, rest.withColumn("ingest_day", F.lit("d1")))

    maintained = {
        r.vec_id: (list(r.codes), r.vhat_sq, r.cell)
        for r in spark.read.parquet(f"{path}/codes")
        .select("vec_id", "codes", "vhat_sq", "cell").collect()
    }
    full = {
        r.vec_id: (list(r.codes), r.vhat_sq, r.cell)
        for r in pq_encode(emb, books)
        .join(assign_cells(emb, cents).select("vec_id", "cell"), "vec_id")
        .collect()
    }
    assert maintained == full


def test_ivf_pq_index_guards(spark, emb, books, cents, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        ivf_pq_search_index,
        write_pq_index,
    )

    plain = str(tmp_path / "plain")
    write_pq_index(pq_encode(emb, books), books, plain)
    with pytest.raises(ValueError):  # plain index has no centroids
        ivf_pq_search_index(spark, plain, emb.limit(1), rerank=None)
    with pytest.raises(ValueError):  # centroids given but no cell column
        write_pq_index(pq_encode(emb, books), books, str(tmp_path / "x"),
                       centroids=cents)
    ivfpq = str(tmp_path / "ivfpq")
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells

    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell"), "vec_id"
    )
    write_pq_index(codes, books, ivfpq, centroids=cents)
    with pytest.raises(ValueError):  # rerank needs the raw corpus
        ivf_pq_search_index(spark, ivfpq, emb.limit(1), rerank=50)
    with pytest.raises(ValueError):  # rerank=0 is not rerank=None: same guard
        ivf_pq_search_index(spark, ivfpq, emb.limit(1), rerank=0)


def _vec_df(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )


def test_drift_report_flags_distribution_shift(spark, tmp_path):
    """index_drift_report is the refit trigger for the frozen coarse
    quantizer: an in-distribution sample reports err_ratio ~ 1 and no
    refit; a deliberately shifted append degrades BOTH metrics and flips
    refit_recommended — while append==rebuild parity still holds (drift
    hurts recall, never correctness of the maintained codes)."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        index_drift_report,
        read_pq_index,
        write_pq_index,
    )

    rng = np.random.RandomState(7)
    dim = 16
    base_np = rng.randn(400, dim)
    base_np[:200] += 3.0  # two clusters so the quantizer has structure
    base = _vec_df(spark, range(400), base_np)

    books = fit_pq_codebooks(base, m=4, ncodes=8, iters=3)
    cents = fit_ivf_centroids(base, k=4, iters=4)
    codes = (
        pq_encode(base, books)
        .join(assign_cells(base, cents).select("vec_id", "cell"), "vec_id")
        .withColumn("ingest_day", F.lit("d0"))
    )
    path = str(tmp_path / "idx")
    write_pq_index(codes, books, path, partition_col="ingest_day", centroids=cents)

    # in-distribution recent sample: no refit, ratio ~ 1, zero occupancy move
    indist_np = rng.randn(200, dim)
    indist_np[:100] += 3.0
    indist = _vec_df(spark, range(400, 600), indist_np)
    r_ok = index_drift_report(spark, path, indist).first()
    assert r_ok.occupancy_tvd == 0.0  # nothing appended yet
    assert r_ok.err_ratio < 1.3, r_ok
    assert not r_ok.refit_recommended

    # hard distribution shift, appended against the frozen centroids
    drift_np = rng.randn(300, dim) + 12.0
    drifted = _vec_df(spark, range(1000, 1300), drift_np)
    append_pq_index(
        spark, path, drifted.withColumn("ingest_day", F.lit("d1"))
    )
    r_bad = index_drift_report(spark, path, drifted).first()
    assert r_bad.refit_recommended, r_bad
    assert r_bad.err_ratio > 2.0, r_bad
    assert r_bad.occupancy_tvd > r_ok.occupancy_tvd
    assert r_bad.n_current == 700 and r_bad.n_build == 400

    # parity: the maintained index still equals a rebuild under the same
    # frozen codebooks/centroids — drift degrades recall, not determinism
    codes2, _ = read_pq_index(spark, path)
    alldocs = base.unionByName(drifted)
    rebuilt = {
        r.vec_id: (list(r.codes), r.vhat_sq, r.cell)
        for r in pq_encode(alldocs, books)
        .join(assign_cells(alldocs, cents).select("vec_id", "cell"), "vec_id")
        .collect()
    }
    maintained = {
        r.vec_id: (list(r.codes), r.vhat_sq, r.cell)
        for r in codes2.select("vec_id", "codes", "vhat_sq", "cell").collect()
    }
    assert maintained == rebuilt


@pytest.mark.slow
def test_refit_restores_recall_and_swaps_atomically(spark, tmp_path):
    """refit_pq_index is the one-call action the drift report recommends
    (r11 verdict item 3): drifted index -> report recommends -> refit ->
    report clean + recall restored; the version swap is commit-marked so
    readers resolve old-or-new, never a mixed (codes, codebooks) pair."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        index_drift_report,
        ivf_pq_search_index,
        read_pq_meta,
        refit_pq_index,
        resolve_index_root,
        write_pq_index,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    rng = np.random.RandomState(9)
    dim = 16
    base_np = rng.randn(300, dim)
    base_np[:150] += 3.0
    base = _vec_df(spark, range(300), base_np).withColumn(
        "ingest_day", F.lit("d0")
    )
    books = fit_pq_codebooks(base, m=4, ncodes=8, iters=3)
    cents = fit_ivf_centroids(base, k=4, iters=4)
    codes = (
        pq_encode(base, books)
        .join(assign_cells(base, cents).select("vec_id", "cell"), "vec_id")
        .join(base.select("vec_id", "ingest_day"), "vec_id")
    )
    path = str(tmp_path / "idx")
    write_pq_index(codes, books, path, partition_col="ingest_day", centroids=cents)

    # hard shift appended through the frozen quantizer
    drift_np = rng.randn(400, dim) + 12.0
    drifted = _vec_df(spark, range(1000, 1400), drift_np).withColumn(
        "ingest_day", F.lit("d1")
    )
    append_pq_index(spark, path, drifted)
    assert index_drift_report(spark, path, drifted).first().refit_recommended

    corpus = base.unionByName(drifted)
    q_np = rng.randn(15, dim) + 12.0  # queries from the shifted regime
    queries = _vec_df(spark, range(9000, 9015), q_np)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(corpus, queries, k=5).collect()
    }

    def recall() -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_pq_search_index(
                spark, path, queries, corpus=corpus, k=5, nprobe=2, rerank=50
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_before = recall()
    rep = refit_pq_index(
        spark, path, corpus, partition_col="ingest_day", iters=4
    )
    assert rep["version"] == 1 and rep["n_rows"] == 700
    # readers now resolve the committed version; meta comes from it
    root = resolve_index_root(spark, path)
    assert root.endswith("v_00001")
    _, new_cents, _, _ = read_pq_meta(spark, path)
    assert new_cents != cents  # the quantizer actually refit
    r_after = recall()
    assert r_after > r_before + 0.1, (r_before, r_after)
    rep2 = index_drift_report(spark, path, drifted).first()
    assert not rep2.refit_recommended, rep2
    assert rep2.err_ratio < 1.3

    # never-mixed: an uncommitted version dir (refit died mid-write) is
    # invisible to readers and does not collide with the next refit
    import os

    os.makedirs(str(tmp_path / "idx" / "v_00002" / "codes"))
    assert resolve_index_root(spark, path).endswith("v_00001")
    # layout guard: omitting the index's own partition scheme must refuse
    with pytest.raises(ValueError, match="partitioning mismatch"):
        refit_pq_index(spark, path, corpus)
    rep3 = refit_pq_index(spark, path, corpus, partition_col="ingest_day")
    assert rep3["version"] == 3  # skipped the debris
    assert resolve_index_root(spark, path).endswith("v_00003")
    # retention: previous committed version survives for in-flight
    # readers; the uncommitted debris was cleaned; the legacy
    # un-versioned root files (two generations old now) are gone too
    assert os.path.isdir(str(tmp_path / "idx" / "v_00001"))
    assert not os.path.isdir(str(tmp_path / "idx" / "v_00002"))
    assert not os.path.isdir(str(tmp_path / "idx" / "codes"))

    # appends land in the LIVE version only
    extra = _vec_df(spark, range(2000, 2050), rng.randn(50, dim) + 12.0) \
        .withColumn("ingest_day", F.lit("d2"))
    append_pq_index(spark, path, extra)
    live = spark.read.parquet(f"{path}/v_00003/codes")
    prev = spark.read.parquet(f"{path}/v_00001/codes")
    assert live.count() == 750 and prev.count() == 700

    # version pin: a retained version serves reproducible re-runs; a
    # deleted/uncommitted one refuses loudly
    pinned = ivf_pq_search_index(
        spark, path, queries, corpus=corpus, k=5, nprobe=2, rerank=50,
        version=1,
    )
    assert pinned.count() == 75  # 15 queries x 5 — served from v_00001
    with pytest.raises(ValueError, match="not committed/retained"):
        ivf_pq_search_index(spark, path, queries, corpus=corpus, version=2)


def test_drift_report_guards(spark, emb, books, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        index_drift_report,
        write_pq_index,
    )

    plain = str(tmp_path / "plain")
    write_pq_index(pq_encode(emb, books), books, plain)
    with pytest.raises(ValueError):  # plain PQ index has no coarse quantizer
        index_drift_report(spark, plain, emb)


def test_drift_report_reads_cell_stats_by_existence(spark, emb, books, cents, tmp_path):
    """Only a MISSING cell_stats snapshot (an index written before it
    existed) reads as "no occupancy baseline"; a snapshot that exists but
    cannot be read raises instead of silently dropping the occupancy half
    of the refit decision."""
    import shutil

    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        index_drift_report,
        write_pq_index,
    )

    path = tmp_path / "ivfpq"
    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell"), "vec_id"
    )
    write_pq_index(codes, books, str(path), centroids=cents)
    stats = path / "cell_stats"
    parts = sorted(stats.glob("part-*.parquet"))
    assert parts
    for crc in stats.glob(".*.crc"):
        crc.unlink()  # a stale checksum would fail first, masking the footer
    parts[0].write_bytes(b"not a parquet file " * 8)
    with pytest.raises(Exception, match="(?i)parquet"):
        index_drift_report(spark, str(path), emb)

    shutil.rmtree(stats)  # the legacy layout: no snapshot at all
    rep = index_drift_report(spark, str(path), emb).first()
    assert rep["occupancy_tvd"] is None and rep["n_build"] is None
    assert rep["err_ratio"] is not None


def test_drift_report_rejects_wrong_width_sample(spark, emb, books, cents, tmp_path):
    """The drift sample is scored against the index's centroids in numpy;
    a sample of another width raises a named error instead of being
    dropped or broadcast."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        index_drift_report,
        write_pq_index,
    )

    path = str(tmp_path / "ivfpq")
    codes = pq_encode(emb, books).join(
        assign_cells(emb, cents).select("vec_id", "cell"), "vec_id"
    )
    write_pq_index(codes, books, path, centroids=cents)
    short = emb.withColumn("embedding", F.slice("embedding", 1, 2))
    with pytest.raises(ValueError, match="index width"):
        index_drift_report(spark, path, short)


def test_drift_report_rotates_sample_on_opq_index(spark, tmp_path):
    """r13 ADVICE (medium): on an OPQ index the centroids live in ROTATED
    space, so the drift sample must be rotated into the index frame before
    the frozen/refit error passes. Unfixed, an in-distribution RAW sample
    scores raw vectors against rotated centroids — err_ratio is
    structurally inflated and refit_recommended fires with zero drift
    (and drift_action='refit' would then refit on every Nth batch). A
    genuinely shifted sample must still trip the report."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.opq import (
        fit_opq,
        rotate_vectors,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        index_drift_report,
        write_pq_index,
    )

    rng = np.random.RandomState(11)
    dim = 16
    # anisotropic, non-axis-aligned data: the OPQ regime, and a rotation
    # far from identity so the raw-vs-rotated frame mismatch is large
    basis, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    scales = np.array([8.0, 6.0, 4.0, 3.0] + [0.4] * (dim - 4))

    def sample(n, lo):
        x = (rng.standard_normal((n, dim)) * scales) @ basis.T
        return spark.createDataFrame(
            [(int(lo + i), [float(v) for v in x[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    base = sample(400, 0)
    rotation, books = fit_opq(base, m=4, ncodes=8, iters=2, opq_iters=4)
    rot = (
        rotate_vectors(base, rotation, out_col="__r__")
        .drop("embedding")
        .withColumnRenamed("__r__", "embedding")
    )
    cents = fit_ivf_centroids(rot, k=4, iters=3)
    codes = (
        pq_encode(rot, books)
        .join(assign_cells(rot, cents).select("vec_id", "cell"), "vec_id")
        .withColumn("ingest_day", F.lit("d0"))
    )
    path = str(tmp_path / "opq_idx")
    write_pq_index(
        codes, books, path, partition_col="ingest_day",
        centroids=cents, rotation=rotation,
    )

    # in-distribution RAW sample: the report rotates it into the index
    # frame, so err_ratio ~ 1 and no refit — the bug this test pins
    r_ok = index_drift_report(spark, path, sample(200, 1000)).first()
    assert r_ok.err_ratio < 1.3, r_ok
    assert not r_ok.refit_recommended, r_ok

    # hard shift (raw space): still flagged through the rotated frame
    shifted = sample(200, 2000).withColumn(
        "embedding", F.expr("transform(embedding, v -> v + 50.0)")
    )
    r_bad = index_drift_report(spark, path, shifted).first()
    assert r_bad.refit_recommended and r_bad.err_ratio > 1.3, r_bad


# ------------------------------------------------------------ residual IVFPQ
def _np_residual_encode(x, cents, books):
    """Numpy reference for ivf_pq_encode_residual: first-minimum cell
    assignment, residual subtraction, per-subspace code argmin, and
    vhat_sq = |centroid + reconstruction|^2."""
    cm = np.asarray(cents, np.float64)
    d2 = (
        (x * x).sum(axis=1)[:, None]
        + (cm * cm).sum(axis=1)[None, :]
        - 2.0 * (x @ cm.T)
    )
    cells = d2.argmin(axis=1)
    resid = x - cm[cells]
    codes = _np_encode(resid, books)
    cb = np.asarray(books, np.float64)
    m, _, subdim = cb.shape
    recon = np.stack(
        [
            np.concatenate([cb[s, codes[i, s]] for s in range(m)])
            for i in range(x.shape[0])
        ]
    )
    vhat = cm[cells] + recon
    return cells, codes, (vhat * vhat).sum(axis=1)


def test_residual_encode_matches_numpy(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_residual_codebooks,
        ivf_pq_encode_residual,
    )

    rng = np.random.RandomState(3)
    dim = 16
    x = rng.randn(300, dim)
    x[:150] += 4.0  # clustered, so residuals differ from raw vectors
    df = _vec_df(spark, range(300), x)
    cents = fit_ivf_centroids(df, k=4, iters=3)
    books = fit_residual_codebooks(df, cents, m=4, ncodes=8, iters=3)

    want_cells, want_codes, want_sq = _np_residual_encode(x, cents, books)
    got = {r.vec_id: r for r in ivf_pq_encode_residual(df, books, cents).collect()}
    assert set(got) == set(range(300))
    for i in range(300):
        assert got[i].cell == want_cells[i], i
        assert list(got[i].codes) == [int(c) for c in want_codes[i]], i
        assert got[i].vhat_sq == pytest.approx(want_sq[i], rel=1e-9), i


def test_residual_beats_raw_adc_on_clustered(spark):
    """The reason residual encoding exists: on clustered data the raw
    codebooks spend codes re-describing cluster placement, residual
    codebooks spend them on within-cluster geometry — ADC-only recall@5
    (no rerank, where encoding quality is naked) must be strictly better
    at identical bytes per vector."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_residual_codebooks,
        ivf_pq_topk,
    )

    rng = np.random.RandomState(5)
    dim, n_clu, per = 32, 8, 80
    centers = rng.randn(n_clu, dim) * 6.0
    x = np.concatenate(
        [centers[c] + rng.randn(per, dim) for c in range(n_clu)]
    )
    df = _vec_df(spark, range(n_clu * per), x).cache()
    queries = df.filter(F.col("vec_id") % 97 == 0).cache()  # 7 queries

    cents = fit_ivf_centroids(df, k=n_clu, iters=4)
    raw_books = fit_pq_codebooks(df, m=8, ncodes=16, iters=3)
    res_books = fit_residual_codebooks(df, cents, m=8, ncodes=16, iters=3)

    exact = {}
    for r in cosine_topk(df, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(got_rows):
        approx = {}
        for r in got_rows:
            approx.setdefault(r.query_id, set()).add(r.neighbor_id)
        num = sum(len(v & approx.get(q, set())) for q, v in exact.items())
        return num / sum(len(v) for v in exact.values())

    raw = recall(
        ivf_pq_topk(
            df, queries, cents, raw_books, k=5, nprobe=n_clu, rerank=None
        ).collect()
    )
    res = recall(
        ivf_pq_topk(
            df, queries, cents, res_books, k=5, nprobe=n_clu, rerank=None,
            residual=True,
        ).collect()
    )
    # the pinned claim is the RELATIVE win at identical bytes; absolute
    # ADC-only recall is low for both (within-cluster cosines are
    # near-ties — the regime rerank exists for)
    assert res > raw + 0.1, f"residual {res} vs raw {raw}"
    # and the residual shortlist + a modest exact rerank recovers accuracy
    res_rr = recall(
        ivf_pq_topk(
            df, queries, cents, res_books, k=5, nprobe=n_clu, rerank=100,
            residual=True,
        ).collect()
    )
    assert res_rr >= 0.9, res_rr


def test_residual_index_roundtrip_append_and_search(spark, tmp_path):
    """Residual index at rest: the meta flag dispatches append and search
    to residual math; append==rebuild parity holds (deterministic encode
    of frozen centroids+codebooks); ivf_pq_search_index == direct
    ivf_pq_topk(residual=True) over the same corpus."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        fit_residual_codebooks,
        ivf_pq_encode_residual,
        ivf_pq_search_index,
        ivf_pq_topk,
        read_pq_meta,
        write_pq_index,
    )

    rng = np.random.RandomState(9)
    dim = 16
    x = rng.randn(240, dim)
    x[:120] += 3.0
    df = _vec_df(spark, range(240), x).cache()
    cents = fit_ivf_centroids(df, k=4, iters=3)
    books = fit_residual_codebooks(df, cents, m=4, ncodes=8, iters=3)

    half = df.filter(F.col("vec_id") % 2 == 0)
    rest = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ridx")
    base = ivf_pq_encode_residual(half, books, cents).withColumn(
        "ingest_day", F.lit("d0")
    )
    write_pq_index(
        base, books, path, partition_col="ingest_day",
        centroids=cents, residual=True,
    )
    assert read_pq_meta(spark, path)[2] is True
    append_pq_index(spark, path, rest.withColumn("ingest_day", F.lit("d1")))

    maintained = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in spark.read.parquet(f"{path}/codes")
        .select("vec_id", "cell", "codes", "vhat_sq")
        .collect()
    }
    rebuilt = {
        r.vec_id: (r.cell, list(r.codes), r.vhat_sq)
        for r in ivf_pq_encode_residual(df, books, cents).collect()
    }
    assert maintained == rebuilt

    queries = df.filter(F.col("vec_id") < 3)
    got = sorted(
        map(
            tuple,
            ivf_pq_search_index(
                spark, path, queries, corpus=df, k=5, nprobe=4, rerank=20
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ivf_pq_topk(
                df, queries, cents, books, k=5, nprobe=4, rerank=20,
                corpus_codes=ivf_pq_encode_residual(df, books, cents),
                residual=True,
            ).collect(),
        )
    )
    assert got == want


@pytest.mark.parametrize("residual", [False, True])
def test_append_detects_refit_commit_after_merge(spark, tmp_path, monkeypatch, residual):
    """A version committed between the batch's merge and the re-resolve of
    the live root means the batch landed in a superseded version: the
    append must raise, for a raw and a residual index alike."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        append_pq_index,
        fit_residual_codebooks,
        ivf_pq_encode_residual,
        write_pq_index,
    )
    from gdelt_2_0_event_database_pipeline_spark.sources import lake
    from gdelt_2_0_event_database_pipeline_spark.streaming import upsert

    x = np.random.RandomState(3).randn(64, 8)
    df = _vec_df(spark, range(64), x)
    half = df.filter(F.col("vec_id") % 2 == 0)
    rest = df.filter(F.col("vec_id") % 2 == 1).withColumn("ingest_day", F.lit("d1"))
    path = str(tmp_path / "idx")
    if residual:
        cents = fit_ivf_centroids(df, k=2, iters=2)
        books = fit_residual_codebooks(df, cents, m=2, ncodes=4, iters=2)
        base = ivf_pq_encode_residual(half, books, cents)
        extra = {"centroids": cents, "residual": True}
    else:
        books = fit_pq_codebooks(df, m=2, ncodes=4, iters=2)
        base = pq_encode(half, books)
        extra = {}
    write_pq_index(
        base.withColumn("ingest_day", F.lit("d0")), books, path,
        partition_col="ingest_day", **extra,
    )

    real_merge = upsert.merge_upsert_batch
    committed = []

    def merge_then_commit_a_version(*args, **kwargs):
        real_merge(*args, **kwargs)
        vdir = lake.version_dir(path, lake.next_version(spark, path))
        lake.commit_version(spark, vdir)
        committed.append(vdir)

    monkeypatch.setattr(upsert, "merge_upsert_batch", merge_then_commit_a_version)
    with pytest.raises(RuntimeError, match="raced a refit"):
        append_pq_index(spark, path, rest)
    assert len(committed) == 1


def test_residual_guards(spark, emb, books, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_residual_codebooks,
        write_pq_index,
    )

    with pytest.raises(ValueError):  # residual needs centroids
        write_pq_index(
            pq_encode(emb, books), books, str(tmp_path / "x"), residual=True
        )
    with pytest.raises(ValueError):  # centroid dim mismatch
        fit_residual_codebooks(emb, [[0.0, 1.0]], m=16, ncodes=4, iters=1)


def test_cli_ann_drift(spark, tmp_path, capsys):
    """`ann-drift` CLI: exit 0 + report JSON when healthy, exit 3 when a
    refit is due (the scriptable form of index_drift_report for cron
    monitoring)."""
    import json as _json

    from gdelt_2_0_event_database_pipeline_spark.cli import main as cli_main
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        write_pq_index,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import assign_cells

    rng = np.random.RandomState(2)
    x = rng.randn(200, 8)
    df = _vec_df(spark, range(200), x)
    cents = fit_ivf_centroids(df, k=4, iters=2)
    books = fit_pq_codebooks(df, m=4, ncodes=4, iters=2)
    codes = (
        pq_encode(df, books)
        .join(assign_cells(df, cents).select("vec_id", "cell"), "vec_id")
    )
    idx = str(tmp_path / "idx")
    write_pq_index(codes, books, idx, centroids=cents)

    ok_sample = str(tmp_path / "ok")
    _vec_df(spark, range(300, 400), rng.randn(100, 8)).write.parquet(ok_sample)
    rc = cli_main(["ann-drift", "--index", idx, "--sample", ok_sample,
                   "--sample-cap", "100"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["refit_recommended"] is False

    bad_sample = str(tmp_path / "bad")
    _vec_df(spark, range(500, 600), rng.randn(100, 8) + 9.0).write.parquet(bad_sample)
    rc = cli_main(["ann-drift", "--index", idx, "--sample", bad_sample,
                   "--sample-cap", "100"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 3 and out["refit_recommended"] is True and out["err_ratio"] > 2


def test_cli_ann_refit_closes_the_drift_loop(spark, tmp_path, capsys):
    """ann-drift exit 3 -> ann-refit -> ann-drift exit 0: the full
    monitor-then-act loop, scriptable for cron."""
    import json as _json

    from gdelt_2_0_event_database_pipeline_spark.cli import main as cli_main
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        write_pq_index,
    )

    rng = np.random.RandomState(4)
    x = rng.randn(200, 8)
    df = _vec_df(spark, range(200), x)
    cents = fit_ivf_centroids(df, k=4, iters=2)
    books = fit_pq_codebooks(df, m=4, ncodes=4, iters=2)
    codes = (
        pq_encode(df, books)
        .join(assign_cells(df, cents).select("vec_id", "cell"), "vec_id")
    )
    idx = str(tmp_path / "idx")
    write_pq_index(codes, books, idx, centroids=cents)

    # the corpus has fully shifted since the fit
    shifted = _vec_df(spark, range(1000, 1200), rng.randn(200, 8) + 9.0)
    sample = str(tmp_path / "sample")
    shifted.write.parquet(sample)
    corpus = str(tmp_path / "corpus")
    shifted.write.parquet(corpus)

    rc = cli_main(["ann-drift", "--index", idx, "--sample", sample,
                   "--sample-cap", "200"])
    capsys.readouterr()
    assert rc == 3

    rc = cli_main(["ann-refit", "--index", idx, "--corpus", corpus,
                   "--iters", "3"])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["version"] == 1 and rep["n_rows"] == 200

    rc = cli_main(["ann-drift", "--index", idx, "--sample", sample,
                   "--sample-cap", "200"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["refit_recommended"] is False


@pytest.mark.slow
def test_residual_encode_fuzz_matches_numpy(spark):
    """Hypothesis sweep of (dim, m, ncodes, n_cells) shapes: the
    distributed residual encode must equal the numpy reference on every
    shape, including degenerate ones (1 cell — residual vs a single
    centroid; ncodes > n distinct residuals). Spark jobs are slow per
    example, so shapes are few and adversarial rather than many."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        fit_ivf_centroids,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_residual_codebooks,
        ivf_pq_encode_residual,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        shape=st.sampled_from(
            [
                (8, 2, 4, 1, 40),   # single cell: residual vs one centroid
                (8, 4, 8, 3, 60),
                (12, 3, 4, 4, 50),
                (16, 4, 16, 2, 30), # ncodes near n: some codes unused
                (6, 6, 2, 5, 45),   # subdim 1
            ]
        ),
        seed=st.integers(0, 3),
    )
    def check(shape, seed):
        dim, m, ncodes, n_cells, n = shape
        rng = np.random.RandomState(seed)
        x = rng.randn(n, dim)
        x[: n // 2] += 2.5
        df = _vec_df(spark, range(n), x)
        cents = fit_ivf_centroids(df, k=n_cells, iters=2)
        books = fit_residual_codebooks(df, cents, m=m, ncodes=ncodes, iters=2)
        want_cells, want_codes, want_sq = _np_residual_encode(x, cents, books)
        got = {
            r.vec_id: r for r in ivf_pq_encode_residual(df, books, cents).collect()
        }
        assert set(got) == set(range(n))
        for i in range(n):
            assert got[i].cell == want_cells[i], (shape, seed, i)
            assert list(got[i].codes) == [int(c) for c in want_codes[i]], (shape, seed, i)
            assert got[i].vhat_sq == pytest.approx(want_sq[i], rel=1e-9), (shape, seed, i)

    check()


def test_pq_encode_mapside_bit_parity(spark):
    """The one encode kernel (pq_encode_batch, an Arrow pass over
    ivf.fold_nearest, behind pq_encode and every append) must equal the
    Spark SQL reference encode BIT-FOR-BIT — codes and vhat_sq — and the
    numpy rule (probe_assignments) on the full test corpus: codes at rest
    from the older SQL encode stay consistent with rows encoded now only
    if both fold identical fp operations in identical order. Also pins
    the partition passthrough and the batch's cell, the residual flavour
    (== the reference residual encode), and array_sort's order on exact
    ties, -0.0 and non-finite components."""
    from gdelt_2_0_event_database_pipeline_spark.operators.ivf import (
        assign_cells,
        fit_ivf_centroids,
        probe_assignments,
    )
    from tests.ann_reference import (
        reference_assign_cells,
        reference_pq_encode,
        reference_residual_encode,
    )
    from gdelt_2_0_event_database_pipeline_spark.operators.pq import (
        fit_pq_codebooks,
        fit_residual_codebooks,
        ivf_pq_encode_residual,
        pq_encode_batch,
    )

    def batch(df, books, cents=None, residual=False):
        tagged = df.withColumn("day", F.lit("d0"))
        return pq_encode_batch(
            tagged, (books, cents, residual, None), "vec_id", "embedding", "day"
        ).collect()

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids, x = _np_corpus(emb)
    books = fit_pq_codebooks(emb, m=16, ncodes=16, iters=2)
    m, _, subdim = np.asarray(books).shape
    a = {r[0]: (list(r[1]), r[2]) for r in reference_pq_encode(emb, books).collect()}
    b = {r[0]: (list(r[1]), r[2]) for r in batch(emb, books)}
    assert a == b and len(a) == len(ids)
    assert b == {r[0]: (list(r[1]), r[2]) for r in pq_encode(emb, books).collect()}
    want = np.stack(
        [
            probe_assignments(x[:, s * subdim : (s + 1) * subdim], books[s], 1)[:, 0]
            for s in range(m)
        ],
        axis=1,
    )
    assert {vid: [int(c) for c in want[i]] for i, vid in enumerate(ids)} == {
        vid: codes for vid, (codes, _) in a.items()
    }

    # the partition passes through and the batch's cell rides the same pass
    cents = fit_ivf_centroids(emb, k=8, iters=2)
    got = {r["vec_id"]: (r["day"], r["cell"]) for r in batch(emb, books, cents)}
    want = {
        r["vec_id"]: ("d0", r["cell"])
        for r in reference_assign_cells(emb, cents).collect()
    }
    assert got == want == {
        r["vec_id"]: ("d0", r["cell"]) for r in assign_cells(emb, cents).collect()
    }

    # residual flavour: (cell, codes, vhat_sq) == the reference residual encode
    rbooks = fit_residual_codebooks(emb, cents, m=16, ncodes=16, iters=2)

    def cell_codes_vhat(rows):
        return {
            r["vec_id"]: (r["cell"], list(r["codes"]), r["vhat_sq"]) for r in rows
        }

    want_r = cell_codes_vhat(reference_residual_encode(emb, rbooks, cents).collect())
    got_r = cell_codes_vhat(batch(emb, rbooks, cents, residual=True))
    assert got_r == want_r and len(got_r) == len(ids)
    assert got_r == cell_codes_vhat(
        ivf_pq_encode_residual(emb, rbooks, cents).collect()
    )

    # exact ties (values rounded to 0.1, codes copied from data rows, two
    # of them twice; on these rows a BLAS dot picks another code than the
    # fold 7 times), a -0.0 component and +-inf components: inf * 0.0 and
    # inf - inf make NaN scores, which array_sort orders after every number
    # (row 4 scores [nan, inf, ...]: code 1 wins, not the first NaN)
    rng = np.random.RandomState(2)
    xt = np.round(rng.uniform(-0.3, 0.3, (300, 8)), 1)
    xt[10:16, 0] = np.abs(xt[10:16, 0])
    xt[10, 0] = 0.0
    xt[0, 0], xt[1, 3], xt[2, 5], xt[4, 0] = -0.0, np.inf, -np.inf, -np.inf
    xt[3, :2] = [np.inf, -np.inf]
    tbooks = [
        [list(map(float, xt[i, s * 4 : (s + 1) * 4])) for i in [10, 11, 12, 13, 14, 15, 11, 10]]
        for s in range(2)
    ]
    edge = _vec_df(spark, range(300), xt)
    a = {r[0]: (list(r[1]), r[2]) for r in reference_pq_encode(edge, tbooks).collect()}
    b = {r[0]: (list(r[1]), r[2]) for r in batch(edge, tbooks)}
    assert a == b and len(a) == 300
