"""Distributed PCA (operators/pca.py): moments/covariance vs numpy, eigen
parity vs numpy.linalg.eigh, declarative projection vs the numpy matmul,
partitioning-independence, reconstruction-error monotonicity, guards."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
    PCAModel,
    covariance_matrix,
    embedding_moments,
    fit_pca,
    project_pca,
)

D = 12
N = 400


@pytest.fixture(scope="module")
def xmat():
    rng = np.random.default_rng(11)
    # anisotropic: a few dominant directions so eigenvalues are well-separated
    basis = rng.normal(size=(D, D))
    scales = np.array([5.0, 3.0, 2.0, 1.0] + [0.3] * (D - 4))
    x = rng.normal(size=(N, D)) * scales @ basis.T + rng.normal(2.0, 0.1, D)
    return x


@pytest.fixture(scope="module")
def vec_df(spark, xmat):
    rows = [(i, [float(v) for v in xmat[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)


def test_covariance_matches_numpy(spark, vec_df, xmat):
    got = {
        (r["dim_i"], r["dim_j"]): (r["n"], r["cov"])
        for r in covariance_matrix(vec_df).collect()
    }
    want = np.cov(xmat, rowvar=False, ddof=1)
    assert len(got) == D * (D + 1) // 2
    for (i, j), (n, cov) in got.items():
        assert i <= j and n == N
        assert cov == pytest.approx(want[i, j], rel=1e-10, abs=1e-12)


def test_moments_ignore_malformed_rows(spark, xmat):
    rows = [(i, [float(v) for v in xmat[i]]) for i in range(N)]
    rows += [(N, None), (N + 1, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    firsts = embedding_moments(df).filter(F.col("dim_j") == -1).collect()
    assert {r["n"] for r in firsts} == {N}


def test_fit_matches_numpy_eigh(vec_df, xmat):
    k = 4
    m = fit_pca(vec_df, k=k)
    cov = np.cov(xmat, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    assert m.n_rows == N
    assert np.allclose(m.mean, xmat.mean(axis=0), rtol=1e-10)
    assert np.allclose(m.explained_variance, evals[order], rtol=1e-9)
    # variance-descending, ratio against the trace
    assert sorted(m.explained_variance, reverse=True) == m.explained_variance
    assert np.allclose(
        m.explained_variance_ratio, evals[order] / np.trace(cov), rtol=1e-9
    )
    w = np.array(m.components)
    assert np.allclose(w @ w.T, np.eye(k), atol=1e-9)  # orthonormal rows
    for c in range(k):
        ref = evecs[:, order[c]]
        # sign convention: largest-|loading| coordinate positive
        j = int(np.argmax(np.abs(w[c])))
        assert w[c][j] > 0
        assert np.allclose(np.abs(w[c] @ ref), 1.0, atol=1e-9)


def test_fit_is_partitioning_independent(vec_df):
    a = fit_pca(vec_df.repartition(1), k=3)
    b = fit_pca(vec_df.repartition(13), k=3)
    assert np.allclose(a.components, b.components, atol=1e-9)
    assert np.allclose(a.mean, b.mean, atol=1e-12)


def test_projection_matches_numpy(vec_df, xmat):
    k = 4
    m = fit_pca(vec_df, k=k)
    out = project_pca(vec_df, m).select("vec_id", "pc").collect()
    w = np.array(m.components)
    want = (xmat - np.array(m.mean)) @ w.T
    got = {r["vec_id"]: r["pc"] for r in out}
    assert len(got) == N
    for i in range(N):
        assert np.allclose(got[i], want[i], atol=1e-9)


def test_projection_is_map_only_and_jvm_side(spark, vec_df, xmat):
    m = fit_pca(vec_df, k=2)
    # plan over a plain scan (vec_df's own repartition would contribute an
    # Exchange that is not the projection's)
    rows = [(i, [float(v) for v in xmat[i]]) for i in range(N)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = project_pca(base, m)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffles
    # one Arrow batch pass holds the whole fold; no row-at-a-time Python
    assert plan.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in plan


def test_projection_nulls_malformed_rows(spark, xmat):
    m_rows = [(i, [float(v) for v in xmat[i]]) for i in range(50)]
    df = spark.createDataFrame(
        m_rows + [(999, None), (998, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    m = fit_pca(df.filter(F.col("vec_id") < 50), k=2)
    out = {r["vec_id"]: r["pc"] for r in project_pca(df, m).collect()}
    assert out[999] is None and out[998] is None  # wrong width → NULL, not dropped
    assert out[0] is not None and len(out) == 52


def test_reconstruction_error_decreases_with_k(vec_df, xmat):
    errs = []
    for k in (1, 3, 6, D):
        m = fit_pca(vec_df, k=k)
        w = np.array(m.components)
        c = xmat - np.array(m.mean)
        errs.append(float(((c - (c @ w.T) @ w) ** 2).sum()))
    assert errs == sorted(errs, reverse=True)
    assert errs[-1] == pytest.approx(0.0, abs=1e-12)  # k=d reconstructs exactly


def test_fit_guards(spark, vec_df):
    with pytest.raises(ValueError, match="max_dim"):
        fit_pca(vec_df, k=2, max_dim=4)
    with pytest.raises(ValueError, match="1 <= k"):
        fit_pca(vec_df, k=0)
    with pytest.raises(ValueError, match="1 <= k"):
        fit_pca(vec_df, k=D + 1)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        fit_pca(empty, k=2)
    one = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=">= 2"):
        fit_pca(one, k=1)


def test_ragged_widths_raise(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="(ragged|inconsistent)"):
        embedding_moments(df).collect()


def _cross_partition_ragged_df(spark, tmp_path):
    """32 3-d vectors in one parquet file, 32 2-d vectors in another:
    every single Arrow batch is internally consistent (Catalyst would
    collapse a union of LocalRelations into one batch, so files are the
    honest reproduction), and the per-batch width check passes — only the
    cross-partition guards can catch this."""
    path = str(tmp_path / "ragged_corpus")
    spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(32)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(100 + i, [4.0, 5.0]) for i in range(32)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(path)
    return spark.read.parquet(path)


def test_cross_partition_ragged_widths_raise_in_fit(spark, tmp_path):
    with pytest.raises(Exception, match="mixed vector widths"):
        fit_pca(_cross_partition_ragged_df(spark, tmp_path), k=2)


def test_cross_partition_ragged_widths_raise_in_covariance(spark, tmp_path):
    with pytest.raises(Exception, match="mixed vector widths"):
        covariance_matrix(_cross_partition_ragged_df(spark, tmp_path)).collect()


def test_fit_rejects_partial_moment_rows():
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        model_from_moments,
    )

    # d=2 needs d(d+3)/2 = 5 rows; drop the (0,1) pair row
    rows = [
        {"dim_i": 0, "dim_j": -1, "n": 10, "s": 1.0},
        {"dim_i": 1, "dim_j": -1, "n": 10, "s": 2.0},
        {"dim_i": 0, "dim_j": 0, "n": 0, "s": 3.0},
        {"dim_i": 1, "dim_j": 1, "n": 0, "s": 4.0},
    ]
    with pytest.raises(ValueError, match="moment rows"):
        model_from_moments(rows, k=1)


def test_covariance_single_vector_gives_null_not_nan(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    rows = covariance_matrix(df).collect()
    # n - ddof == 0: DuckDB covar_samp returns NULL; try_divide matches
    assert len(rows) == 6 and all(r["cov"] is None for r in rows)


def test_project_pca_refuses_existing_out_col(spark, vec_df, xmat):
    m = fit_pca(vec_df, k=2)
    with pytest.raises(ValueError, match="already exists"):
        project_pca(vec_df.withColumn("pc", F.lit(1)), m)
    # a dunder-named user column passes through untouched
    clash = vec_df.withColumn("__pca_centered__", F.lit(7))
    out = project_pca(clash, m)
    assert "__pca_centered__" in out.columns
    assert out.select("__pca_centered__").distinct().collect()[0][0] == 7


def test_model_is_plain_data():
    m = PCAModel(
        mean=[0.0], components=[[1.0]], explained_variance=[1.0],
        explained_variance_ratio=[1.0], n_rows=2,
    )
    assert m.components[0][0] == 1.0


def test_whitened_scores_have_unit_variance(vec_df, xmat):
    k = 3
    m = fit_pca(vec_df, k=k)
    got = project_pca(vec_df, m, whiten=True).select("pc").collect()
    scores = np.array([r["pc"] for r in got])
    # sample variance of each whitened component ≈ 1 (ddof=1 exactly)
    assert np.allclose(scores.var(axis=0, ddof=1), np.ones(k), rtol=1e-9)
    # and equals the numpy whitening
    w = np.array(m.components) / np.sqrt(np.array(m.explained_variance))[:, None]
    want = (xmat - np.array(m.mean)) @ w.T
    assert np.allclose(np.sort(scores[:, 0]), np.sort(want[:, 0]), atol=1e-9)


def test_whiten_skips_zero_variance_components(spark):
    # rank-1 data: component 2 has ~zero eigenvalue; whiten must not blow up
    rows = [(i, [float(i), 2.0 * i]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m = fit_pca(df, k=2)
    assert m.explained_variance[1] == pytest.approx(0.0, abs=1e-9)
    got = project_pca(df, m, whiten=True).select("pc").collect()
    assert all(np.isfinite(r["pc"]).all() for r in got)


def test_model_roundtrip_and_cli(spark, vec_df, xmat, tmp_path, capsys):
    import json as _json

    from gdelt_2_0_event_database_pipeline_spark.cli import main as cli_main
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        read_pca_model,
        write_pca_model,
    )

    m = fit_pca(vec_df, k=3)
    mp = str(tmp_path / "model")
    write_pca_model(spark, m, mp)
    back = read_pca_model(spark, mp)
    assert back == m  # frozen dataclass equality: exact roundtrip

    src = str(tmp_path / "src")
    vec_df.write.parquet(src)
    out = str(tmp_path / "reduced")
    rc = cli_main([
        "pca", "--in", src, "--out", out, "-k", "3",
        "--model-out", str(tmp_path / "model2"),
    ])
    assert rc in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows"] == N and payload["k"] == 3
    assert abs(sum(payload["explained_variance_ratio"])
               - sum(m.explained_variance_ratio)) < 1e-4
    red = spark.read.parquet(out)
    assert "pc" in red.columns and red.count() == N
    # --model-in path projects without fitting
    out2 = str(tmp_path / "reduced2")
    rc = cli_main(["pca", "--in", src, "--out", out2, "--model-in", mp])
    assert rc in (0, None)
    a = {r["vec_id"]: r["pc"] for r in red.collect()}
    b = {r["vec_id"]: r["pc"] for r in spark.read.parquet(out2).collect()}
    assert all(np.allclose(a[i], b[i], atol=1e-12) for i in a)


def test_read_model_rejects_corrupt(spark, vec_df, tmp_path):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        read_pca_model,
    )

    p = str(tmp_path / "bad")
    spark.createDataFrame([("x",)], "junk string").coalesce(1).write.json(p)
    with pytest.raises(ValueError, match="corrupt|null"):
        read_pca_model(spark, p)


# --- seeded sparse random projection (JL) + correlation matrix ------------


def test_jl_matrix_deterministic_and_sparse():
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import jl_matrix

    a = jl_matrix(64, 16, seed=7)
    b = jl_matrix(64, 16, seed=7)
    assert a == b
    s = (3.0 / 16) ** 0.5
    flat = [v for row in a for v in row]
    assert set(flat) <= {s, -s, 0.0}
    nz = sum(1 for v in flat if v != 0.0)
    assert 0.2 < nz / len(flat) < 0.5  # E[nonzero] = 1/3


def test_random_projection_expr_matches_arrow_and_numpy(spark, vec_df, xmat):
    """The projection equals the SQL aggregate fold bit for bit, and the
    numpy matmul to float tolerance."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        jl_matrix,
        random_projection,
    )
    from tests.ann_reference import reference_fold

    k = 5
    rows = reference_fold(
        random_projection(vec_df, k, D), "embedding", jl_matrix(D, k)
    ).collect()
    want = xmat @ np.array(jl_matrix(D, k)).T
    assert len(rows) == N
    for r in rows:
        assert r["rp"] == r["__ref__"]
        assert np.allclose(r["rp"], want[r["vec_id"]], atol=1e-9)


def test_random_projection_keeps_pass_through_nans_past_old_ceiling(spark):
    """d·k above the old 65,536-cell ceiling (where a pandas pass used to
    take over): the other columns never leave the JVM, so a NaN double
    stays NaN (not NULL), and the projection still equals the SQL fold —
    NaN where the fold gives NaN."""
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        jl_matrix,
        random_projection,
    )
    from tests.ann_reference import reference_fold

    d, k = 64, 1025
    rng = np.random.default_rng(4)
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (0, [nan] + [1.0] * (d - 1), nan),
            (1, [float(v) for v in rng.normal(size=d)], nan),
            (2, [float(v) for v in rng.normal(size=d)], 2.5),
        ],
        "vec_id long, embedding array<double>, x double",
    )
    rows = {
        r["vec_id"]: r
        for r in reference_fold(
            random_projection(df, k, d), "embedding", jl_matrix(d, k)
        ).collect()
    }
    assert np.isnan(rows[0]["x"]) and np.isnan(rows[1]["x"]) and rows[2]["x"] == 2.5
    assert rows[0]["embedding"][0] is not None and np.isnan(rows[0]["embedding"][0])
    for r in rows.values():
        got, ref = np.array(r["rp"]), np.array(r["__ref__"])
        assert got.shape == (k,)
        assert np.array_equal(got, ref, equal_nan=True)
    assert np.isnan(rows[0]["rp"]).any()


def test_random_projection_preserves_norms_on_average(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        random_projection,
    )

    rng = np.random.default_rng(3)
    x = rng.normal(size=(200, 64))
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: np.array(r["rp"]) for r in
           random_projection(df, 32, 64).collect()}
    dist = [abs(np.dot(got[i], got[i]) / np.dot(x[i], x[i]) - 1.0)
            for i in range(200)]
    # E[|Rx|^2] = |x|^2; at k=32 the relative distortion concentrates
    assert float(np.median(dist)) < 0.3
    assert float(np.mean(dist)) < 0.4


def test_random_projection_null_handling_both_paths(spark, xmat):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        random_projection,
    )

    rows = [(i, [float(v) for v in xmat[i]]) for i in range(20)]
    df = spark.createDataFrame(
        rows + [(999, None), (998, [1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["rp"] for r in random_projection(df, 4, D).collect()}
    assert out[999] is None and out[998] is None
    assert out[0] is not None and len(out) == 22


def test_random_projection_expr_plan_is_jvm_map_only(spark, xmat):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        random_projection,
    )

    rows = [(i, [float(v) for v in xmat[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = random_projection(df, 4, D)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in plan


def test_correlation_matrix_matches_numpy(spark, vec_df, xmat):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        correlation_matrix,
    )

    got = {(r["dim_i"], r["dim_j"]): r["corr"]
           for r in correlation_matrix(vec_df).collect()}
    want = np.corrcoef(xmat, rowvar=False)
    assert len(got) == D * (D + 1) // 2
    for (i, j), c in got.items():
        assert c == pytest.approx(want[i, j], abs=1e-10)
    assert all(got[(i, i)] == pytest.approx(1.0, abs=1e-12) for i in range(D))


def test_correlation_matrix_nulls_dead_dimensions(spark):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        correlation_matrix,
    )

    rows = [(i, [float(i), 5.0]) for i in range(30)]  # dim 1 is constant
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["dim_i"], r["dim_j"]): r["corr"]
           for r in correlation_matrix(df).collect()}
    assert got[(0, 0)] == pytest.approx(1.0)
    assert got[(0, 1)] is None and got[(1, 1)] is None


def test_random_projection_refuses_existing_out_col(spark, xmat):
    from gdelt_2_0_event_database_pipeline_spark.operators.pca import (
        random_projection,
    )

    df = spark.createDataFrame(
        [(0, [float(v) for v in xmat[0]], "x")],
        "vec_id long, embedding array<double>, rp string",
    )
    with pytest.raises(ValueError, match="already exists"):
        random_projection(df, 4, D)
