"""Distributed PCA over embedding columns (SURVEY.md §2.10 X3 family —
dimensionality reduction ahead of clustering / ANN indexing, the standard
pre-step FAISS calls OPQ/PCA transforms; public technique: sample
covariance + eigendecomposition, e.g. Halko et al. 2011 §1, scikit-learn
``PCA``).

Spark-first shape — the 100 TB contract:

- **moments** (``embedding_moments``): the ONLY pass over the data. One
  Arrow-batched ``mapInPandas`` stage computes per-batch first moments and
  the upper-triangle Gram matrix with a single BLAS ``X.T @ X`` per batch,
  emitting **O(d²) rows per batch regardless of row count** (d=64 →
  2 080 pair rows + 64 moment rows). The shuffle that follows carries
  those tiny partials, never vectors — at 100 TB the exchanged bytes are
  ~(batches × d²) doubles, and the grouped sum is map-side combinable.
  A declarative posexplode twin would shuffle d²·n rows pre-combine and
  burn d² codegen expressions per row; the BLAS seam is the scale path.
- **fit** (``fit_pca``): collects the d(d+3)/2 moment rows (bounded
  metadata, the IVF-centroid discipline — guarded by ``max_dim``) and runs
  the d×d symmetric eigendecomposition on the driver; d is embedding
  width, never corpus size. Component signs are fixed deterministically
  (largest-|loading| coordinate made positive) so the model is stable
  across partitionings and numpy versions.
- **project** (``project_pca``, and the fit-free ``random_projection``):
  one scalar Arrow UDF (``ivf.fold_col``) centers each vector and folds
  its k dots with the component rows held in the UDF closure. Map-only,
  zero shuffles, no literal matrix in the plan; only the vector column
  crosses into Python. Survives any corpus size by construction.

Oracle story: the distributed part (covariance) is exact SQL —
``q_pca_cov`` replays it in DuckDB via ``covar_samp`` over the exploded
self-join and hash-matches at 8dp (the registry's float-aggregate rule).
The eigen step is bounded driver math pinned against ``numpy.linalg.eigh``
in ``tests/test_pca.py``; projection is pinned against the numpy matmul
and, bit for bit, against the SQL fold of ``tests/ann_reference.py``.

Reference parity: the reference pipeline (scraping → conversion →
filtering → sampling, reference main.py:1) has no vector stage; PCA is an
extension operator in the same family as ``q_dim_variance`` (its diagonal
is exactly that query's variance column).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import read_json_rows, write_json_rows
from .ivf import fold_col, well_formed_vectors

#: driver-side eigendecomposition is O(max_dim³) time / O(max_dim²) memory;
#: 1024 keeps both trivial (<1 s, 8 MiB) while covering every common
#: embedding width. Raise consciously if you truly have wider vectors.
MAX_FIT_DIM = 1024

_MOMENT_SCHEMA = "dim_i int, dim_j int, n bigint, s double"


def embedding_moments(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """First and second raw moments of a vector column in ONE data pass.

    Output (grouped, tiny): ``dim_j == -1`` rows carry ``(dim_i, n, s =
    Σ x_i)`` — first moments and the row count; ``dim_j >= dim_i`` rows
    carry ``(s = Σ x_i·x_j)`` — the upper-triangle raw Gram. Per Arrow
    batch the worker does one float64 ``X.T @ X`` (BLAS) and one column
    sum, so the stage's output is O(d²) rows per batch independent of
    batch row count; the grouped sum downstream is map-side combinable.

    Mixed vector widths raise inside the worker (a silent pad/truncate
    would corrupt the covariance).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            col = pdf[vec_col]
            if col.empty:
                continue
            vals = col.tolist()
            widths = {len(v) for v in vals}
            if len(widths) != 1:
                raise ValueError(
                    f"pca moments: inconsistent vector widths in {vec_col!r} "
                    f"(ragged batch: widths {sorted(widths)[:5]})"
                )
            x = np.array(vals, dtype=np.float64)
            d = x.shape[1]
            gram = x.T @ x
            iu, ju = np.triu_indices(d)
            first = pd.DataFrame(
                {
                    "dim_i": np.arange(d, dtype=np.int32),
                    "dim_j": np.full(d, -1, dtype=np.int32),
                    "n": np.full(d, x.shape[0], dtype=np.int64),
                    "s": x.sum(axis=0),
                }
            )
            pairs = pd.DataFrame(
                {
                    "dim_i": iu.astype(np.int32),
                    "dim_j": ju.astype(np.int32),
                    "n": np.zeros(len(iu), dtype=np.int64),
                    "s": gram[iu, ju],
                }
            )
            yield pd.concat([first, pairs], ignore_index=True)

    vecs = well_formed_vectors(df, vec_col).select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    return (
        vecs.mapInPandas(gen, _MOMENT_SCHEMA)
        .groupBy("dim_i", "dim_j")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )


def covariance_matrix(
    df: DataFrame, vec_col: str = "embedding", ddof: int = 1
) -> DataFrame:
    """(dim_i, dim_j, n, cov) for the upper triangle (dim_i <= dim_j) of the
    sample covariance matrix: ``cov = (Σx_i·x_j − Σx_i·Σx_j / n) / (n −
    ddof)``. Everything after the one-pass moments runs on d(d+3)/2 rows —
    the joins below are broadcast by size. ``n`` is constant across rows
    (well-formed vectors only) and kept as a column for the oracle twin.
    """
    mom = embedding_moments(df, vec_col)
    firsts = mom.filter(F.col("dim_j") == -1).select(
        F.col("dim_i").alias("dim"),
        F.col("n").alias("n_rows"),
        F.col("s").alias("s1"),
    )
    pairs = mom.filter(F.col("dim_j") >= 0).select("dim_i", "dim_j", "s")
    fi = firsts.select(
        F.col("dim").alias("dim_i"),
        F.col("n_rows"),
        F.col("s1").alias("s_i"),
    )
    fj = firsts.select(
        F.col("dim").alias("dim_j"),
        F.col("n_rows").alias("n_rows_j"),
        F.col("s1").alias("s_j"),
    )
    # mixed-width guard: the per-batch raggedness check in embedding_moments
    # cannot see a corpus mixing widths ACROSS batches/files (32-d and 64-d
    # in different partitions); there the per-dim row counts disagree, and
    # any mixed corpus always yields at least one (low_dim, high_dim) pair
    # whose two counts differ. Guarding n_i == n_j per pair-row rides the
    # existing broadcast joins — no extra exchange. The guard is folded into
    # BOTH output columns (`n` and the divisor inside `cov`): a consumer
    # that selects only `cov` lets Catalyst prune `n`, so the guard must
    # live inside `cov` itself or a mixed-width corpus would silently
    # produce wrong cross-width covariances.
    n_guarded = F.when(
        F.col("n_rows") == F.col("n_rows_j"), F.col("n_rows")
    ).otherwise(
        F.raise_error(
            F.lit(
                "pca covariance: mixed vector widths across partitions/files "
                f"in {vec_col!r} (per-dim row counts disagree)"
            )
        )
    )
    out = (
        pairs.join(F.broadcast(fi), "dim_i")
        .join(F.broadcast(fj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            n_guarded.alias("n"),
            # try_divide: a single-vector corpus (n - ddof == 0) yields NULL
            # cov — matching DuckDB covar_samp — instead of NaN/Infinity
            F.try_divide(
                F.col("s") - F.col("s_i") * F.col("s_j") / n_guarded,
                n_guarded - F.lit(ddof),
            ).alias("cov"),
        )
    )
    return out


@dataclass(frozen=True)
class PCAModel:
    """Fitted PCA: ``components[c][i]`` is the loading of input dim i on
    component c (rows orthonormal, variance-descending, deterministic
    sign); ``mean`` is the fitted center; ``explained_variance`` the top-k
    eigenvalues; ``explained_variance_ratio`` their share of total
    variance (trace), not of the retained k."""

    mean: list[float]
    components: list[list[float]]
    explained_variance: list[float]
    explained_variance_ratio: list[float]
    n_rows: int


def fit_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_dim: int = MAX_FIT_DIM,
) -> PCAModel:
    """Fit top-``k`` principal components. One distributed pass (the
    moments job); the collect is d(d+3)/2 rows of doubles — bounded
    metadata, enforced by ``max_dim`` (the eigen step is O(d³) driver
    math, never corpus-sized). Signs fixed so each component's
    largest-|loading| coordinate is positive — repartitioning the input
    cannot flip a component."""
    return model_from_moments(embedding_moments(df, vec_col).collect(), k, max_dim)


def model_from_moments(
    rows, k: int, max_dim: int = MAX_FIT_DIM
) -> PCAModel:
    """Fit from collected :func:`embedding_moments` rows — the shared
    back half of :func:`fit_pca` and the streaming-maintained path
    (``streaming/moments.py``), where the moment state lives at rest and
    a model refresh costs a KB-sized read instead of a corpus scan."""
    import numpy as np

    if not rows:
        raise ValueError("cannot fit PCA on an empty/degenerate corpus")
    firsts = {r["dim_i"]: r for r in rows if r["dim_j"] == -1}
    d = len(firsts)
    if sorted(firsts) != list(range(d)):
        raise ValueError(f"inconsistent vector dimensions: got dims {sorted(firsts)[:5]}…")
    # cross-partition raggedness: embedding_moments raises on a ragged
    # single batch, but 32-d and 64-d vectors in DIFFERENT files pass that
    # check and land here with per-dim n disagreeing (low dims counted by
    # both widths, high dims only by the wide one) — the same invariant
    # streaming merge_moments_batch enforces.
    ns = {int(r["n"]) for r in rows if r["dim_j"] == -1}
    if len(ns) != 1:
        raise ValueError(
            "pca fit: mixed vector widths across partitions/files "
            f"(per-dim row counts disagree: {sorted(ns)[:5]}…)"
        )
    expected = d * (d + 3) // 2
    if len(rows) != expected:
        raise ValueError(
            f"pca fit: expected d(d+3)/2 = {expected} moment rows for d={d}, "
            f"got {len(rows)} (corrupt/partial moments)"
        )
    if d > max_dim:
        raise ValueError(
            f"pca fit is driver-side O(d³) on d={d} > max_dim={max_dim}; "
            "reduce width upstream or raise max_dim consciously"
        )
    n = int(firsts[0]["n"])
    if n < 2:
        raise ValueError(f"need >= 2 well-formed vectors to fit PCA, got {n}")
    if not 1 <= k <= d:
        raise ValueError(f"need 1 <= k <= d={d}, got k={k}")
    s1 = np.array([firsts[i]["s"] for i in range(d)], dtype=np.float64)
    gram = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        if r["dim_j"] >= 0:
            gram[r["dim_i"], r["dim_j"]] = r["s"]
            gram[r["dim_j"], r["dim_i"]] = r["s"]
    mean = s1 / n
    cov = (gram - np.outer(s1, s1) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending; columns are vectors
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    evals_k = np.maximum(evals[order], 0.0)
    # deterministic sign: the largest-|loading| coordinate (lowest index on
    # exact ties) is made positive.
    for c in range(k):
        j = int(np.argmax(np.abs(comps[c])))
        if comps[c, j] < 0:
            comps[c] = -comps[c]
    total_var = float(np.trace(cov))
    ratio = (evals_k / total_var) if total_var > 0 else np.zeros(k)
    return PCAModel(
        mean=[float(v) for v in mean],
        components=[[float(v) for v in row] for row in comps],
        explained_variance=[float(v) for v in evals_k],
        explained_variance_ratio=[float(v) for v in ratio],
        n_rows=n,
    )


def write_pca_model(spark, model: PCAModel, path: str, mode: str = "error") -> None:
    """Persist the fitted model as a one-row JSON dataset through the
    driver-side JSON codec (``util.write_json_rows`` — a Hadoop-FS file
    write, no Spark job; lands on whatever FS the session can write)."""
    write_json_rows(spark, path, [asdict(model)], mode=mode)


def read_pca_model(spark, path: str) -> PCAModel:
    rows = read_json_rows(spark, path)
    if len(rows) != 1:
        raise ValueError(f"expected exactly one PCA model row at {path}, got {len(rows)}")
    r = rows[0]
    names = ("mean", "components", "explained_variance",
             "explained_variance_ratio", "n_rows")
    if any(r.get(k) is None for k in names):
        raise ValueError(f"corrupt PCA model at {path}: null fields in {r}")
    d = len(r["mean"])
    if any(c is None or len(c) != d for c in r["components"]):
        raise ValueError(f"corrupt PCA model at {path}: component width != {d}")
    return PCAModel(
        mean=[float(v) for v in r["mean"]],
        components=[[float(v) for v in c] for c in r["components"]],
        explained_variance=[float(v) for v in r["explained_variance"]],
        explained_variance_ratio=[float(v) for v in r["explained_variance_ratio"]],
        n_rows=int(r["n_rows"]),
    )


def correlation_matrix(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(dim_i, dim_j, n, corr) upper triangle of the Pearson correlation
    matrix — ``cov_ij / √(cov_ii · cov_jj)`` derived from ONE
    :func:`covariance_matrix` pass (the diagonal joins back broadcast; no
    second data scan). Zero-variance dimensions yield NULL correlation
    (0/0), which is the honest answer for a dead dimension."""
    cov = covariance_matrix(df, vec_col)
    diag = cov.filter(F.col("dim_i") == F.col("dim_j")).select(
        F.col("dim_i").alias("dim"), F.col("cov").alias("var")
    )
    di = diag.select(F.col("dim").alias("dim_i"), F.col("var").alias("var_i"))
    dj = diag.select(F.col("dim").alias("dim_j"), F.col("var").alias("var_j"))
    return (
        cov.join(F.broadcast(di), "dim_i")
        .join(F.broadcast(dj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            "n",
            # try_divide: 0-variance dims give NULL under ANSI, not an error
            F.try_divide(
                F.col("cov"), F.sqrt(F.col("var_i") * F.col("var_j"))
            ).alias("corr"),
        )
    )


# ---------------------------------------------------------------------------
# Seeded sparse random projection (Johnson–Lindenstrauss; Achlioptas 2003's
# database-friendly {+1, 0, −1} construction, public method). The cheap
# alternative to PCA when no fit pass is affordable: no training, no model
# state — the matrix IS a hash formula, so any engine (and any future
# session) regenerates it bit-identically from (seed, d, k).
# ---------------------------------------------------------------------------

def jl_matrix(d: int, k: int, seed: int = 7) -> list[list[float]]:
    """The k×d sparse sign matrix, entry (j, i) drawn from
    ``md5("{seed}:{i}:{j}")``: first 40 hex bits mod 6 → +1 (0), −1 (1),
    0 (2..5) — P(±1) = 1/6 each, E[r²]=1/3 — scaled by √(3/k) so
    E[‖Rx‖²] = ‖x‖². Deterministic and engine-portable: Spark, DuckDB
    (``('0x' || substr(md5(s),1,10))::BIGINT % 6``) and Python hashlib
    produce the same matrix, which is what lets ``q_random_projection``
    carry a full value-hash oracle."""
    import hashlib
    import math

    # math.sqrt is the exactly-rounded IEEE sqrt — matches SQL sqrt() in
    # any engine, which is what keeps the oracle bit-compatible pre-round
    scale = math.sqrt(3.0 / k)
    out = []
    for j in range(k):
        row = []
        for i in range(d):
            u = int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:10], 16) % 6
            row.append(scale if u == 0 else -scale if u == 1 else 0.0)
        out.append(row)
    return out


def random_projection(
    df: DataFrame,
    k: int,
    d: int,
    vec_col: str = "embedding",
    out_col: str = "rp",
    seed: int = 7,
) -> DataFrame:
    """Append ``out_col: array<double>`` = the seeded JL projection of
    ``vec_col`` (width-``d`` rows; others get NULL, mirroring
    :func:`project_pca`): the k sign rows of :func:`jl_matrix` through
    ``ivf.fold_col``, one scalar Arrow UDF at every d·k. Map-only (zero
    shuffles); the other columns never leave the JVM."""
    if out_col in df.columns:
        # withColumn would silently replace it — refuse loudly
        raise ValueError(f"out_col {out_col!r} already exists in the input")
    return df.withColumn(out_col, fold_col(vec_col, jl_matrix(d, k, seed)))


def project_pca(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pc",
    whiten: bool = False,
) -> DataFrame:
    """Append ``out_col: array<double>`` = ``W @ (x − mean)``: one scalar
    Arrow UDF (``ivf.fold_col`` with the model mean as its center), zero
    shuffles — the projection survives any corpus size; rows failing
    ``well_formed_vectors`` or of another width get a NULL projection
    rather than being dropped (projection is an enrichment, not a
    filter).

    ``whiten=True`` scales each score by 1/√eigenvalue (unit component
    variance — the standard pre-step before isotropic-distance methods
    like k-means/IVF on skewed spectra); folded into the component rows,
    so the runtime plan is identical. Components with ~zero variance
    (< 1e-12) are left unwhitened rather than exploded."""
    if out_col in df.columns:
        # withColumn would silently replace it — refuse loudly, the
        # random_projection discipline
        raise ValueError(f"out_col {out_col!r} already exists in the input")
    rows = model.components
    if whiten:
        rows = [
            [x / ev**0.5 for x in w] if ev > 1e-12 else list(w)
            for w, ev in zip(rows, model.explained_variance)
        ]
    return df.withColumn(out_col, fold_col(vec_col, rows, center=model.mean))
