"""OPQ — optimized product quantization: a learned orthogonal rotation
ahead of PQ (public technique: Ge, He, Ke, Sun, "Optimized Product
Quantization", CVPR 2013 / TPAMI 2014; the FAISS ``OPQMatrix`` pre-step).

PQ's per-subspace codebooks assume the subspaces are independent and
equally energetic; real embedding corpora concentrate variance in a few
correlated directions, so contiguous subvector splits waste code bits.
OPQ learns an orthogonal d×d rotation R minimizing the quantization
error of PQ applied to R·x, alternating two closed-form steps on a
bounded sample (Ge et al. §4.2, the non-parametric solution):

1. codebooks ← per-subspace Lloyd on the rotated sample (the existing
   ``_fit_pq_on_matrix`` kernel — same determinism rules), then
2. R ← orthogonal Procrustes against the reconstructions: with X the
   raw sample and X̂ the decoded rotated sample, R = V·Uᵀ from the SVD
   U·S·Vᵀ = X̂ᵀ·X (driver-side d×d math, never corpus-sized).

Spark-first shape:

- **fit** (``fit_opq``): everything above runs on the hash-ranked
  bounded sample ``pq.fit_pq_codebooks`` already uses; the corpus never
  leaves the executors. Deterministic: seeded init rotation (QR of a
  seeded Gaussian, sign-fixed), fixed iteration counts, first-minimum
  assignment ties.
- **rotate**: every rotation is ``ivf.fold_dots``, one left fold per
  output coordinate over ascending positions from 0.0: in Spark as
  ``rotate_vectors`` (the ``ivf.fold_col`` Arrow UDF, map-only, no
  literal matrix in the plan) for the vectors the fits read, as the
  first step of ``pq.pq_encode_batch``'s one Arrow pass on an OPQ index
  (builds, appends, refits), and driver-side in
  ``rotate_queries_collected`` and ``pq.index_drift_report``. All agree
  bit for bit with a SQL ``aggregate`` fold and with DuckDB's
  ``list_dot_product``.
- **encode / search**: the rotated vectors feed the UNCHANGED PQ
  machinery (``pq_encode_batch`` with the rotation in its meta /
  ``pq_topk``); queries are rotated driver-side inside their LUT build,
  so serving reads the same 8-byte codes. OPQ changes WHERE the code
  bits go, not how many there are.

Measured (tools/ann_recall.py 'opq' section, ANN_RECALL.json): the gain
appears exactly where theory predicts — anisotropic/correlated corpora
— and vanishes on the near-uniform fixture (an isotropic distribution
has no bad axis for contiguous splits; any rotation is as good).

Reference parity: the reference pipeline has no vector stage
(reference main.py:1); OPQ extends the X3 ANN family (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import fold_col, fold_dots, probe_assignments
from .pq import _collect_fit_sample, _fit_pq_on_matrix


def _seeded_rotation(d: int, seed: int):
    """Deterministic random orthogonal init: QR of a seeded standard
    Gaussian with the R-diagonal sign fix (makes Q unique — raw QR signs
    are implementation-defined)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    q, r = np.linalg.qr(rng.standard_normal((d, d)))
    return q * np.sign(np.diag(r))


def _decode(codes, cb):
    """Reconstruct an (n × d) matrix from per-subspace code ids."""
    import numpy as np

    m, ncodes, subdim = cb.shape
    return np.concatenate(
        [cb[s, codes[:, s]] for s in range(m)], axis=1
    )


def _encode_matrix(x, cb):
    """Per-subspace nearest-code ids for a local matrix — the numpy twin
    of ``pq_encode``: ``ivf.probe_assignments`` on each subspace."""
    import numpy as np

    m, ncodes, subdim = cb.shape
    return np.stack(
        [
            probe_assignments(x[:, s * subdim : (s + 1) * subdim], cb[s], 1)[:, 0]
            for s in range(m)
        ],
        axis=1,
    )


def fit_opq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 16,
    ncodes: int = 16,
    iters: int = 5,
    opq_iters: int = 10,
    seed: int = 42,
    fit_sample_n: int | None = 100_000,
) -> tuple[list[list[float]], list]:
    """(rotation R as d×d row lists, codebooks over R·x) — drop-in ahead
    of the existing PQ fit API: ``pq_encode(rotate_vectors(df, R), books)``
    and rotate queries before their LUTs. The training quantization error
    is non-increasing across the returned alternating iterations (both
    sub-steps are optimal for the other held fixed, Ge et al. Lemma 1/2);
    if a numerical plateau makes a step epsilon-worse, that candidate is
    discarded and the previous (rotation, codebooks) pair is returned."""
    import numpy as np

    x = _collect_fit_sample(df, vec_col, id_col, seed, fit_sample_n)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    r = _seeded_rotation(d, seed)
    books = None
    prev_err = None
    prev_pair = None  # (rotation, codebooks) of the last non-increasing step
    for _ in range(max(1, opq_iters)):
        xr = x @ r.T
        books = np.asarray(
            _fit_pq_on_matrix(xr, m, ncodes, iters), dtype=np.float64
        )
        xhat = _decode(_encode_matrix(xr, books), books)
        err = float(((xr - xhat) ** 2).sum())
        if prev_err is not None and err > prev_err * (1 + 1e-9):
            # Numerical plateau: the current pair measured worse — discard
            # it and return the previous optimum, honoring the docstring's
            # non-increasing-error contract.
            r, books = prev_pair
            break
        prev_err = err
        prev_pair = (r.copy(), books)
        # Procrustes: min_R ||X·Rᵀ − X̂||² over orthogonal R
        u, _, vt = np.linalg.svd(xhat.T @ x)
        r = u @ vt
    return (
        [[float(v) for v in row] for row in r],
        [[[float(v) for v in c] for c in cb] for cb in books],
    )


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "rotated",
) -> DataFrame:
    """Append ``out_col`` = R·x: one scalar Arrow UDF over ``vec_col``
    (``ivf.fold_col`` — the ``fold_dots`` fold, no literal matrix in the
    plan, zero shuffles). Rows of the wrong width get NULL (enrichment,
    not filter); a NULL element gives d NULLs."""
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the input")
    if any(len(row) != len(rotation) for row in rotation):
        raise ValueError("rotation must be square d×d")
    return df.withColumn(out_col, fold_col(vec_col, rotation))


def rotate_queries_collected(
    queries: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(rotated queries, raw sidecar) — the driver-side query-rotation
    seam shared by ``opq_topk`` and the rotated maintained-index search
    (``pq.ivf_pq_topk(rotation=...)``). Queries are bounded and collected
    for their LUTs anyway; rotation is ``ivf.fold_dots`` (left-fold dots,
    not numpy matmul) to match SQL ``list_dot_product`` and
    ``rotate_vectors`` bit-for-bit — what lets an
    at-rest OPQ index carry a DuckDB oracle. The raw sidecar
    ``(query_id, __raw_qv__)`` lets a rerank tail swap back to raw-space
    vectors (cosine is rotation-invariant, so raw-space rerank against
    the raw corpus is exact with no corpus re-rotation)."""
    import numpy as np
    from pyspark.sql import types as T

    from .ivf import well_formed_vectors
    from .similarity import _as_double

    d = len(rotation)
    rows = (
        well_formed_vectors(queries, vec_col)
        .select(id_col, _as_double(vec_col).alias("__qv__"))
        .collect()
    )
    spark = queries.sparkSession
    id_dtype = queries.schema[id_col].dataType
    kept = [r for r in rows if len(r["__qv__"]) == d]
    rotated_qv = fold_dots(
        np.reshape([r["__qv__"] for r in kept], (len(kept), d)), rotation
    )
    rotated = spark.createDataFrame(
        [(r[id_col], rv.tolist()) for r, rv in zip(kept, rotated_qv)],
        f"`{id_col}` {id_dtype.simpleString()}, `{vec_col}` array<double>",
    )
    raw_df = spark.createDataFrame(
        [(r[id_col], [float(v) for v in r["__qv__"]]) for r in kept],
        T.StructType(
            [
                T.StructField("query_id", id_dtype),
                T.StructField("__raw_qv__", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    return rotated, raw_df


def opq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    rotation: list[list[float]],
    codebooks,
    k: int = 5,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over OPQ codes: queries are rotated DRIVER-side (they're
    collected for their LUTs anyway — bounded), then the unchanged
    ``pq_topk`` tail runs. ``corpus_codes`` must be ``pq_encode`` output
    over the ROTATED corpus; ``rerank`` re-ranks against the RAW corpus
    with exact cosine (rotation preserves inner products, so raw-space
    cosine is the same answer rotated-space cosine would give —
    orthogonality means no re-rotation of the corpus is ever needed)."""
    if rerank is not None and corpus is None:
        # same guard as pq_topk — the custom rerank tail below would
        # otherwise crash opaquely on the None corpus
        raise ValueError("rerank requires the original corpus DataFrame")
    from .pq import pq_topk

    spark = corpus_codes.sparkSession
    rotated, raw_df = rotate_queries_collected(
        queries, rotation, id_col=id_col, vec_col=vec_col
    )
    if rerank is None:
        return pq_topk(
            corpus_codes, rotated, codebooks, k=k,
            id_col=id_col, vec_col=vec_col,
        )
    # exact re-rank in RAW space (cosine is rotation-invariant): reuse the
    # pq_topk ADC tail for the shortlist, then join true vectors
    from .pq import _adc_rank_and_rerank, _check_codebooks, _collect_query_luts, _lut_schema, _assert_size

    m, _, _ = _check_codebooks(codebooks)
    data, id_dtype = _collect_query_luts(rotated, codebooks, id_col, vec_col)
    qdf = spark.createDataFrame(data, _lut_schema(id_dtype))
    codes2 = _assert_size(corpus_codes, "codes", m, "opq_topk")
    cand = codes2.select(
        F.col(id_col).alias("neighbor_id"), "codes", "vhat_sq"
    ).join(F.broadcast(qdf), F.col("query_id") != F.col("neighbor_id"))
    # swap the LUT row's qv back to the RAW query vector so the exact
    # rerank computes raw-space cosine against the raw corpus
    cand = cand.drop("__qv__").join(F.broadcast(raw_df), "query_id").withColumnRenamed(
        "__raw_qv__", "__qv__"
    )
    return _adc_rank_and_rerank(cand, k, rerank, corpus, id_col, vec_col)
