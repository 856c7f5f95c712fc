"""Product quantization (PQ) — compressed embeddings at rest + ADC top-k
(SURVEY.md §2.10 X3 scale path; round-8 verdict item 9, the standard
companion of the IVF index in ``ivf.py``).

Public algorithm: Jégou/Douze/Schmid, "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011). A dim-d vector is split into ``m``
contiguous subvectors; each subspace gets its own small k-means codebook
(``ncodes`` sub-centroids); a vector is stored as ``m`` small code ids.
At dim 64 / m=16 / ncodes=16 (the measured defaults) a vector is 16
4-bit codes = 8 bytes vs 256 bytes of float32 — **32× compression** —
and search never touches the original vectors until an (optional) exact
re-rank of a bounded shortlist. The m/ncodes split was CHOSEN from a
measured sweep on the near-uniform sf0.1 fixture (PQ's hard case,
ANN_RECALL.json "pq" section): at the same 8 bytes at rest,
m=8/ncodes=16 reaches only 0.80 recall@5 even at rerank=200 where
m=16/ncodes=16 — finer subspaces — measures 0.94 at rerank=100 and
0.96 at 200 (raw ADC order alone: 0.27 — always rerank).

Spark-first shape, mirroring ``ivf.py``'s adjudicated patterns:

- **fit** (``fit_pq_codebooks``): per-subspace Lloyd on a hash-ranked
  bounded sample, driver-side numpy — model fitting on a ≤100k-row
  sample, not a data-sized driver loop (the corpus never leaves the
  executors). The IVF coarse quantizer is this fit with one subspace
  (``ivf.fit_ivf_centroids``).
- **encode**: the nearest-code rule (argmin |c|² − 2·v_sub·c, lower code
  id on ties; |v_sub|² is row-constant) lives in ``ivf.py``, shared with
  the coarse quantizer. Every Spark encode — ``pq_encode``,
  ``ivf_pq_encode_residual``, ``ivf.assign_cells``, the append and the
  refit — is ``pq_encode_batch``: one ``mapInPandas`` pass whose numpy
  kernel (``ivf.fold_nearest``) holds the codebooks and handles every
  index flavour (raw, IVF-PQ, residual, OPQ), no shuffle and no literal
  codebook in the plan. The Lloyd steps and the residual fit assign with
  numpy ``ivf.probe_assignments`` on BLAS.
- **search** (``pq_topk``): asymmetric distance computation (ADC). Each
  query precomputes an m×ncodes lookup table of subvector dot products
  driver-side (bounded — the query set is broadcast anyway); scoring a
  corpus row is then m array lookups + a sum over the CODES column —
  the full corpus pass reads 8-byte codes, never the 256-byte vectors.
  Optional ``rerank``: ADC shortlist of r candidates per query, then an
  exact cosine re-rank that joins ONLY the nq×r shortlist rows back to
  the true vectors (broadcast hash equi-join — the corpus side stays
  map-only). This is the standard PQ deployment: approximate scan over
  compressed codes, exact math over a bounded shortlist.

At-rest persistence: ``write_pq_index``/``read_pq_index`` store the
codes parquet (a Spark writer) + a one-row codebook JSON sidecar (the
driver-side ``util`` JSON codec — no Spark job for KBs of metadata),
both on any filesystem the session can write, so the 32×-compressed
form IS the stored form — encode once at ingest, search forever
(``ivf_pq_topk`` accepts the loaded codes via ``corpus_codes=``).

Residual encoding (``fit_residual_codebooks`` + ``ivf_pq_encode_residual``
+ ``ivf_pq_topk(residual=True)``) is the full IVFPQ construction: codes
describe v − centroid[cell], so the same 8 bytes stop re-encoding the
placement the IVF stage already knows. Measured (ANN_RECALL.json
'ivfpq_residual'): identical recall on the near-uniform fixture (as
theory predicts — all centroids sit near the distribution center), and
on a 16-cluster synthetic — the regime real embedding corpora live in —
ADC-only recall@5 0.024 → 0.152 and reranked 0.392 → 0.656 at identical
bytes. The search adds ONE array lookup per candidate (the per-(query,
cell) dot term); the index meta records the flag so readers can never
score residual codes with raw math.

Accuracy is MEASURED, not assumed: ``tools/ann_recall.py`` sweeps
ADC-only and reranked recall@5 against exact ``cosine_topk`` on the
sf0.1 fixture (artifact ``ANN_RECALL.json``, table in SCALE.md);
``tests/test_pq.py`` re-measures the headline configuration and pins
its recall floor, and pins encode == numpy-reference equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources import lake
from ..util import hadoop_fs, read_json_rows, write_json_rows
from .ivf import (
    _assert_size,
    _check_codebooks,
    code_sq_norms,
    fold_dots,
    fold_nearest,
    probe_assignments,
    query_probe_cells,
    well_formed_vectors,
)
from .similarity import _as_double, cosine


def _collect_fit_sample(df, vec_col, id_col, seed, fit_sample_n):
    """Hash-ranked bounded fit sample as an (n × dim) float64 matrix,
    locally re-sorted by hash so init and numpy summation order are
    partitioning-independent (shared by the raw and residual fits)."""
    import numpy as np

    df = well_formed_vectors(df, vec_col)
    sel = df.select(
        _as_double(vec_col).alias("__v__"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h__"),
    )
    if fit_sample_n is not None:
        sel = sel.orderBy("__h__").limit(fit_sample_n)
    rows = sel.collect()
    if not rows:
        raise ValueError("cannot fit PQ on an empty corpus")
    rows.sort(key=lambda r: r["__h__"])
    return np.asarray([r["__v__"] for r in rows], dtype=np.float64)


def _fit_pq_on_matrix(x, m: int, ncodes: int, iters: int):
    """Per-subspace Lloyd over a local sample matrix — the deterministic
    k-means-lite kernel of ``fit_pq_codebooks`` (init = the ncodes
    hash-lowest rows' slices; empty cells keep their previous centroid;
    assignment by ``ivf.probe_assignments``, lower code id on ties)."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    out = []
    for s in range(m):
        xs = x[:, s * subdim : (s + 1) * subdim]
        cents = xs[:ncodes].copy()
        k_eff = cents.shape[0]
        for _ in range(iters):
            assign = probe_assignments(xs, cents, 1)[:, 0]
            for c in range(k_eff):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        out.append([list(map(float, c)) for c in cents])
    return out


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 16,
    ncodes: int = 16,
    iters: int = 5,
    seed: int = 42,
    fit_sample_n: int | None = 100_000,
):
    """Per-subspace k-means codebooks: m × ncodes × (dim/m) floats.

    Deterministic on any partitioning: the fit set is the ``fit_sample_n``
    hash-lowest rows by xxhash64(id, seed) (TakeOrderedAndProject — no
    full shuffle), locally re-sorted so init and numpy summation order
    are reproducible; init per subspace = that subspace's slices of the
    ncodes hash-lowest rows; empty cells keep their previous centroid
    (the ``fit_ivf_centroids`` rules applied per subspace).

    Requires dim divisible by ``m`` (contiguous equal splits — the
    classic PQ layout)."""
    x = _collect_fit_sample(df, vec_col, id_col, seed, fit_sample_n)
    return _fit_pq_on_matrix(x, m, ncodes, iters)


def fit_residual_codebooks(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 16,
    ncodes: int = 16,
    iters: int = 5,
    seed: int = 42,
    fit_sample_n: int | None = 100_000,
):
    """Codebooks over coarse-quantizer RESIDUALS — the standard IVFPQ
    construction (Jégou 2011 §III): each sample vector is replaced by
    v − centroid[nearest cell] before the per-subspace Lloyd, so the
    codebooks spend their 2^b codes on the within-cell geometry instead
    of re-describing the global placement the IVF stage already encodes.
    Same determinism contract as :func:`fit_pq_codebooks`; assignment
    uses ``ivf.probe_assignments``, the rule ``assign_cells`` shares. Pair with
    :func:`ivf_pq_encode_residual` / ``ivf_pq_topk(..., residual=True)``
    — residual codes are meaningless without the matching centroids."""
    import numpy as np

    x = _collect_fit_sample(df, vec_col, id_col, seed, fit_sample_n)
    cm = np.asarray(centroids, dtype=np.float64)
    if cm.shape[1] != x.shape[1]:
        raise ValueError(
            f"centroid dim {cm.shape[1]} != vector dim {x.shape[1]}"
        )
    resid = x - cm[probe_assignments(x, cm, 1)[:, 0]]
    return _fit_pq_on_matrix(resid, m, ncodes, iters)


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, vhat_sq double): each row's per-subspace
    nearest-code ids plus the squared norm of its PQ reconstruction
    (Σ_s |c_{codes[s]}|² — stored at encode time so ADC cosine needs no
    second pass; the cross-subspace dot terms are zero only in
    expectation, so this is the standard PQ-cosine approximation).

    One Arrow pass of the shared encode kernel (:func:`pq_encode_batch`).
    Rows with NULL/empty vectors are dropped; a vector of the wrong
    length fails the job."""
    return _encode_batches(
        df, (codebooks, None, False, None), id_col, vec_col, None, "pq_encode"
    )


def ivf_pq_encode_residual(
    df: DataFrame,
    codebooks,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes, vhat_sq): the residual-IVFPQ at-rest row — cell
    from the coarse quantizer, codes from PQ over v − centroid[cell]
    (``fit_residual_codebooks`` codebooks), and vhat_sq = |centroid +
    recon(codes)|² so ADC cosine needs no second pass. Same 8-byte codes
    + one cell int as the raw encoding, but the codes describe
    within-cell geometry — measured recall@5 gain on clustered data at
    identical bytes (ANN_RECALL.json 'ivfpq_residual').

    One Arrow pass of the shared encode kernel (:func:`pq_encode_batch`):
    cell, residual, codes and vhat_sq per row, no shuffle."""
    return _encode_batches(
        df, (codebooks, centroids, True, None), id_col, vec_col, None,
        "ivf_pq_encode_residual",
    ).select(id_col, "cell", "codes", "vhat_sq")


def pq_encode_batch(
    df: DataFrame,
    meta,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str | None = None,
) -> DataFrame:
    """(id, codes array<int>, vhat_sq double[, partition][, cell int]):
    ``df`` encoded by an index's ``meta`` — the (codebooks, centroids,
    residual, rotation) tuple of :func:`read_pq_meta` — in ONE
    ``mapInPandas`` pass over Arrow batches. This is the one encode
    kernel: :func:`pq_encode`, :func:`ivf_pq_encode_residual`,
    ``ivf.assign_cells``, :func:`append_pq_index` and
    :func:`refit_pq_index` all run it. A numpy function holding the
    codebooks in its closure computes, per batch:

    1. rotation R·v, if the index has one (``ivf.fold_dots``);
    2. the cell, if it has centroids (``ivf.fold_nearest``);
    3. the residual v − centroid[cell], if it is residual;
    4. the codes, per subspace (``ivf.fold_nearest``);
    5. vhat_sq: the chosen |c|² folded over ascending subspaces from 0.0;
       on a residual index ``(|centroid|² + 2·cross) + that``, with
       cross[cell, s, c] = centroid_cell[sub s] · codebook[s][c] folded
       the same way.

    The dots fold over ascending positions from 0.0 (``ivf.fold_dots``,
    the fold of ``opq.rotate_vectors``), the order of the codegen
    posexplode → join → ``F.sum`` kernel this replaced, so codes persisted
    by that kernel stay consistent with rows encoded now. The plan holds
    no literal codebook and no shuffle; measured on the sf0.1 corpus and
    on a 50k-row one, this pass is 7–14× faster than the codegen kernel
    it replaced (SCALE.md).

    ``partition_col`` passes through unchanged (the append's and the
    refit's partition). Rows with NULL/empty vectors are dropped; a
    vector of any other width than the index's fails the job with a
    named error, checked before the rotation."""
    return _encode_batches(
        df, meta, id_col, vec_col, partition_col, "pq_encode_batch"
    )


def _encode_batches(df, meta, id_col, vec_col, partition_col, what):
    """:func:`pq_encode_batch`, with ``what`` naming the caller in the
    wrong-width error."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    codebooks, centroids, residual, rotation = meta
    m, _, subdim = _check_codebooks(codebooks)
    csq = code_sq_norms(codebooks)
    if centroids is not None:
        cm = np.asarray(centroids, dtype=np.float64)
        cell_csq = code_sq_norms([centroids])[0]
    if residual:
        # |centroid|² and the centroid · code cross terms of |v̂|²: n_cells
        # × m × ncodes doubles (4k at 16 cells, 16 × 16 codes)
        cent_sq = np.asarray([(c * c).sum() for c in cm])
        xtab = np.einsum(
            "ksd,scd->ksc",
            cm.reshape(cm.shape[0], m, subdim),
            np.asarray(codebooks, dtype=np.float64),
        )
    keep = [partition_col] if partition_col is not None else []
    fields = [
        df.schema[id_col],
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("vhat_sq", T.DoubleType()),
        *[df.schema[c] for c in keep],
    ]
    if centroids is not None:
        fields.append(T.StructField("cell", T.IntegerType()))

    def _encode(pdf):
        n = len(pdf)
        v = np.array(pdf[vec_col].tolist(), dtype=np.float64).reshape(n, m * subdim)
        if rotation is not None:
            v = fold_dots(v, rotation)
        if centroids is not None:
            cell, _ = fold_nearest(v, cm, cell_csq)
            if residual:
                v = v - cm[cell]
        codes, chosen = zip(*(
            fold_nearest(v[:, s * subdim : (s + 1) * subdim], codebooks[s], csq[s])
            for s in range(m)
        ))
        # builtin sum: a left fold from the start value, as Spark's aggregate
        vhat = sum(chosen, np.zeros(n))
        if residual:
            cross = sum((xtab[cell, s, c] for s, c in enumerate(codes)), np.zeros(n))
            vhat = (cent_sq[cell] + 2.0 * cross) + vhat
        out = pd.DataFrame({
            id_col: pdf[id_col],
            "codes": list(np.stack(codes, axis=1).astype(np.int32)),
            "vhat_sq": vhat,
            **{c: pdf[c] for c in keep},
        })
        if centroids is not None:
            out["cell"] = cell.astype(np.int32)
        return out

    staged = _assert_size(
        well_formed_vectors(df, vec_col), vec_col, m * subdim, what
    ).select(id_col, _as_double(vec_col).alias(vec_col), *keep)
    return staged.mapInPandas(
        lambda batches: map(_encode, batches), T.StructType(fields)
    )


def _collect_query_luts(queries, codebooks, id_col, vec_col):
    """Driver-side query prep shared by ``pq_topk``/``ivf_pq_topk``:
    collect the (bounded, broadcast-anyway) query set and compute each
    row's m×ncodes ADC lookup table + norm with numpy. Returns
    (rows, id_dtype) where rows = [(query_id, qv, qn, lut), ...]."""
    import numpy as np

    m, ncodes, subdim = _check_codebooks(codebooks)
    q_rows = (
        well_formed_vectors(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv__")
        )
        .collect()
    )
    cb = np.asarray(codebooks, dtype=np.float64)  # m × ncodes × subdim
    data = []
    for r in q_rows:
        qv = np.asarray(r["__qv__"], dtype=np.float64)
        if qv.shape[0] != m * subdim:
            raise ValueError(
                f"query dim {qv.shape[0]} != codebook dim {m * subdim}"
            )
        qsub = qv.reshape(m, subdim)
        # lut[s][c] = q_sub_s · codebook[s][c]
        lut = np.einsum("sd,scd->sc", qsub, cb)
        data.append(
            (
                r["query_id"],
                [float(x) for x in qv],
                float(np.sqrt((qv * qv).sum())),
                [[float(x) for x in row] for row in lut],
            )
        )
    return data, queries.schema[id_col].dataType


def _lut_schema(id_dtype, with_cell=False, with_qc=False):
    from pyspark.sql import types as T

    fields = [
        T.StructField("query_id", id_dtype),
        T.StructField("__qv__", T.ArrayType(T.DoubleType())),
        T.StructField("__qn__", T.DoubleType()),
        T.StructField("__lut__", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
    if with_qc:  # residual path: per-query dot(q, centroid[cell]) array
        fields.append(T.StructField("__qc__", T.ArrayType(T.DoubleType())))
    if with_cell:
        fields.append(T.StructField("__cell__", T.IntegerType()))
    return T.StructType(fields)


def _adc_rank_and_rerank(cand, k, rerank, corpus, id_col, vec_col,
                         extra_dot=None):
    """Shared search tail: ADC-score candidate (corpus-code × query-LUT)
    rows, rank per query, optionally exact-rerank the top-``rerank``
    shortlist against the true vectors (broadcast hash equi-join —
    only nq×rerank rows ever touch a full vector). ``extra_dot`` adds a
    per-candidate Column to the reconstruction dot — the residual path's
    dot(q, centroid[cell]) term."""
    adc_dot = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__lut__"),
            lambda cd, tbl: F.element_at(tbl, cd + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if extra_dot is not None:
        adc_dot = adc_dot + extra_dot
    scored = cand.withColumn(
        "cos_sim",
        F.when(
            (F.col("vhat_sq") > 0) & (F.col("__qn__") > 0),
            adc_dot / (F.col("__qn__") * F.sqrt(F.col("vhat_sq"))),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("cos_sim"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "cos_sim", "rank"
        )

    shortlist = ranked.filter(F.col("rank") <= max(rerank, k)).select(
        "query_id", "neighbor_id", "__qv__"
    )
    exact = (
        well_formed_vectors(corpus, vec_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("__cv__"),
        )
        .join(F.broadcast(shortlist), "neighbor_id")
        .withColumn("cos_sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via asymmetric distance
    computation. Output schema matches ``similarity.cosine_topk``:
    (query_id, neighbor_id, cos_sim, rank).

    ``corpus_codes`` is ``pq_encode`` output — the scan reads ONLY
    (id, m codes, vhat_sq); the original vectors are untouched unless
    ``rerank`` is set. Each collected query row carries its m×ncodes
    dot-product lookup table as a broadcast literal column, so scoring
    one corpus row is an m-step fold of array lookups (JVM HOF, no UDF).

    ``rerank=r``: take the top-``max(r, k)`` ADC candidates per query,
    then join ONLY those nq×r rows back to ``corpus`` (required) by id —
    a broadcast hash equi-join, corpus side map-only — and re-rank with
    exact cosine. ``cos_sim`` is then exact; without rerank it is the
    ADC approximation (reconstruction dot / (|q|·|v̂|)).

    Scale shape: the ADC pass is corpus-codes × broadcast bounded query
    set (the allowlisted ``cosine_topk`` shape, but over 8-byte codes
    instead of full vectors); top-k is a per-query ranked window; the
    rerank touches nq×r rows only."""
    if rerank is not None and corpus is None:
        raise ValueError("rerank requires the original corpus DataFrame")
    m, _, _ = _check_codebooks(codebooks)
    data, id_dtype = _collect_query_luts(queries, codebooks, id_col, vec_col)
    spark = corpus_codes.sparkSession
    qdf = spark.createDataFrame(data, _lut_schema(id_dtype))
    corpus_codes = _assert_size(corpus_codes, "codes", m, "pq_topk")
    cand = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), "codes", "vhat_sq"
    ).join(F.broadcast(qdf), F.col("query_id") != F.col("neighbor_id"))
    return _adc_rank_and_rerank(cand, k, rerank, corpus, id_col, vec_col)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks,
    k: int = 5,
    nprobe: int | None = None,
    rerank: int | None = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_target: float = 0.75,
    corpus_codes: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
    residual: bool = False,
    query_probes: DataFrame | None = None,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ: the standard large-scale ANN composition (Jégou 2011) —
    the IVF coarse quantizer prunes the scan to each query's ``nprobe``
    nearest cells, ADC over 8-byte PQ codes orders the survivors, and an
    exact cosine re-rank of the top-``rerank`` shortlist restores
    accuracy. Per query the work is ~(nprobe/n_cells)·|corpus| code
    lookups + ``rerank`` full-vector distances — neither term scans full
    vectors over the corpus.

    Candidate selection is an EQUI-join on cell id (no nested-loop scan,
    unlike plain ``pq_topk``): corpus rows carry their nearest cell
    (from the same encode pass as their PQ codes, or ``corpus_cells``); the
    broadcast query frame has one row per (query, probed cell), probe
    cells assigned driver-side exactly as in ``ivf_topk``. ``nprobe``
    defaults through ``nprobe_for_recall`` from the measured IVF curve;
    ``corpus_codes`` (a ``pq_encode`` result) can be passed to reuse an
    existing encoding — the deployment shape, where codes+cells are
    computed once at ingest and every search is map-side pruning +
    bounded rescoring.

    ``residual=True`` switches to the residual-IVFPQ construction:
    ``codebooks`` must come from ``fit_residual_codebooks`` and
    ``corpus_codes`` from ``ivf_pq_encode_residual`` (which carries the
    cell — ``corpus_cells`` is ignored). The ADC score adds the
    per-(query, cell) dot(q, centroid) term from a per-query array in
    the broadcast frame; everything else (LUT fold, window, rerank) is
    the shared tail, so the residual path costs one extra array lookup
    per candidate.

    ``query_probes`` — a (query id, cell) frame of pre-computed probe
    assignments — replaces the driver-side ``probe_assignments`` pass,
    making probe selection persisted data rather than a float argsort
    recomputed per engine (see ``ivf.ivf_topk``'s parameter of the same
    name for the ulp-tie rationale). Bounded; collected driver-side by
    ``ivf.query_probe_cells``, the probe rule both searches share.

    ``rotation`` (an OPQ matrix) declares that the index — centroids,
    codebooks, codes, cells — lives in ROTATED space (the FAISS
    "OPQd,IVFx,PQy" composition): queries are rotated driver-side before
    their LUT/probe build (explicit left-fold dots, oracle bit-parity),
    and the exact rerank swaps back to RAW query vectors against the RAW
    corpus (orthogonal rotation preserves cosine)."""
    from .ivf import assign_cells, nprobe_for_recall

    if nprobe is None:
        nprobe = nprobe_for_recall(len(centroids), recall_target)
    m, _, _ = _check_codebooks(codebooks)
    raw_q_sidecar = None
    if rotation is not None:
        if corpus_codes is None or (not residual and corpus_cells is None):
            raise ValueError(
                "a rotated (OPQ) index needs corpus_codes (and cells) "
                "precomputed over rotate_vectors output at ingest — "
                "query-time corpus rotation is not a serving shape"
            )
        from .opq import rotate_queries_collected

        queries, raw_q_sidecar = rotate_queries_collected(
            queries, rotation, id_col=id_col, vec_col=vec_col
        )
    corpus_wf = well_formed_vectors(corpus, vec_col)
    # cells come from the codes row on a residual index, and from the
    # same encode pass when both are computed here at query time
    cells_in_codes = residual or (corpus_codes is None and corpus_cells is None)
    if corpus_codes is None:
        corpus_codes = pq_encode_batch(
            corpus_wf,
            (codebooks, centroids if cells_in_codes else None, residual, None),
            id_col, vec_col,
        )
    else:
        corpus_codes = _assert_size(corpus_codes, "codes", m, "ivf_pq_topk")
    if cells_in_codes:
        coded = corpus_codes.select(
            F.col(id_col).alias("neighbor_id"),
            "codes",
            "vhat_sq",
            F.col("cell").alias("__ccell__"),
        )
    else:
        if corpus_cells is None:
            # the maintained-index path passes cells computed once at
            # ingest (write/append_pq_index with centroids)
            corpus_cells = assign_cells(
                corpus_wf, centroids, id_col=id_col, vec_col=vec_col
            )
        cells = corpus_cells.select(
            F.col(id_col).alias("__cid__"), F.col("cell").alias("__ccell__")
        )
        coded = (
            corpus_codes.select(
                F.col(id_col).alias("neighbor_id"), "codes", "vhat_sq"
            )
            .join(cells, F.col("neighbor_id") == F.col("__cid__"))
            .drop("__cid__")
        )

    data, id_dtype = _collect_query_luts(queries, codebooks, id_col, vec_col)
    if residual and data:
        import numpy as np

        cm = np.asarray(centroids, dtype=np.float64)
        qcs = np.asarray([d[1] for d in data], dtype=np.float64) @ cm.T
        data = [d + ([float(x) for x in qc],) for d, qc in zip(data, qcs)]
    probes = query_probe_cells(
        [d[0] for d in data], [d[1] for d in data], centroids, nprobe,
        query_probes,
    )
    data = [d + (cell,) for d, cells in zip(data, probes) for cell in cells]
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        data, _lut_schema(id_dtype, with_cell=True, with_qc=residual)
    )
    cand = coded.join(
        F.broadcast(qdf),
        (coded["__ccell__"] == qdf["__cell__"])
        & (F.col("query_id") != F.col("neighbor_id")),
    ).drop("__cell__")
    extra = (
        F.element_at("__qc__", F.col("__ccell__") + F.lit(1)) if residual else None
    )
    if raw_q_sidecar is not None and rerank is not None:
        # rotated index + exact rerank: swap the LUT row's (rotated) qv
        # back to the RAW query vector — the rerank reads RAW corpus
        # vectors, and cosine is rotation-invariant
        cand = (
            cand.drop("__qv__")
            .join(F.broadcast(raw_q_sidecar), "query_id")
            .withColumnRenamed("__raw_qv__", "__qv__")
        )
    return _adc_rank_and_rerank(
        cand, k, rerank, corpus, id_col, vec_col, extra_dot=extra
    )


def write_pq_index(
    codes_df: DataFrame,
    codebooks,
    path: str,
    mode: str = "error",
    partition_col: str | None = None,
    centroids: list[list[float]] | None = None,
    residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> None:
    """Persist a PQ index: ``pq_encode`` output as parquet under
    ``<path>/codes`` (8 bytes of codes + one double per row — the
    32×-compressed at-rest form) and the codebooks as a one-row JSON
    dataset under ``<path>/codebooks`` (m×ncodes×subdim floats — KBs).

    The codes go through a Spark writer and the codebooks through the
    driver-side JSON codec (``util.write_json_rows`` — a file write, not
    a Spark job); both resolve through the session's Hadoop FileSystem,
    so the index lands on whatever filesystem the session can write
    (HDFS/object store/local). ``mode`` is ``error`` or ``overwrite``.
    With ``partition_col`` (e.g. ingest day) the codes table is
    Hive-partitioned by it, which is what lets :func:`append_pq_index`
    maintain the index incrementally at O(touched partitions) per batch.

    With ``centroids`` (an IVF coarse quantizer, ``fit_ivf_centroids``)
    the index becomes a maintained IVF-PQ index: centroids persist in
    the metadata row, ``codes_df`` is expected to carry the ``cell``
    column (``assign_cells`` at ingest), appends assign cells for new
    batches automatically, and :func:`ivf_pq_search_index` searches the
    at-rest index with NO query-time corpus assignment pass.

    ``residual=True`` records that the codes are RESIDUAL-encoded
    (``fit_residual_codebooks`` + ``ivf_pq_encode_residual``); readers
    (search, append, drift report) dispatch on the flag so a residual
    index can never be silently scored with raw-encoding math.

    ``rotation`` (an OPQ matrix, ``opq.fit_opq``) records that the index
    lives in ROTATED space — the FAISS "OPQd,IVFx,PQy" pre-transform:
    ``codes_df`` (and ``centroids``, if any) must have been computed over
    ``rotate_vectors`` output, appends rotate each new batch before
    encoding, and searches rotate queries before their LUT/probe build
    (the exact rerank stays in raw space — orthogonal rotation preserves
    inner products). The rotation is part of the index's coordinate
    frame: refits re-fit quantizers WITHIN it (see
    :func:`refit_pq_index`); changing the rotation itself is a new
    index build."""
    m, ncodes, subdim = _check_codebooks(codebooks)
    if residual and centroids is None:
        raise ValueError("a residual index needs its coarse centroids")
    if rotation is not None:
        d = len(rotation)
        if any(len(row) != d for row in rotation):
            raise ValueError("rotation must be square d×d")
        if d != m * subdim:
            raise ValueError(
                f"rotation dim {d} != codebook dim {m * subdim}"
            )
    if centroids is not None and "cell" not in codes_df.columns:
        raise ValueError(
            "an IVF-PQ index (centroids given) needs a 'cell' column on "
            "codes_df — join assign_cells output before writing"
        )
    spark = codes_df.sparkSession
    w = codes_df.write.mode(mode)
    if partition_col is not None:
        w = w.partitionBy(partition_col)
    w.parquet(f"{path}/codes")
    meta = dict(
        m=m, ncodes=ncodes, subdim=subdim, codebooks=codebooks,
        centroids=centroids, residual=bool(residual), rotation=rotation,
    )
    write_json_rows(spark, f"{path}/codebooks", [meta], mode=mode)
    if centroids is not None:
        # Build-time cell-occupancy snapshot — the frozen baseline
        # :func:`index_drift_report` compares live occupancy against.
        # Read back the at-rest codes (cheap: 8-byte rows) rather than
        # recompute codes_df's lineage a second time. Appends do NOT
        # update this: it is the distribution the coarse quantizer was
        # fit for, by design.
        (
            spark.read.parquet(f"{path}/codes")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_build"))
            .coalesce(1)
            .write.mode(mode)
            .parquet(f"{path}/cell_stats")
        )


def resolve_index_root(spark, path: str, version: int | None = None) -> str:
    """The directory whose codes/codebooks a reader should use: the
    HIGHEST committed ``v_%05d`` version under ``path``, else ``path``
    itself (the legacy un-versioned layout every pre-refit index has).
    Every reader (meta, search, append, drift) resolves through here, so
    a reader sees exactly one version's (codes, codebooks) pair — never
    an old-codes/new-codebooks mix — and :func:`refit_pq_index`'s commit
    (one atomic marker creation) flips all readers at once.

    ``version`` pins a specific committed version instead of the latest —
    the reproducibility handle (re-run yesterday's search against the
    pre-refit index while it is retained). Raises if that version is not
    committed/retained; retention is ``refit_pq_index(keep_versions=…)``."""
    vs = lake.list_versions(spark, path)
    if version is not None:
        if version not in vs:
            raise ValueError(
                f"index version {version} not committed/retained at {path} "
                f"(committed: {vs or 'none — legacy un-versioned layout'})"
            )
        return lake.version_dir(path, version)
    return lake.version_dir(path, vs[-1]) if vs else path


def read_pq_meta(
    spark, path: str
) -> tuple[list, list | None, bool, list | None]:
    """(codebooks, centroids-or-None, residual, rotation-or-None) from
    ``write_pq_index`` output — the append/search paths need them without
    scanning the codes table. One driver-side read of the JSON row
    (``util.read_json_rows``, no Spark job), so the per-batch append pays
    a file read, not a scheduler round trip. The centroids/residual/
    rotation fields read as None on indexes written before they existed
    — None residual means raw encoding, None rotation means identity/raw
    space. Validated for rectangularity before any use. Resolves the
    committed version first (idempotent on an already-resolved root)."""
    path = resolve_index_root(spark, path)
    rows = read_json_rows(spark, f"{path}/codebooks")
    if len(rows) != 1:
        raise ValueError(
            f"expected exactly one codebook row at {path}/codebooks, "
            f"got {len(rows)}"
        )
    r = rows[0]
    if r.get("codebooks") is None:
        raise ValueError(f"corrupt codebook row at {path}/codebooks: no codebooks")
    codebooks = [[list(map(float, c)) for c in cb] for cb in r["codebooks"]]
    m, ncodes, subdim = _check_codebooks(codebooks)
    stored = (r.get("m"), r.get("ncodes"), r.get("subdim"))
    if (m, ncodes, subdim) != stored:
        raise ValueError(
            f"codebook metadata mismatch at {path}: stored {stored} vs "
            f"actual {(m, ncodes, subdim)}"
        )
    centroids = (
        [list(map(float, c)) for c in r["centroids"]]
        if r.get("centroids") is not None
        else None
    )
    rotation = (
        [list(map(float, row)) for row in r["rotation"]]
        if r.get("rotation") is not None
        else None
    )
    return codebooks, centroids, bool(r.get("residual")), rotation


def read_pq_index(spark, path: str):
    """(codes DataFrame, codebooks) from ``write_pq_index`` output."""
    root = resolve_index_root(spark, path)
    return spark.read.parquet(f"{root}/codes"), read_pq_meta(spark, root)[0]


def append_pq_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str = "ingest_day",
) -> None:
    """Incremental ANN index maintenance — the link between streaming
    ingest and the PQ family: a new document batch is encoded against
    the PERSISTED codebooks (``read_pq_meta`` — map-side, no refit;
    codebook drift is handled by scheduled re-trains, the standard
    FAISS-style discipline) and merged into ``<path>/codes`` with the
    partition-scoped upsert (``streaming/upsert.py``): re-ingested ids
    replace their old codes within their partition, new ids append, and
    only the batch's ``partition_col`` partitions are rewritten —
    O(touched partitions) per batch regardless of index size.

    The batch is encoded by :func:`pq_encode_batch` — one Arrow pass for
    every index flavour, the kernel every build and refit runs — so
    append-then-search equals encode-everything-then-search exactly
    (pinned in tests/test_pq.py and tests/test_streaming_ann.py), and
    searches over a maintained index never drift from a fresh rebuild
    under the same codebooks.

    ``new_docs`` must carry ``partition_col`` (stable per id within its
    partition value — the upsert caveat). The index must have been
    written with the same ``partition_col`` (``write_pq_index``). On an
    IVF-PQ index (persisted centroids) the batch's coarse cells are
    assigned in the same pass, a residual index encodes v − centroid,
    and an OPQ index rotates the batch into its frame first.

    A batch racing a :func:`refit_pq_index` window would land in the OLD
    version and be silently dropped by the version swap; the contract is
    "quiesce appenders", and this function ENFORCES detection: after the
    merge it re-resolves the live version and raises if the version
    changed underneath it, so a lost batch is a loud replay signal (a
    checkpointed streaming caller retries the batch, which then lands in
    the new live version) instead of mysteriously missing vectors."""
    from ..streaming.upsert import merge_upsert_batch

    if partition_col not in new_docs.columns:
        raise ValueError(
            f"new_docs must carry partition column {partition_col!r}"
        )
    logical_root = path
    path = resolve_index_root(spark, path)  # append into the live version
    enc = pq_encode_batch(
        new_docs, read_pq_meta(spark, path), id_col, vec_col, partition_col
    )
    merge_upsert_batch(spark, enc, f"{path}/codes", [id_col], partition_col)
    live_after = resolve_index_root(spark, logical_root)
    if live_after != path:
        raise RuntimeError(
            f"append_pq_index raced a refit: the batch merged into {path} "
            f"but the live version is now {live_after} — the batch is NOT "
            "in the live index. Replay it (the refit's corpus snapshot "
            "predates this batch)."
        )


def ivf_pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    nprobe: int | None = None,
    rerank: int | None = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_target: float = 0.75,
    version: int | None = None,
    query_probes: DataFrame | None = None,
) -> DataFrame:
    """Search a maintained IVF-PQ index AT REST: codes, cells, codebooks
    and centroids all come from ``path`` — the query-time work is the
    broadcast query-LUT build, the cell equi-join over stored (cell,
    codes) rows, ADC ordering, and (with ``rerank``) an exact re-rank
    that reads full vectors for the shortlist only, from ``corpus``.
    With ``rerank=None`` no raw vector is touched at all — pure
    ADC-over-index, the cheapest serving path. Unlike ``ivf_pq_topk``
    there is NO corpus assignment pass: cells were computed once at
    ingest (``write_pq_index``/``append_pq_index``).

    Version resolution happens ONCE here (``resolve_index_root``), so a
    search that overlaps a :func:`refit_pq_index` reads one version's
    (codes, codebooks, centroids) — old or new, never a mix. ``version``
    pins a retained version for reproducible re-runs."""
    path = resolve_index_root(spark, path, version=version)
    codebooks, centroids, residual, rotation = read_pq_meta(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    if centroids is None:
        raise ValueError(
            f"{path} is a plain PQ index (no centroids) — use pq_topk, or "
            "rebuild with write_pq_index(..., centroids=...)"
        )
    if rerank is not None and corpus is None:
        # `is not None`, not truthiness: rerank=0 must hit the same guard
        # as ivf_pq_topk's, not slip an empty placeholder into the join.
        raise ValueError("rerank needs the raw-vector corpus (or pass rerank=None)")
    if corpus is None:
        # rerank disabled: only the sparkSession is needed downstream
        corpus = queries.limit(0)
    code_cols = (
        codes.select(id_col, "codes", "vhat_sq", "cell")
        if residual
        else codes.select(id_col, "codes", "vhat_sq")
    )
    return ivf_pq_topk(
        corpus,
        queries,
        centroids,
        codebooks,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
        recall_target=recall_target,
        corpus_codes=code_cols,
        corpus_cells=None if residual else codes.select(id_col, "cell"),
        residual=residual,
        query_probes=query_probes,
        rotation=rotation,
    )


def index_drift_report(
    spark,
    path: str,
    sample: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 20_000,
    refit_iters: int = 5,
    seed: int = 42,
    tvd_threshold: float = 0.25,
    err_ratio_threshold: float = 1.30,
) -> DataFrame:
    """Drift monitor for a maintained IVF-PQ index — the missing half of
    the append story: :func:`append_pq_index` assigns cells against the
    FROZEN coarse quantizer, so under distribution drift recall decays
    silently (queries probe cells whose contents no longer match the
    geometry the centroids were fit for). This report measures that decay
    from two independent angles and turns it into a refit decision:

    1. **Occupancy drift** — total-variation distance between the
       build-time cell distribution (``<path>/cell_stats``, snapshotted by
       :func:`write_pq_index`) and the CURRENT distribution of the codes
       at rest. Pure metadata math: one groupBy over 8-byte code rows and
       a driver-side fold over ≤ n_cells pairs. NULL when the index
       predates cell_stats.
    2. **Quantization-error ratio** — over a bounded, hash-rank-capped
       sample of RECENT vectors (the caller supplies what "recent" means:
       the latest ingest partitions, a stream tap, …): mean squared
       distance to the nearest FROZEN centroid vs the same under a fresh
       ``fit_ivf_centroids`` refit on that sample. A ratio near 1 means
       the frozen quantizer still partitions new data as well as a refit
       would; the ratio rises monotonically with drift and is scale-free
       (distance units cancel).

    **Refit policy** (the documented thresholds, defaults chosen from the
    planted-drift probe ``tools/drift_probe.py`` → DRIFT_PROBE.json, sf0.1:
    an in-distribution append measures tvd 0.00 / ratio 1.003, a hard
    16-of-64-dim shift measures tvd 0.44 / ratio 69 — and costs the
    shifted queries recall@5 0.68→0.32 through the frozen quantizer,
    restored to 0.87 by the refit rebuild the report recommends):
    ``refit_recommended`` = occupancy_tvd > ``tvd_threshold`` OR
    err_ratio > ``err_ratio_threshold``. On a recommendation, refit =
    ``fit_ivf_centroids`` + ``fit_pq_codebooks`` on a fresh sample of the
    current mix, then a ``write_pq_index`` rebuild — the probe shows a
    hard shift breaks BOTH quantizers (the codebooks' subspace cells stop
    covering the shifted subvectors), so a full refit is the measured
    recovery path; the rebuild's re-encode is one deterministic map pass
    over the corpus.

    Returns a one-row DataFrame:
    (n_cells, n_build, n_current, occupancy_tvd, frozen_err, refit_err,
    err_ratio, refit_recommended). Cost: one scan of the codes table's
    cell column + one bounded collect of ≤ ``sample_cap`` sample rows,
    then driver-side numpy — safe to run on every append cycle at any
    index size."""
    import numpy as np

    path = resolve_index_root(spark, path)
    _, centroids, _residual, rotation = read_pq_meta(spark, path)
    if centroids is None:
        raise ValueError(
            f"{path} is a plain PQ index (no centroids) — drift of the "
            "coarse quantizer is an IVF-PQ concern"
        )
    n_cells = len(centroids)

    current = (
        spark.read.parquet(f"{path}/codes")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    # An index written before cell_stats existed has no occupancy
    # baseline. That is decided by existence alone: a snapshot that is
    # there but unreadable (corrupt footer, permissions, IO) raises, not
    # silently drops the occupancy half of the refit decision.
    _, fs, stats = hadoop_fs(spark, f"{path}/cell_stats")
    build = spark.read.parquet(f"{path}/cell_stats") if fs.exists(stats) else None
    cur_rows = {r["cell"]: r["n_cur"] for r in current.collect()}  # ≤ n_cells
    n_current = int(sum(cur_rows.values()))
    if build is not None:
        b_rows = {r["cell"]: r["n_build"] for r in build.collect()}
        n_build = int(sum(b_rows.values()))
        tvd = 0.5 * sum(
            abs(b_rows.get(c, 0) / max(n_build, 1) - cur_rows.get(c, 0) / max(n_current, 1))
            for c in range(n_cells)
        )
    else:
        n_build, tvd = None, None

    # bounded recent-data sample: the fit sampler's deterministic
    # hash-rank cap (TakeOrderedAndProject, no full shuffle), collected
    # once; the refit and both errors run on it in numpy
    x = _collect_fit_sample(sample, vec_col, id_col, seed, sample_cap)
    if x.shape[1] != len(centroids[0]):
        raise ValueError(
            f"drift sample vectors must all have the index width {len(centroids[0])}"
        )
    if rotation is not None:
        # OPQ index: centroids live in ROTATED space. Rotate the sample
        # into the index frame before BOTH errors — scoring raw vectors
        # against rotated centroids would inflate frozen_err (and
        # err_ratio) structurally, recommending refits with zero drift.
        x = fold_dots(x, rotation)
    refit = _fit_pq_on_matrix(x, 1, n_cells, refit_iters)[0]

    def _mean_nearest_sq(cents) -> float:
        best = np.full(len(x), np.inf)
        for c in np.asarray(cents, dtype=np.float64):
            best = np.minimum(best, ((x - c) ** 2).sum(axis=1))
        return float(best.mean())

    frozen_err = _mean_nearest_sq(centroids)
    refit_err = _mean_nearest_sq(refit)
    err_ratio = frozen_err / refit_err if refit_err > 0 else 1.0
    recommended = bool(
        (tvd is not None and tvd > tvd_threshold)
        or err_ratio > err_ratio_threshold
    )
    return spark.createDataFrame(
        [
            (
                n_cells,
                n_build,
                n_current,
                tvd,
                frozen_err,
                refit_err,
                err_ratio,
                recommended,
            )
        ],
        "n_cells int, n_build long, n_current long, occupancy_tvd double, "
        "frozen_err double, refit_err double, err_ratio double, "
        "refit_recommended boolean",
    )


def refit_pq_index(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_col: str | None = None,
    iters: int = 5,
    seed: int = 43,
    fit_sample_n: int | None = 100_000,
    keep_versions: int = 1,
) -> dict:
    """One-call atomic refit of a maintained IVF-PQ index — the action
    :func:`index_drift_report` recommends (r11 verdict item 3; public
    discipline: FAISS ``train``+rebuild under a version swap).

    Steps, all through Spark and Hadoop-FS writers/renames (object-store safe):

    1. Re-fit the coarse quantizer (``fit_ivf_centroids``, same n_cells)
       and the codebooks (residual or raw per the index's own flag, same
       m/ncodes) on a bounded hash-ranked sample of the CURRENT corpus.
    2. Re-encode the corpus — one deterministic map pass.
    3. Write the new (codes, codebooks, cell_stats) to a fresh sibling
       version dir (never touching the live files).
    4. Commit it by its ``_COMMITTED`` marker. Steps 3–5 are the lake's
       one versioned-directory rule (``sources.lake``: ``next_version``,
       ``commit_version``, ``vacuum_versions``). Readers resolve the live
       version per call (``resolve_index_root``), so every search sees
       old-or-new in full — never new codebooks with old codes. A crash
       before the marker leaves the old version live and the half-written
       dir invisible (a later refit takes the next number past it; the
       dead dir is cleaned by the next successful refit).
    5. Retention: keep the newest ``keep_versions`` committed versions
       besides the new one (default 1 — the immediately-previous version
       stays for searches that resolved before the commit), delete older
       committed versions and any uncommitted debris.

    ``corpus`` must be the full current corpus of raw vectors (what the
    new index should describe). Appends racing the refit window land in
    the OLD version and are dropped by the swap — quiesce appenders or
    replay batches newer than the refit's corpus snapshot afterwards
    (the same contract as any rebuild).

    Returns a small report dict: the new version number, row count, and
    fit shape. Cost: one bounded fit + one encode pass + one write —
    O(corpus) and no shuffle in the encode (SCALE_PROBE.json
    ``refit_ivf_pq`` measured the codegen encode this pass replaced)."""
    from .ivf import fit_ivf_centroids

    if keep_versions < 0:
        raise ValueError(f"keep_versions must be >= 0, got {keep_versions}")
    old_root = resolve_index_root(spark, path)
    codebooks, centroids, residual, rotation = read_pq_meta(spark, old_root)
    if centroids is None:
        raise ValueError(
            f"{path} is a plain PQ index (no centroids) — refit_pq_index "
            "maintains the IVF-PQ family"
        )
    m, ncodes, _ = _check_codebooks(codebooks)
    n_cells = len(centroids)
    if partition_col is not None and partition_col not in corpus.columns:
        raise ValueError(f"corpus must carry partition column {partition_col!r}")
    jvm, fs, _ = hadoop_fs(spark, path)
    # layout guard: a Hive-partitioned index silently rewritten flat would
    # break append_pq_index's O(touched partitions) contract — sniff the
    # live codes dir for `col=` partition subdirs and demand a match
    old_codes = jvm.org.apache.hadoop.fs.Path(f"{old_root}/codes")
    old_parts = sorted(
        st.getPath().getName().split("=", 1)[0]
        for st in (fs.listStatus(old_codes) if fs.exists(old_codes) else [])
        if st.isDirectory() and "=" in st.getPath().getName()
    )
    old_part_col = old_parts[0] if old_parts else None
    if old_part_col != partition_col:
        raise ValueError(
            f"refit partitioning mismatch: live index codes are partitioned "
            f"by {old_part_col!r} but partition_col={partition_col!r} — pass "
            "the index's own scheme (or None for a flat index)"
        )

    fit_corpus = corpus
    if rotation is not None:
        # OPQ index: the rotation is the index's coordinate FRAME, not a
        # fitted quantizer — the refit re-fits centroids/codebooks WITHIN
        # it: the fits read the corpus through rotate_vectors, the encode
        # rotates inside its kernel (the same fold, bit for bit), and the
        # rotation carries into the new version's meta. Re-fitting the
        # rotation itself is a new index build (fit_opq + write_pq_index),
        # by design: it would change the coordinate frame under retained
        # old versions. The width check comes first: rotate_vectors turns
        # a wrong-width vector into NULL, which the fits would then drop.
        from .opq import rotate_vectors

        corpus = _assert_size(
            well_formed_vectors(corpus, vec_col), vec_col, len(rotation),
            "refit_pq_index",
        )
        fit_corpus = (
            rotate_vectors(corpus, rotation, vec_col=vec_col, out_col="__rot__")
            .drop(vec_col)
            .withColumnRenamed("__rot__", vec_col)
        )
    new_centroids = fit_ivf_centroids(
        fit_corpus, vec_col, id_col, k=n_cells, iters=iters, seed=seed,
        fit_sample_n=fit_sample_n,
    )
    if residual:
        new_codebooks = fit_residual_codebooks(
            fit_corpus, new_centroids, vec_col=vec_col, id_col=id_col, m=m,
            ncodes=ncodes, iters=iters, seed=seed, fit_sample_n=fit_sample_n,
        )
    else:
        new_codebooks = fit_pq_codebooks(
            fit_corpus, vec_col=vec_col, id_col=id_col, m=m, ncodes=ncodes,
            iters=iters, seed=seed, fit_sample_n=fit_sample_n,
        )
    # the append's encode: the raw corpus, rotated inside the kernel
    enc = pq_encode_batch(
        corpus, (new_codebooks, new_centroids, residual, rotation), id_col,
        vec_col, partition_col,
    )

    committed = lake.list_versions(spark, path)
    new_ver = lake.next_version(spark, path)
    vdir = lake.version_dir(path, new_ver)
    write_pq_index(
        enc, new_codebooks, vdir, mode="error", partition_col=partition_col,
        centroids=new_centroids, residual=residual, rotation=rotation,
    )
    n_rows = int(spark.read.parquet(f"{vdir}/codes").count())
    lake.commit_version(spark, vdir)
    # retention: the newest keep_versions committed predecessors survive
    # for in-flight readers; older versions and uncommitted debris go
    lake.vacuum_versions(spark, path, keep_last=keep_versions + 1)
    if committed:
        # the legacy un-versioned root files (the pre-first-refit index)
        # are now at least TWO generations old — no reader can have
        # resolved them since the first commit — so they stop lingering
        for child in ("codes", "codebooks", "cell_stats"):
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{child}")
            if fs.exists(p):
                fs.delete(p, True)

    return {
        "version": new_ver,
        "path": vdir,
        "n_rows": n_rows,
        "n_cells": n_cells,
        "m": m,
        "ncodes": ncodes,
        "residual": residual,
    }
