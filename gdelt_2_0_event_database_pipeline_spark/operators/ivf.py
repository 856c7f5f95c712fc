"""IVF (inverted-file) approximate nearest-neighbor search (SURVEY.md §2.10
X3 scale path, complementing sign-LSH in ``similarity.py``).

Classic two-level ANN: a small k-means codebook (the coarse quantizer)
partitions the corpus into cells; a query probes only its ``nprobe`` nearest
cells and exact-rescores inside them — corpus scanned once to assign cells,
then every search touches ~nprobe/k of the data.

Spark-first shape:
- **fit**: Lloyd iterations as DataFrame aggregations. Centroids are tiny
  (k×dim floats) so they round-trip through the driver each iteration and
  enter the next plan as literals — no MLlib model object, fully
  deterministic (hash-seeded init, fixed iteration count).
- **search**: cell assignment is a pure expression against literal
  centroids (map-only); the probe join is an equi-join on cell id.

Sign-LSH vs IVF: LSH is stateless/streaming-friendly; IVF adapts to the
data distribution (clustered corpora get far better recall at the same
candidate budget) at the cost of a fit pass.

Measured recall-vs-nprobe curve: SCALE.md "ANN recall curves" (regenerate
with ``tools/ann_recall.py``; artifact ``ANN_RECALL.json``) — at sf0.1,
recall@5 rises ~linearly in probed mass on the near-uniform synthetic
embeddings (0.25 at nprobe=1 → 0.79 at 8 → exact 1.000 at nprobe=cells,
the built-in sanity bound).

Default ``nprobe`` policy (round-8 verdict item 6): ``ivf_topk`` no longer
hard-codes a probe count — when ``nprobe`` is omitted it calls
``nprobe_for_recall(n_cells, recall_target=0.75)``, which inverts the
checked-in measured curve (``RECALL_CURVE`` below = ANN_RECALL.json's
probed-fraction → recall@5 points on near-uniform data, IVF's WORST case;
clustered corpora beat it at the same fraction, pinned by
``test_ivf_topk_recall_on_clustered``). The old fixed default (nprobe=3 of
16 cells) measured recall 0.47 — a silent-quality trap for a curation
pipeline; the curve-derived default lands ≥0.75 even on uniform data, and
``tests/test_ivf.py::test_default_nprobe_recall_sf01`` re-measures it.

Two assignment paths, measured trade-off:
- ``nearest_cells`` — pure expression against literal centroids, map-only
  (zero shuffles, zero extra stages). Interpreted HOF folds cost
  ~k×dim×2 µs per row, which WINS below ~10⁵ rows where distributed stage
  latency (each extra stage ≈ 0.5 s on local[32]) dominates compute.
- ``assign_cells`` — posexplode + broadcast weight-table join + one wide
  codegen aggregate (k conditional dot sums), argmin at expression level.
  ONE shuffle of (id, k dots); this is the ≥10⁶-row path where per-row
  interpreter cost would dominate. Equality of the two paths is pinned by
  ``tests/test_ivf.py::test_assignment_paths_agree``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import lit_arr
from .similarity import _as_double, cosine

#: measured recall@5 vs probed-cell FRACTION (nprobe / n_cells), from the
#: checked-in ANN_RECALL.json (sf0.1, 16 cells, 25 hash-ranked queries,
#: near-uniform synthetic embeddings — IVF's worst case; regenerate with
#: ``tools/ann_recall.py``). Monotone in fraction by construction.
RECALL_CURVE: list[tuple[float, float]] = [
    (1 / 16, 0.248),
    (2 / 16, 0.376),
    (3 / 16, 0.472),
    (4 / 16, 0.544),
    (6 / 16, 0.712),
    (8 / 16, 0.792),
    (12 / 16, 0.912),
    (16 / 16, 1.000),
]


def nprobe_for_recall(n_cells: int, recall_target: float = 0.75) -> int:
    """Smallest ``nprobe`` whose probed-cell fraction matches a MEASURED
    ``RECALL_CURVE`` point with recall@5 >= ``recall_target``.

    Deliberately a step function, not an interpolation: only the curve's
    measured points are evidence, and recall between them is noisy (a
    15-query re-sample at the interpolated 7/16 fraction measured 0.707
    against an interpolated 0.75 — below target), so the derivation rounds
    UP to the next measured point. The curve was measured on near-uniform
    embeddings where recall is ~proportional to probed mass — the
    pessimistic regime; clustered data over-delivers at the same fraction.
    Targets above the curve's maximum clamp to ``n_cells`` (exact
    search)."""
    if n_cells <= 0:
        raise ValueError("n_cells must be positive")
    import math

    for f, r in RECALL_CURVE:
        if r >= recall_target:
            return max(1, min(n_cells, math.ceil(f * n_cells)))
    return n_cells  # target above measured max → exact


def well_formed_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rows whose vector is usable for distance math (non-NULL, non-empty).
    Both assignment paths require this; filtering explicitly keeps their
    outputs row-aligned (``assign_cells`` silently drops such rows,
    ``nearest_cells`` emits a degenerate cell for them)."""
    return df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))


def _sq_dist_to(vec: Column, center: Sequence[float]) -> Column:
    carr = F.array(*[F.lit(float(w)) for w in center])
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, w: (x - w) * (x - w)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def nearest_cells(vec: Column, centroids: list[list[float]], nprobe: int = 1) -> Column:
    """array<int> of the ``nprobe`` nearest centroid ids (ascending distance;
    ties break toward the lower id via the packed sort key)."""
    dists = F.array(
        *[
            F.struct(
                _sq_dist_to(vec, c).alias("d"), F.lit(i).alias("cid")
            )
            for i, c in enumerate(centroids)
        ]
    )
    ordered = F.array_sort(dists)  # struct sort: by d, then cid
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["cid"])


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """(id, cell) pairs: each row's ``nprobe`` nearest centroids (ascending
    distance, lower cell id on ties) — the large-corpus assignment path
    (see module doc). One shuffle: the exploded (id, pos, val) view joins
    the broadcast (cell, pos, weight) table and aggregates k conditional
    dot sums per id in a single codegen groupBy; |v|² is row-constant so
    argmin |v-c|² reduces to argmin(|c|² - 2·v·c) over k small columns.

    Precondition: vectors must be non-NULL, non-empty, and dim-consistent.
    Rows with NULL/empty vectors produce no posexplode output and are
    DROPPED from the result (``nearest_cells`` would instead emit a
    degenerate assignment for them) — callers filter with
    ``well_formed_vectors`` first. Tie caveat: this path scores with
    |c|² − 2·v·c while ``nearest_cells`` folds |v−c|² exactly; on
    floating-point near-ties the argmin can differ between paths."""
    k = len(centroids)
    spark = df.sparkSession
    cent = spark.createDataFrame(
        [
            (cid, j, float(w))
            for cid, c in enumerate(centroids)
            for j, w in enumerate(c)
        ],
        "cell int, __pos__ int, __w__ double",
    )
    csq = [float(sum(w * w for w in c)) for c in centroids]
    wide = (
        df.select(
            F.col(id_col).alias("__aid__"),
            F.posexplode(_as_double(vec_col)).alias("__pos__", "__val__"),
        )
        .join(F.broadcast(cent), "__pos__")
        .groupBy("__aid__")
        .agg(
            *[
                F.sum(
                    F.when(F.col("cell") == i, F.col("__val__") * F.col("__w__"))
                ).alias(f"__d{i}__")
                for i in range(k)
            ]
        )
    )
    scores = F.array(
        *[
            F.struct(
                (F.lit(csq[i]) - 2 * F.col(f"__d{i}__")).alias("s"),
                F.lit(i).alias("cid"),
            )
            for i in range(k)
        ]
    )
    picked = F.transform(F.slice(F.array_sort(scores), 1, nprobe), lambda s: s["cid"])
    return wide.select(
        F.col("__aid__").alias(id_col), F.explode(picked).alias("cell")
    )


def nearest_cells_expr_mapside(
    centroids: list[list[float]], vec: Column, nprobe: int = 1
) -> Column:
    """``array<int>`` of the ``nprobe`` nearest cell ids over an
    already-cast ``array<double>`` vector Column — :func:`assign_cells`'s
    scoring as a reusable map-side expression: the same ``|c|² − 2·v·c``
    score (NOT ``nearest_cells``'s |v−c|² fold — the documented two-path
    tie caveat), dots folded over ascending positions exactly as the
    posexplode path's single-partial ``F.sum``, same array_sort tie
    rule. Centroids ride as ONE nested array literal, so the plan stays
    O(1) nodes regardless of k×dim."""
    k = len(centroids)
    # one F.expr parse instead of one py4j call per literal cell (~520
    # calls at k=8, d=64 — the guide §4 construction cost); identical
    # CreateArray-of-DOUBLE-Literals tree, bit-exact D-literal spelling,
    # pinned by the mapside==assign_cells differential in tests/test_ivf.py
    cents = lit_arr(centroids)
    csq = lit_arr([sum(w * w for w in c) for c in centroids])

    def _dot(cent):
        return F.aggregate(
            F.zip_with(vec, cent, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scores = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            (
                F.element_at(csq, i + 1) - 2 * _dot(F.element_at(cents, i + 1))
            ).alias("s"),
            i.alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scores), 1, nprobe), lambda s: s["cid"]
    )


def assign_cells_mapside(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Map-only twin of :func:`assign_cells` for SMALL batches (the
    streaming-append hot path): zero shuffles, zero per-batch broadcast
    builds — :func:`nearest_cells_expr_mapside` over the cast vector.
    BIT-IDENTICAL to ``assign_cells`` by construction (see the
    expression helper's docstring); pinned by the differential test in
    tests/test_ivf.py. Same ``well_formed_vectors`` precondition
    (NULL/empty rows dropped)."""
    picked = nearest_cells_expr_mapside(
        centroids, F.col(vec_col).cast("array<double>"), nprobe
    )
    return well_formed_vectors(df, vec_col).select(
        F.col(id_col), F.explode(picked).alias("cell")
    )


def probe_assignments(vectors, centroids: list[list[float]], nprobe: int):
    """Per query vector, its ``nprobe`` nearest centroid ids — ascending
    |q-c|², stable ties toward the lower cell id (the same rule as
    ``nearest_cells``' packed struct sort). Driver-side numpy over the
    bounded query set; the ONE probe rule shared by ``ivf_topk`` and
    ``pq.ivf_pq_topk`` so the two search paths can never desynchronize.
    Returns an (n_queries × nprobe) integer matrix."""
    import numpy as np

    qm = np.asarray(vectors, dtype=np.float64)
    cm = np.asarray(centroids, dtype=np.float64)
    d2 = (
        (qm * qm).sum(axis=1)[:, None]
        + (cm * cm).sum(axis=1)[None, :]
        - 2.0 * (qm @ cm.T)
    )
    return d2.argsort(axis=1, kind="stable")[:, :nprobe]


def fit_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    seed: int = 42,
    fit_sample_n: int | None = 100_000,
) -> list[list[float]]:
    """Deterministic k-means-lite: init = k rows ranked by xxhash64(id, seed)
    (reproducible on any partitioning), then ``iters`` Lloyd steps. Each step
    is one groupBy over the fit set with dim avg-aggregates; centroids travel
    driver↔plan as literals. Empty cells keep their previous centroid.

    ``fit_sample_n`` caps the FIT set with the hash-ranked deterministic
    sampler (TakeOrderedAndProject — no full shuffle): a coarse quantizer
    needs a representative sample, not the corpus, so at 10⁹ rows the fit
    touches ≤100k vectors while cell ASSIGNMENT of the full corpus stays on
    the codegen ``assign_cells`` path. ``None`` fits on everything that
    fits the driver (local experiments).

    The Lloyd iterations run DRIVER-SIDE on the collected sample (numpy,
    vectorized): the fit set is bounded by construction (≤100k×dim doubles
    ≈ 50 MB at dim 64), and one bounded collect + local matrix math beats
    ``iters`` separate Spark jobs each carrying a k×dim-literal expression
    tree through analysis/codegen — plan-build latency dominated the fit at
    every scale since compute is capped. This is model fitting on a bounded
    sample, not a data-sized driver loop; the corpus itself never leaves
    the executors."""
    import numpy as np

    df = well_formed_vectors(df, vec_col)
    v = _as_double(vec_col)
    sel = df.select(
        v.alias("__v__"), F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h__")
    )
    if fit_sample_n is not None:
        # hash-ranked top-n: deterministic on any partitioning, executes as
        # TakeOrderedAndProject (per-partition heap, no full shuffle/sort)
        sel = sel.orderBy("__h__").limit(fit_sample_n)
    rows = sel.collect()
    if not rows:
        raise ValueError("cannot fit IVF on an empty corpus")
    # fix the row order locally (hash asc) so init AND summation order are
    # partitioning-independent — numpy reductions are then bit-reproducible
    rows.sort(key=lambda r: r["__h__"])
    x = np.asarray([r["__v__"] for r in rows], dtype=np.float64)
    cents = x[:k].copy()  # init = k hash-lowest rows (same rule as before)
    k_eff = cents.shape[0]

    x_sq = (x * x).sum(axis=1)
    for _ in range(iters):
        # argmin_c |v-c|² = argmin_c (|c|² - 2 v·c) + |v|²; ties -> lower cid
        # (np.argmin picks the first minimum, matching nearest_cells)
        d2 = x_sq[:, None] + (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        assign = d2.argmin(axis=1)
        for c in range(k_eff):
            members = x[assign == c]
            if len(members):  # empty cells keep their previous centroid
                cents[c] = members.mean(axis=0)
    return [list(map(float, c)) for c in cents]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_target: float = 0.75,
    corpus_cells: DataFrame | None = None,
    query_probes: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k through the IVF index: corpus rows live in
    their nearest cell; each query probes its ``nprobe`` nearest cells and
    exact-rescores the members. Output schema matches
    ``similarity.cosine_topk``.

    ``corpus_cells`` — an (id, cell) frame computed once at ingest
    (``assign_cells`` output, typically persisted) — skips the query-time
    corpus assignment pass entirely: the deployment shape, and what lets
    a persisted IVF index carry a DuckDB oracle (the at-rest cells are
    data both engines read, not a float argmin both must reproduce).

    ``query_probes`` — a (query id, cell) frame of PRE-COMPUTED probe
    assignments (``probe_assignments`` output, persisted) — extends the
    same at-rest argument to probe selection: a near-tie between two
    centroid distances could otherwise resolve differently across BLAS
    builds (numpy matmul here vs a fold in an oracle engine), so
    persisting the probes makes them data both engines read rather than
    a float argsort both must reproduce. The frame is bounded (queries ×
    nprobe rows) and is collected driver-side like the queries are.

    ``nprobe=None`` (the default) derives the probe count from the
    measured recall curve: ``nprobe_for_recall(len(centroids),
    recall_target)`` — worst-case recall@5 ≥ ``recall_target`` per the
    checked-in ANN_RECALL.json measurement. Pass an explicit ``nprobe``
    to pin the cost budget instead.

    The CORPUS side is assigned via ``assign_cells`` (posexplode + codegen
    aggregate — one bounded shuffle of (id, k dots), no per-row interpreted
    k×dim fold, the shape that survives a 10⁹-row corpus); the QUERY side —
    small by construction (it is broadcast into the probe join regardless) —
    is collected and probe-assigned driver-side with numpy. Building the
    probe cells as data instead of a ``nearest_cells`` expression keeps
    k×dim×nprobe literals out of the plan: analysis + codegen of that
    literal tree was ~3 s of one-time latency per distinct codebook, for
    zero distributed work (the same bounded-collect reasoning as
    ``fit_ivf_centroids``). Both sides are pre-filtered to well-formed
    vectors so the paths see identical row sets (see ``assign_cells``
    precondition)."""
    if nprobe is None:
        nprobe = nprobe_for_recall(len(centroids), recall_target)
    corpus_wf = well_formed_vectors(corpus, vec_col)
    if corpus_cells is None:
        corpus_cells = assign_cells(
            corpus_wf, centroids, id_col=id_col, vec_col=vec_col, nprobe=1
        )
    cells = corpus_cells.select(
        F.col(id_col).alias("__cell_id__"), F.col("cell").alias("__cell__")
    )
    c = corpus_wf.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cv__")
    ).join(cells, F.col("neighbor_id") == F.col("__cell_id__")).drop("__cell_id__")

    q_rows = (
        well_formed_vectors(queries, vec_col)
        .select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv__"))
        .collect()
    )
    spark = corpus.sparkSession
    from pyspark.sql import types as T

    q_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("__qv__", T.ArrayType(T.DoubleType())),
            T.StructField("__cell__", T.IntegerType()),
        ]
    )
    if not q_rows:
        q = spark.createDataFrame([], q_schema)
    elif query_probes is not None:
        pm: dict = {}
        for r in query_probes.collect():  # bounded: queries × nprobe rows
            pm.setdefault(r[0], []).append(int(r[1]))
        missing = [r["query_id"] for r in q_rows if r["query_id"] not in pm]
        if missing:
            # stale/partial probes artifact → loud failure, not vanishing
            # queries (r13 ADVICE; same guard as pq.ivf_pq_topk)
            raise ValueError(
                f"query_probes has no rows for {len(missing)} query id(s) "
                f"(e.g. {missing[:5]!r}) — regenerate the probes artifact "
                "or pass query_probes=None to assign probes inline"
            )
        q = spark.createDataFrame(
            [
                (r["query_id"], list(r["__qv__"]), cell)
                for r in q_rows
                for cell in pm.get(r["query_id"], [])
            ],
            q_schema,
        )
    else:
        probes = probe_assignments(
            [r["__qv__"] for r in q_rows], centroids, nprobe
        )
        q = spark.createDataFrame(
            [
                (r["query_id"], list(r["__qv__"]), int(cell))
                for r, row in zip(q_rows, probes)
                for cell in row
            ],
            q_schema,
        )

    scored = (
        c.alias("c")
        .join(
            F.broadcast(q.alias("q")),
            (F.col("c.__cell__") == F.col("q.__cell__"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cos_sim", cosine(F.col("__qv__"), F.col("__cv__")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
