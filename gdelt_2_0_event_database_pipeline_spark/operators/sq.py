"""Scalar quantization (SQ8) — per-dimension 8-bit embedding compression
(SURVEY.md §2.10 X3; the simpler standard companion of PQ in ``pq.py``).

Public technique (uniform scalar quantization, as in FAISS's SQ8 index):
each dimension i gets an affine code ``c = floor((x - mn_i) / (mx_i -
mn_i) * 255)`` against the corpus-wide per-dimension [min, max]; decode
is ``mn_i + c/255 * (mx_i - mn_i)``. ~4× smaller at rest than float32
(8-bit-ranged codes, parquet bit-packs the int array), with far milder
accuracy loss than PQ's 32× — the standard middle rung of the
compression ladder (float32 → SQ8 → PQ).

Spark-first shape:
- **fit** (``fit_sq_bounds``): ONE aggregation job — posexplode +
  groupBy(dim) min/max — collecting dim pairs of doubles (bounded
  metadata, like IVF centroids). No iteration, no model object.
- **encode** (``sq_encode``): pure map-side expression — a
  ``transform(vec, (x, i) -> ...)`` against literal bounds arrays. Zero
  shuffles; survives any corpus size by construction.
- **search** (``sq_topk``): asymmetric — true query vectors against
  decode-on-the-fly corpus codes, exact cosine fold + per-query ranked
  window (the ``cosine_topk`` shape; the corpus at rest is ~4× smaller).

Unlike the PQ/IVF family (rows-only by construction: results depend on
fitted codebooks), every SQ step is a closed-form deterministic
expression, so ``q_sq_encode`` and ``q_sq_topk`` carry full DuckDB
oracles — floor-before-int-cast on both engines (DuckDB's double→INT
cast rounds, Spark's truncates: the pinned cross-engine rule), and
fold-vs-``list_dot_product`` bit-parity is already proven by
``q_cosine_topk``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import lit_arr
from .ivf import well_formed_vectors
from .pq import _assert_size
from .similarity import _as_double, cosine


def fit_sq_bounds(
    df: DataFrame,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """(mins, maxs): corpus-wide per-dimension bounds from one
    posexplode + groupBy(dim) aggregation. min/max aggregates are
    order-insensitive exact doubles — deterministic on any partitioning
    (no summation, so no FP reassociation concerns). The collect is
    dim rows of metadata."""
    rows = (
        well_formed_vectors(df, vec_col)
        .select(F.posexplode(_as_double(vec_col)).alias("__pos__", "__val__"))
        .groupBy("__pos__")
        .agg(F.min("__val__").alias("mn"), F.max("__val__").alias("mx"))
        .collect()
    )
    if not rows:
        raise ValueError("cannot fit SQ bounds on an empty corpus")
    by_pos = {r["__pos__"]: (r["mn"], r["mx"]) for r in rows}
    dims = sorted(by_pos)
    if dims != list(range(len(dims))):
        raise ValueError("inconsistent vector dimensions in corpus")
    mins = [float(by_pos[i][0]) for i in dims]
    maxs = [float(by_pos[i][1]) for i in dims]
    return mins, maxs


def sq_encode_expr(vec: Column, mins: list[float], maxs: list[float]) -> Column:
    """array<int> of 8-bit codes: floor((x - mn_i)/(mx_i - mn_i) * 255),
    clamped to [0, 255]; constant dimensions (mx == mn) encode as 0.
    Explicit ``floor`` BEFORE the int cast so Spark and the DuckDB oracle
    agree (double→int casts round in DuckDB, truncate in Spark)."""
    mn, mx = lit_arr(mins), lit_arr(maxs)

    def code(x: Column, i: Column) -> Column:
        lo = F.element_at(mn, i + F.lit(1))
        hi = F.element_at(mx, i + F.lit(1))
        raw = F.floor((x - lo) / (hi - lo) * F.lit(255.0))
        clamped = F.least(F.lit(255), F.greatest(F.lit(0), raw))
        return F.when(hi == lo, F.lit(0)).otherwise(clamped).cast("int")

    return F.transform(vec, code)


def sq_decode_expr(codes: Column, mins: list[float], maxs: list[float]) -> Column:
    """array<double> reconstruction: mn_i + c/255 * (mx_i - mn_i)."""
    mn, mx = lit_arr(mins), lit_arr(maxs)

    def dec(c: Column, i: Column) -> Column:
        lo = F.element_at(mn, i + F.lit(1))
        hi = F.element_at(mx, i + F.lit(1))
        return lo + c.cast("double") / F.lit(255.0) * (hi - lo)

    return F.transform(codes, dec)


def sq_encode(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): map-side scalar quantization against the
    literal bounds — zero shuffles, whole-stage codegen, no per-row
    Python. Rows with NULL/empty vectors are dropped (the shared
    ``well_formed_vectors`` precondition)."""
    if len(mins) != len(maxs):
        raise ValueError("mins/maxs length mismatch")
    return _assert_size(
        well_formed_vectors(df, vec_col), vec_col, len(mins), "sq_encode"
    ).select(
        F.col(id_col),
        sq_encode_expr(_as_double(vec_col), mins, maxs).alias("codes"),
    )


def sq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over SQ8 codes: decode-on-the-fly corpus
    reconstruction against true (broadcast) query vectors — the
    ``cosine_topk`` shape reading a ~4×-smaller corpus at rest. Output
    schema matches it: (query_id, neighbor_id, cos_sim, rank); cos_sim
    is cosine(q, decode(codes)) — deterministic, so fully oracle-able,
    unlike the codebook-dependent PQ family."""
    if len(mins) != len(maxs):
        raise ValueError("mins/maxs length mismatch")
    q = _assert_size(
        well_formed_vectors(queries, vec_col), vec_col, len(mins), "sq_topk queries"
    ).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qv__")
    )
    c = _assert_size(corpus_codes, "codes", len(mins), "sq_topk codes").select(
        F.col(id_col).alias("neighbor_id"),
        sq_decode_expr(F.col("codes"), mins, maxs).alias("__cv__"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cos_sim", cosine(F.col("__qv__"), F.col("__cv__")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
