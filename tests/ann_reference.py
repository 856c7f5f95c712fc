"""Spark SQL references for the ANN kernels: the encode
(``pq.pq_encode_batch``) and the literal-matrix fold (``ivf.fold_col``).

The nearest-code rule spelled in plain Spark SQL: posexplode → broadcast
(pos → sub, code, weight) join → groupBy(id, sub) of conditional dot
``F.sum``s → the code with the lowest |c|² − 2·v·c by ``array_sort`` over
(score, code id) structs. Each id's exploded rows reach one partial
aggregate in position order, so every dot is a left fold over ascending
positions from 0.0, and ``array_sort`` puts the lower id first on exact
ties and NaN last. The package's corpus encode ran this plan before the
Arrow kernel replaced it; the parity tests keep it as the independent
statement of the bits the kernel must reproduce, including the codes of
indexes written by that older encode.

:func:`reference_fold` is the matrix product spelled as SQL text: one
``aggregate(zip_with(vec, array(<row literals>)))`` fold per matrix row,
the expression rotation, PCA projection, JL projection and the sign-LSH
planes compiled to before the Arrow UDF replaced it. The operators must
reproduce its bits, NULLs and NaNs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gdelt_2_0_event_database_pipeline_spark.functions.sqltext import sql_arr
from gdelt_2_0_event_database_pipeline_spark.operators.ivf import code_sq_norms


def _fold_sum(col):
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)


def _nearest(df: DataFrame, codebooks, id_col: str, vec_col: str) -> DataFrame:
    """(__eid__, __sub__, __code__, __csq__) per (vector, subspace)."""
    spark = df.sparkSession
    subdim = len(codebooks[0][0])
    ncodes = len(codebooks[0])
    wtab = spark.createDataFrame(
        [
            (s * subdim + j, s, c, float(w))
            for s, cb in enumerate(codebooks)
            for c, cent in enumerate(cb)
            for j, w in enumerate(cent)
        ],
        "__pos__ int, __sub__ int, __code__ int, __w__ double",
    )
    csq_df = spark.createDataFrame(
        list(enumerate(code_sq_norms(codebooks))),
        "__sub__ int, __sq__ array<double>",
    )
    persub = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(
            F.col(id_col).alias("__eid__"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "__pos__", "__val__"
            ),
        )
        .join(F.broadcast(wtab), "__pos__")
        .groupBy("__eid__", "__sub__")
        .agg(
            *[
                F.sum(
                    F.when(F.col("__code__") == c, F.col("__val__") * F.col("__w__"))
                ).alias(f"__d{c}__")
                for c in range(ncodes)
            ]
        )
        .join(F.broadcast(csq_df), "__sub__")
    )
    scores = F.array(
        *[
            F.struct(
                (F.element_at("__sq__", c + 1) - 2 * F.col(f"__d{c}__")).alias("s"),
                F.lit(c).alias("cid"),
            )
            for c in range(ncodes)
        ]
    )
    best = F.array_sort(scores).getItem(0).getField("cid")
    return persub.select(
        "__eid__",
        "__sub__",
        best.alias("__code__"),
        F.element_at("__sq__", best + F.lit(1)).alias("__csq__"),
    )


def reference_pq_encode(
    df: DataFrame, codebooks, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, codes, vhat_sq): codes packed in subspace order, vhat_sq the
    chosen |c|² folded over ascending subspaces from 0.0."""
    packed = (
        _nearest(df, codebooks, id_col, vec_col)
        .select(
            "__eid__",
            F.struct(
                F.col("__sub__").alias("sub"),
                F.col("__code__").alias("code"),
                F.col("__csq__").alias("csq"),
            ).alias("__sc__"),
        )
        .groupBy("__eid__")
        .agg(F.array_sort(F.collect_list("__sc__")).alias("__p__"))
    )
    return packed.select(
        F.col("__eid__").alias(id_col),
        F.transform("__p__", lambda s: s["code"]).alias("codes"),
        _fold_sum(F.transform("__p__", lambda s: s["csq"])).alias("vhat_sq"),
    )


def reference_assign_cells(
    df: DataFrame, centroids, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, cell): the one-subspace nearest code."""
    return reference_pq_encode(df, [centroids], id_col, vec_col).select(
        id_col, F.col("codes")[0].alias("cell")
    )


def reference_residual_encode(
    df: DataFrame, codebooks, centroids, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes, vhat_sq): codes of v − centroid[cell], and
    vhat_sq = (|centroid|² + 2·cross) + Σ chosen |c|², cross folded over
    ascending subspaces from 0.0."""
    spark = df.sparkSession
    cm = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, subdim = cb.shape
    cent_sq = [float((c * c).sum()) for c in cm]
    xtab = np.einsum("ksd,scd->ksc", cm.reshape(cm.shape[0], m, subdim), cb)
    cent_df = spark.createDataFrame(
        [(i, [float(w) for w in c], cent_sq[i], xtab[i].tolist()) for i, c in enumerate(centroids)],
        "cell int, __cent__ array<double>, __csq__ double, __xtab__ array<array<double>>",
    )
    resid = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v__"))
        .join(reference_assign_cells(df, centroids, id_col, vec_col), id_col)
        .join(F.broadcast(cent_df), "cell")
        .select(
            id_col, "cell", "__csq__", "__xtab__",
            F.zip_with("__v__", "__cent__", lambda x, c: x - c).alias("__rv__"),
        )
    )
    enc = reference_pq_encode(resid, codebooks, id_col, "__rv__")
    out = enc.join(resid.select(id_col, "cell", "__csq__", "__xtab__"), id_col)
    cross = _fold_sum(
        F.zip_with("codes", "__xtab__", lambda cd, t: F.element_at(t, cd + F.lit(1)))
    )
    return out.select(
        id_col, "cell", "codes",
        (F.col("__csq__") + 2 * cross + F.col("vhat_sq")).alias("vhat_sq"),
    )


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_dots(vec_sql: str, rows) -> list[str]:
    """One left fold from 0.0 of vector element × weight per row."""
    return [
        f"aggregate(zip_with({vec_sql}, {sql_arr(row)}, (a, b) -> a * b), "
        "0.0D, (acc, v) -> acc + v)"
        for row in rows
    ]


def reference_fold(
    df: DataFrame, vec_col: str, rows, center=None, out_col: str = "__ref__"
) -> DataFrame:
    """``df`` plus ``out_col`` = the dots of (vec − center) with each row
    of ``rows``, NULL for a NULL or wrong-width vector."""
    q = _quoted(vec_col)
    vec = f"CAST({q} AS ARRAY<DOUBLE>)"
    if center is not None:
        vec = f"zip_with({vec}, {sql_arr(center)}, (x, m) -> x - m)"
    dots = ", ".join(_sql_dots(vec, rows))
    return df.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN {q} IS NOT NULL AND size({q}) = {len(rows[0])} "
            f"THEN array({dots}) END"
        ),
    )


def reference_lsh_signature(vec_col: str, planes) -> Column:
    """Sign-bit signature over the folds: bit p set where dot p >= 0 (a
    NULL dot leaves it clear)."""
    bits = " + ".join(
        f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, dot in enumerate(_sql_dots(_quoted(vec_col), planes))
    )
    return F.expr(f"CAST({bits} AS INT)")
