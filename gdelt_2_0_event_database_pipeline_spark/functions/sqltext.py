"""SQL-text construction for literal-heavy Column expressions.

Rotation, projection, codebook and centroid matrices enter plans as SQL
text parsed by ONE ``F.expr`` call instead of a tree of ``F.lit`` /
``zip_with`` / ``aggregate`` Column calls: each Column call is a py4j
round-trip, and building a d²-literal tree that way cost seconds of
driver time per plan (measured, r15), while Catalyst parses the same
tree from text in milliseconds. Every numeric literal goes through
:func:`sql_double`, so the parsed tree is bit-identical to the Column
form.
"""

from __future__ import annotations

import math
import numbers

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_double(v: float) -> str:
    """Exact double literal for SQL text: ``repr(float)`` is the shortest
    round-tripping decimal and the ``D`` suffix makes the parser emit a
    DOUBLE Literal node directly (``Double.parseDouble`` — bit-identical).
    A ``CAST('…' AS DOUBLE)`` spelling would parse to the same VALUE but
    leave thousands of un-folded Cast nodes that every analysis pass of
    every composed plan re-walks — measured ~20% slower OPQ builds.

    Non-finite values are rejected LOUDLY (r15 ADVICE): ``repr(nan)`` is
    ``'nan'``, which the SQL parser turns into a Catalyst ParseException
    pages away from the actual bug — a NaN/Inf cell in a rotation/PCA/
    projection matrix. Raise a named ValueError at the emit site instead."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(
            f"non-finite matrix value {f!r} cannot be emitted as a SQL "
            "double literal — the rotation/projection/codebook matrix "
            "contains NaN/Inf (check the fit inputs)"
        )
    return f"{repr(f)}D"


def sql_arr(vals) -> str:
    """SQL text of a (possibly nested) double array literal —
    ``array(array(1.0D, …), …)``. Parses to the exact tree PySpark's
    ``F.lit(nested_list)`` builds (CreateArray over DOUBLE Literals) but
    in ONE ``F.expr`` round-trip instead of one py4j call per element:
    ``F.lit`` on a 16×16×4 codebook costs ~1.3k driver round-trips
    (~1.5–2 s per plan, measured on the append hot path) vs ~1 ms of
    Catalyst parsing (guide §4 — the r15 rotate_vectors finding applied
    to every literal-matrix site). Bit-exact via :func:`sql_double`.
    Any non-scalar iterable (list, tuple, numpy row) is an array level."""
    if isinstance(vals, numbers.Real):
        return sql_double(vals)
    return "array(" + ", ".join(sql_arr(v) for v in vals) + ")"


def sql_dots(vec_sql: str, rows) -> list[str]:
    """SQL text of one dot product of the array expression ``vec_sql`` with
    each literal row. Keep the operand order (vector element × weight,
    summed left to right from 0.0): rotation, projection and LSH results
    are pinned to it bit for bit."""
    return [
        f"aggregate(zip_with({vec_sql}, {sql_arr(row)}, (a, b) -> a * b), "
        "0.0D, (acc, v) -> acc + v)"
        for row in rows
    ]


def lit_arr(vals) -> Column:
    """A (possibly nested) double array literal as a Column, parsed from
    :func:`sql_arr` text in one ``F.expr`` call."""
    return F.expr(sql_arr(vals))


def check_expr_col(name: str) -> str:
    """Column-name contract for the F.expr-generated paths (r15 ADVICE):
    the generated SQL backtick-quotes ``name``, which resolves TOP-LEVEL
    columns only — a dotted name is taken literally (not as a nested
    struct field, unlike ``F.col``), and a backtick inside the name would
    break out of the quoting. Reject the backtick case loudly; dotted
    names stay allowed with the literal-name meaning documented here
    (select/alias the nested field first if you need struct access)."""
    if "`" in name:
        raise ValueError(
            f"column name {name!r} contains a backtick — unsupported on "
            "the F.expr-generated paths (alias the column first)"
        )
    return name
