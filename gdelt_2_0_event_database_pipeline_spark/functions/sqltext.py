"""SQL-text construction for literal-array Columns.

A literal array enters a plan as SQL text parsed by ONE ``F.expr`` call
instead of a tree of ``F.lit`` Column calls: each Column call is a py4j
round-trip, and building a large literal tree that way cost seconds of
driver time per plan (measured, r15), while Catalyst parses the same
tree from text in milliseconds. Every numeric literal goes through
:func:`sql_double`, so the parsed tree is bit-identical to the Column
form. Matrix products do not build literal trees at all: they run the
one ``operators.ivf.fold_col`` Arrow UDF.
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
    pages away from the actual bug — a NaN/Inf cell in a literal array.
    Raise a named ValueError at the emit site instead."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(
            f"non-finite matrix value {f!r} cannot be emitted as a SQL "
            "double literal — the literal array contains NaN/Inf "
            "(check the fit inputs)"
        )
    return f"{repr(f)}D"


def sql_arr(vals) -> str:
    """SQL text of a (possibly nested) double array literal —
    ``array(array(1.0D, …), …)``. Parses to the exact tree PySpark's
    ``F.lit(nested_list)`` builds (CreateArray over DOUBLE Literals) but
    in ONE ``F.expr`` round-trip instead of one py4j call per element:
    ``F.lit`` on a 16×16×4 codebook costs ~1.3k driver round-trips
    (~1.5–2 s per plan, measured on the append hot path) vs ~1 ms of
    Catalyst parsing. Bit-exact via :func:`sql_double`.
    Any non-scalar iterable (list, tuple, numpy row) is an array level."""
    if isinstance(vals, numbers.Real):
        return sql_double(vals)
    return "array(" + ", ".join(sql_arr(v) for v in vals) + ")"


def lit_arr(vals) -> Column:
    """A (possibly nested) double array literal as a Column, parsed from
    :func:`sql_arr` text in one ``F.expr`` call."""
    return F.expr(sql_arr(vals))
