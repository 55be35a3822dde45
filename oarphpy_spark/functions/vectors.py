"""Vector math as JVM-side column expressions.

No UDFs: ``F.zip_with`` + ``F.aggregate`` keep dot products inside
whole-stage codegen — at 100 TB this is the difference between a scan-
bound job and a Python-worker-bound one. (``q_pandas_udf_norm`` shows
the Arrow-UDF alternative; these built-in forms are the hot path.)

All math in double; left-to-right accumulation matches DuckDB's list
function evaluation order, so results are bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def dot_sql(a_sql: str, b_sql: str) -> str:
    """:func:`dot` as SQL text over two array expressions: the same
    sequential fold in double, so results are bit-identical."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def lit_double_array_sql(values) -> str:
    """SQL text for an array<double> literal.

    Building literal vectors element-by-element with ``F.lit``/``F.array``
    costs one py4j round-trip per element — ~2 s of plan-build time for a
    handful of 64-dim vectors. One expression string is one round-trip.
    ``repr`` is shortest-round-trip, so cast('…' as double) is exact.
    """
    return "array(" + ", ".join(f"cast('{x!r}' as double)" for x in values) + ")"


def dot_lit(vec_sql: str, values) -> Column:
    """``dot`` of a column (given as SQL text) with a driver-side constant
    vector, built as a single SQL expression. Same sequential fold and
    double math as :func:`dot`, so results are bit-identical."""
    return F.expr(dot_sql(vec_sql, lit_double_array_sql(values)))


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


def l2_norm_sql(a_sql: str) -> str:
    """:func:`l2_norm` as SQL text over an array expression."""
    return f"sqrt({dot_sql(a_sql, a_sql)})"


def cosine(a, b) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
