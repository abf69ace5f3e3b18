"""Vector math over ``array<float>`` embedding columns, and the in-row
pair expansion of an array column.

All JVM-side higher-order functions (``aggregate`` / ``zip_with`` /
``transform``) — no Python in the hot path, so cosine scoring scales
linearly with executor count. The lambdas are interpreted, not
whole-stage codegen'd: these functions are ``CodegenFallback``
expressions, so ``explain("codegen")`` of a ``cosine_similarity``
projection shows the ``Project`` outside every codegen subtree (no
``*(n)`` marker).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sq_l2(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two equal-length arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_l2_sql(a: str, b: str) -> str:
    """:func:`sq_l2` as Spark SQL text over the array expressions ``a``
    and ``b``, for kernels written inside an ``F.expr`` lambda."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def array_pairs(arr: str, fields: str) -> Column:
    """Explode every pair ``(x, y)`` of array column ``arr`` with ``x``
    before ``y``, one row per pair, as ``struct(<fields>)`` — ``fields``
    is a SQL struct body over the lambda variables ``x`` and ``y``, e.g.
    ``"x AS u, y AS v"``. Over a sorted, distinct array every pair comes
    out once with ``x < y``: the row-local C(k, 2) expansion that
    replaces a quadratic self-join on the grouping key (basket pairs,
    LSH bucket candidates)."""
    return F.expr(
        f"explode(flatten(transform({arr}, (x, i) ->"
        f" transform(slice({arr}, i + 2, size({arr})), y -> struct({fields})))))"
    )
