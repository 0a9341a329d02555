"""Vector math over ``array<float>`` embedding columns — built-in
higher-order functions (``zip_with`` + ``aggregate``), JVM-side, no UDF.

Everything folds left-to-right in element order after an explicit cast to
double, so the DuckDB oracle (same order, same IEEE doubles) reproduces the
results; similarity values are rounded before comparison/ranking to keep the
cross-engine contract robust.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)


def dot(a: Column, b: Column) -> Column:
    return _sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Codegen twin of :func:`dot` for a statically known dimension.

    The higher-order fold in :func:`dot` is interpreted per element (no
    whole-stage codegen, a zipped array allocation per pair), which
    dominates every all-pairs scoring join.  Unrolling the fold into a
    left-associated chain of ``acc + a[i]*b[i]`` compiles into straight-
    line generated code — the SAME IEEE operation sequence (start 0.0,
    add products in element order, identical casts), so results are
    bit-identical, not merely close.  Rows whose arrays do not match
    ``dim`` fall back to the fold itself, keeping the value contract for
    every input (out-of-range ``element_at`` would otherwise yield NULL
    where the fold yields a number)."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + (
            F.element_at(a, i).cast("double")
            * F.element_at(b, i).cast("double")
        )
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim), acc
    ).otherwise(dot(a, b))


def norm(a: Column) -> Column:
    return F.sqrt(_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


# --- DuckDB twins (same fold order, double precision) ------------------------


def norm_sql(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({a}, x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y))"
    )


def normalized_sql(a: str) -> str:
    """Unit-normalize (the twin of similarity.normalized): divide each
    element by the sequential-fold norm."""
    return f"list_transform({a}, x -> x::DOUBLE / {norm_sql(a)})"


def unit_dot_sql(a: str, b: str) -> str:
    """Unrounded left-fold dot of two already-normalized DOUBLE lists —
    for sign/order decisions (cell assignment, probe ranking) that need
    bit-exact values, not display rounding."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])), "
        f"(x, y) -> x + y)"
    )


def unit_dot_rounded_sql(a: str, b: str, digits: int = 6) -> str:
    """Dot product of two already-normalized DOUBLE lists, rounded — the
    oracle twin of ``round(dot(qn, cn), 6)``."""
    return f"round({unit_dot_sql(a, b)}, {digits})"
