"""Vector math over ``array<float>`` columns — pure higher-order
function compositions (zip_with / aggregate), no UDFs.

Everything accumulates in double, sequentially, in list order, so the
identical fold can be written in any engine (DuckDB: list_transform +
list_sum) and produce bit-identical results. Spark's higher-order
functions do NOT compile into codegen'd loops: they are
``CodegenFallback`` expressions whose lambdas run interpreted, row by
row — no Python and no shuffle, but per-element interpreter cost.
Where one vector meets many (nearest-center assignment), the same fold
runs as a numpy Arrow batch kernel instead
(``operators.similarity.nearest_center``), bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _dbl(x: Column) -> Column:
    return x.cast("double")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — zip_with then a left fold in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _dbl(x) * _dbl(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    """Σ aᵢ² (squared L2 norm)."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + _dbl(x) * _dbl(x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm inputs (never NULL/NaN)."""
    d = dot(a, b)
    na = F.sqrt(sq_norm(a))
    nb = F.sqrt(sq_norm(b))
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def oracle_dot(a: str, b: str) -> str:
    """DuckDB SQL computing the same fold as :func:`dot`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def oracle_sq_norm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def oracle_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN sqrt({oracle_sq_norm(a)}) > 0 AND sqrt({oracle_sq_norm(b)}) > 0"
        f" THEN {oracle_dot(a, b)} / (sqrt({oracle_sq_norm(a)}) * sqrt({oracle_sq_norm(b)}))"
        f" ELSE 0.0 END"
    )


def dist2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² (squared L2 distance) — same ordered left fold; the
    reference the nearest-center kernel is tested against."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (_dbl(x) - _dbl(y)) * (_dbl(x) - _dbl(y))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def oracle_dist2(a: str, b: str) -> str:
    """DuckDB SQL computing the same fold as :func:`dist2`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
