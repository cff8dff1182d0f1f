"""Vector column expressions over `array<float>` embeddings.

All JVM higher-order functions (`transform` / `zip_with` /
`aggregate`) — no Python in the loop, so they run inside codegen and
scale linearly with the scan. Elements are promoted to double before
arithmetic; folds run left-to-right, so results are deterministic for
a given vector (cross-engine last-bit differences are absorbed by
rounding at the operator layer).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Each helper accepts either a column NAME (str — including qualified
# names like "a.embedding") or a Column object. The str path builds the
# whole expression as one JVM-parsed F.expr — the Column-object path
# costs ~10 py4j round trips per call (measured ~0.2 ms each, round 4),
# which adds up in plan-heavy operators; both produce the identical
# Catalyst expression tree. SQL literals: CAST(0 AS DOUBLE) — a bare
# `0.0` parses as DECIMAL in Spark SQL and would change the fold type.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0 as double), (acc, x) -> acc + x)"
    )


def _l2_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a},"
        " x -> cast(x as double) * cast(x as double)),"
        " cast(0 as double), (acc, x) -> acc + x))"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float arrays (promoted to double)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of a float array."""
    if isinstance(a, str):
        return F.expr(_l2_sql(a))
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_norm_d(a: Column | str) -> Column:
    """Euclidean norm of an array<double> (no re-cast)."""
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate(transform({a}, x -> x * x),"
            " cast(0 as double), (acc, x) -> acc + x))"
        )
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity (unrounded; round at the operator layer for
    cross-engine compares)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(f"{_dot_sql(a, b)} / ({_l2_sql(a)} * {_l2_sql(b)})")
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
