"""Vector math over array<float> embedding columns (engine extension).

The reference has no vector operators; these support the similarity-search
surface (brute-force cosine top-k baseline + blocked/LSH scale paths in
``operators/similarity.py``). All pure higher-order array expressions —
JVM-evaluated, no Python. Elements are cast to double before arithmetic so
results match a double-precision oracle bit-for-bit (sequential left fold
in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product: sum(a[i]*b[i]) left to right."""
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str, n: int) -> str:
    """Oracle SQL mirror of :func:`dot` over the first ``n`` elements: an
    unrolled left-associated sum of DOUBLE element products, the same fold
    order as Spark's ``aggregate``."""
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(n)
    )
