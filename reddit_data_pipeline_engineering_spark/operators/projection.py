"""Johnson-Lindenstrauss random projection for embedding columns.

LLM-data-pipeline extension (no reference counterpart): before ANY
similarity pass over a 100 TB embedding column, the cheapest lever is
dimensionality — a JL sign projection (Achlioptas 2003, public result:
random ±1 matrices preserve pairwise distances within 1±eps) cuts a
64-dim float vector to ``dim_out`` dims with ONE map-only pass, no
shuffle, shrinking every downstream shortlist scan by dim_out/dim.

Spark-first: each output dimension is a sequential-fold dot product of
the input vector against a ±1 sign column (the same JVM higher-order
expression shape as functions/vectors.dot — no UDF, fused into the
scan). The sign matrix is MODEL state: deterministically derived from
md5("i,j") parity, so any engine regenerates it bit-identically and a
SQL oracle replays the projection as explicit sign-flipped sums.

Exactness: multiplying by ±1.0 is exact in IEEE754, so each projected
coordinate is a left-associated sum of exactly-signed doubles — the
identical value the oracle's explicit ``(+/- embedding[i])`` chain
produces. Projected-space cosine then mirrors bit-for-bit like every
other cosine in the registry.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def jl_signs(dim_in: int, dim_out: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign[i][j] = +1 iff the first
    8 hex digits of md5("i,j") are even. Model-sized (dim_in*dim_out),
    reproducible on any engine."""
    return [
        [
            1
            if int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for j in range(dim_out)
        ]
        for i in range(dim_in)
    ]


def _proj_dim(vec: Column, signs: list[list[int]], j: int) -> Column:
    # ONE literal-array expression per output dim: a per-element F.lit
    # loop paid dim_in x dim_out py4j round trips on every plan build
    # (the hilbert_key_2d r11 lesson). Same doubles, same fold.
    col = F.lit([float(signs[i][j]) for i in range(len(signs))]).cast(
        "array<double>"
    )
    prods = F.zip_with(
        vec, col, lambda x, s: x.cast("double") * s
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def jl_project(
    df: DataFrame,
    vec_col: str,
    signs: list[list[int]],
) -> DataFrame:
    """Map-only projection into the column ``proj``:
    proj[j] = fold_i(v[i] * sign[i][j])."""
    dim_out = len(signs[0])
    return df.withColumn(
        "proj",
        F.array(*[_proj_dim(F.col(vec_col), signs, j) for j in range(dim_out)]),
    )


def project_query(qvec: list[float], signs: list[list[int]]) -> list[float]:
    """Driver-side projection of the query vector with the IDENTICAL
    arithmetic (ascending-i left-associated fold from 0.0), so the
    literal matches what the in-plan expression would compute."""
    dim_out = len(signs[0])
    out = []
    for j in range(dim_out):
        acc = 0.0
        for i, x in enumerate(qvec):
            acc = acc + float(x) * float(signs[i][j])
        out.append(acc)
    return out
