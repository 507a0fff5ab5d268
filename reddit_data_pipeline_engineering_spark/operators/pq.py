"""Product quantization (PQ) scoring for memory-bounded ANN at corpus
scale.

LLM-data-pipeline extension (no reference counterpart — the reference's
data plane stops at SQL aggregation, see SURVEY.md §2). IVF prunes WHICH
vectors to score; PQ compresses HOW each vector is stored and scored: a
D-dim float vector becomes ``m`` small codes (one per D/m-dim subspace),
and query scoring reads an ``m * k`` distance table instead of the raw
floats. At 100 TB the embedding column is the dominant byte cost — 64
floats/row vs ``m`` bytes/row is the difference between a scan that fits
in page cache and one that doesn't.

The codebooks are fit by ``kmeans.lloyd_fit(..., (m,))`` — all ``m``
sub-codebooks in one Lloyd loop, one shuffle per iteration regardless of
``m`` — and rows are encoded by ``kmeans.assign_codes`` (map-only against
one broadcast model row). This module scores the codes:

- **ADC scoring is expression-only.** The query-to-centroid distance
  table is ``m * k`` integers (model-sized), inlined as a literal; the
  per-row approximate distance is ``m`` array lookups + adds, no
  pairwise float math, no UDF.
- **Exact re-rank.** The ADC shortlist (orderBy + limit =
  TakeOrderedAndProject) is re-scored with exact cosine on the original
  floats, so compression affects candidate selection only.

Determinism: the integer grid of operators/kmeans.py — every distance is
exact 64-bit integer arithmetic, so a SQL engine can replay the entire
fit + encode + ADC pipeline bit-identically (see the generated oracle in
plans/queries_llm.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.operators.kmeans import (
    CENT_SCALE,
    QUANT_SCALE,
    Codebooks,
    assign_codes,
)


def adc_table(codebooks: Codebooks, qvec: list[float]) -> list[list[int]]:
    """Asymmetric-distance table for one query: exact integer squared
    distance from each query sub-slice to each sub-centroid — pure
    Python over ``m * k`` model values, not a data-sized loop."""
    subdim = len(qvec) // len(codebooks)
    qx = [math.floor(float(x) * QUANT_SCALE) for x in qvec]
    return [
        [
            sum(
                (qx[s * subdim + j] * CENT_SCALE - c[j]) ** 2
                for j in range(subdim)
            )
            for c in book
        ]
        for s, book in enumerate(codebooks)
    ]


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: Codebooks,
    qvec: list[float],
    shortlist: int = 50,
    k: int = 20,
) -> DataFrame:
    """ADC shortlist + exact cosine re-rank.

    The approximate distance is ``m`` literal-table lookups per row
    (codes are already ints; no float math touches the corpus until the
    ``shortlist`` survivors), and both the shortlist and the final
    top-k are orderBy+limit = TakeOrderedAndProject — no global sort at
    any step.
    """
    from reddit_data_pipeline_engineering_spark.functions.vectors import cosine

    dtab = adc_table(codebooks, qvec)
    coded = assign_codes(df, vec_col, codebooks)
    approx = None
    for s, row in enumerate(dtab):
        table = F.lit([int(d) for d in row]).cast("array<bigint>")
        hit = F.element_at(
            table, F.element_at(F.col("codes"), s + 1) + F.lit(1)
        )
        approx = hit if approx is None else approx + hit
    short = (
        coded.select(
            F.col(id_col),
            F.col(vec_col),
            approx.cast("long").alias("approx_dist"),
        )
        .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    q = F.lit([float(x) for x in qvec]).cast("array<double>")
    return (
        short.select(
            F.col(id_col),
            F.col("approx_dist"),
            F.round(cosine(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )
