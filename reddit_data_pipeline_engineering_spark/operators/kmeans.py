"""Deterministic integer-grid vector quantizers for ANN: k-means and
product quantization as ONE Lloyd fit over subspace partitions.

LLM-data-pipeline extension (no reference counterpart): a real 100 TB
ANN index computes its own coarse centroids and compression codebooks
instead of riding a pre-existing ``label`` column. A *partition* splits
the D-dim vector into ``m`` equal subspaces and learns one codebook of
up to ``k`` centroids per subspace. ``m = 1`` is the k-means coarse
quantizer of an IVF index, ``m = 4`` is product quantization (scored by
operators/pq.py), and the IVF-PQ index fits both partitions together.
:func:`lloyd_fit` takes the partitions as a tuple of subspace counts —
``(1,)``, ``(4,)`` or ``(1, 4)`` — and fits every codebook in one loop:

- **assignment** is a map-side fold against ONE broadcast model row
  (every codebook as array data — model state, not data, so shipping it
  to the driver between iterations is O(books*k*subdim), independent of
  corpus size);
- **update** is ONE hash aggregate per iteration keyed on (book, code,
  dimension) over the posexploded vector: map-side partial aggregation
  collapses each partition to <= books*k*subdim rows before the single
  shuffle, however many partitions and subspaces are fit.

Determinism device: Lloyd's algorithm on floats is not reproducible
across engines (summation order), so the quantizers run on
integer-quantized vectors — ``qx_i = floor(x_i * 16384)`` — and keep
centroids on an integer grid (``c_i = floor(64 * sum(qx_i) / n)``).
Every distance is then EXACT 64-bit integer arithmetic (bounded by
64 * (2^19)^2 < 2^53, so even a double-typed fold is exact), which makes
assignments bit-identical in any engine and any partitioning — the
DuckDB oracle replays the whole fit. Production would swap the grid for
float Lloyd; the plan shape (broadcast model -> map fold -> one keyed
shuffle per iteration) is identical. Final candidate SCORING stays exact
cosine on the original float vectors — quantization only affects which
cell or code a vector gets.

Seeding: the k rows with the smallest ``md5(cast(id as string))`` seed
every codebook (their sub-slices) — a deterministic pseudo-random sample
expressible in SQL (same device as the hash-split operators,
plans/queries_llm.py), so one seed scan serves all codebooks and the
oracle needs a single seeds CTE.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, release

QUANT_SCALE = 16384  # 2^14: |x| <= ~16 stays overflow-safe (see module doc)
CENT_SCALE = 64  # centroid grid is 64x finer than the vector grid

Codebooks = list[list[list[int]]]  # [subspace][code][sub-dimension]


def quantized(vec: Column | str) -> Column:
    """array<float> -> array<long> on the deterministic integer grid."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(float(QUANT_SCALE)))
    )


def _seed_order(id_col: str) -> list[Column]:
    return [
        F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8")).asc(),
        F.col(id_col).asc(),
    ]


def model_row(spark, books: Codebooks) -> DataFrame:
    """The one-row broadcastable model relation: every codebook
    (``__books``) and each centroid's exact ``|c|^2`` (``__b2s``, <=
    64*(2^20)^2 < 2^53). The centroids travel as DATA, NOT as expression
    literals: a k x dim literal tree forced a fresh analysis + codegen
    compile on every Lloyd iteration (the literals change), which
    dominated iteration wall time; with the model in a broadcast row the
    expression tree is iteration-invariant, so the codegen cache serves
    every iteration after the first (measured ~3x faster per iteration
    at sf0.1)."""
    return spark.createDataFrame(
        [(
            [[[int(v) for v in c] for c in book] for book in books],
            [[sum(int(v) ** 2 for v in c) for c in book] for book in books],
        )],
        "__books array<array<array<bigint>>>, __b2s array<array<bigint>>",
    )


def _nearest(sq: Column, book: int) -> Column:
    """Nearest centroid of codebook ``book`` to the (sub)vector ``sq``,
    ties -> lowest code. The per-centroid score is the REDUCED distance
    ``-128*dot(qx,c) + |c|^2``: expanding ``sum((qx*64 - c_i)^2)`` drops
    the ``4096*|qx|^2`` term, which is constant per row within a
    codebook, so the argmin (and every tie) is identical to the full
    squared distance while the fold does one multiply per dimension.
    array_min over structs is lexicographic (dist, code) — the same
    argmin-with-tiebreak the oracle expresses as row_number over ORDER
    BY dist, code. transform's 2-arg lambda receives (element, index);
    element_at is 1-based, hence the i + 1."""
    b2 = F.element_at(F.col("__b2s"), book + 1)
    scored = F.transform(
        F.element_at(F.col("__books"), book + 1),
        lambda c, i: F.struct(
            (
                F.lit(-2 * CENT_SCALE)
                * F.aggregate(
                    F.zip_with(sq, c, lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                + F.element_at(b2, (i + F.lit(1)).cast("int"))
            ).alias("d"),
            i.cast("int").alias("c"),
        ),
    )
    return F.array_min(scored)["c"]


def _codes(qv: Column, subspaces: tuple[int, ...], dim: int) -> Column:
    """``array<int>``: the nearest code in every codebook of every
    partition, in the model row's (flat) book order."""
    codes = []
    for m in subspaces:
        w = dim // m
        for s in range(m):
            sq = qv if m == 1 else F.slice(qv, s * w + 1, w)
            codes.append(_nearest(sq, len(codes)))
    return F.array(*codes)


def assign_codes(
    df: DataFrame, vec_col: str, books: Codebooks, out_col: str = "codes"
) -> DataFrame:
    """Add an ``array<int>`` of one code per codebook (one per subspace
    of ``vec_col``): map-only against one broadcast model row."""
    dim = len(books) * next((len(b[0]) for b in books if b), 0)
    return (
        df.crossJoin(F.broadcast(model_row(df.sparkSession, books)))
        .withColumn(out_col, _codes(quantized(vec_col), (len(books),), dim))
        .drop("__books", "__b2s")
    )


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[list[int]]
) -> DataFrame:
    """The one-subspace case of :func:`assign_codes`: add the
    nearest-centroid id (ties -> lowest cluster id) as the int column
    ``cluster``."""
    return assign_codes(df, vec_col, [centroids], "cluster").withColumn(
        "cluster", F.col("cluster")[0]
    )


def lloyd_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    subspaces: tuple[int, ...],
    k: int = 8,
    iters: int = 2,
) -> list[Codebooks]:
    """Fit one list of codebooks per entry ``m`` of ``subspaces`` (``m``
    subspaces of ``dim / m`` dimensions, up to ``k`` centroids each) with
    ``iters`` Lloyd iterations: ``(1,)`` is k-means, ``(4,)`` is PQ and
    ``(1, 4)`` fits an IVF-PQ index's coarse and PQ models together.

    One seed collect and one persisted quantized sample serve the whole
    fit; each iteration is one projection of every codebook's code plus
    ONE aggregate job keyed on (book, code, dimension). A centroid that
    loses all members drops out and the remaining codes renumber densely
    (per codebook, by old code id) — both engines mirror this, so a
    codebook may hold fewer than ``k`` centroids, and none on an empty
    frame.
    """
    seeds = [
        r["q"]
        for r in df.orderBy(*_seed_order(id_col))
        .limit(k)
        .select(quantized(vec_col).alias("q"))
        .collect()
    ]
    dim = len(seeds[0]) if seeds else 0
    for m in subspaces:
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
    bases = [sum(subspaces[:p]) for p in range(len(subspaces))]
    spans = [(s * (dim // m), dim // m) for m in subspaces for s in range(m)]
    books = [
        [[int(v) * CENT_SCALE for v in q[a:a + w]] for q in seeds]
        for a, w in spans
    ]
    # Every expression of the iteration's plan is iteration-invariant
    # (the model travels as data), so each is built once: a PySpark
    # function call costs ~10 Py4J round trips.
    codes = _codes(F.col("q"), subspaces, dim).alias("codes")
    elems = F.posexplode("q").alias("pos", "v")
    pos = F.col("pos")
    keys = [
        F.lit(b) + (pos / (dim // m)).cast("int")
        for b, m in zip(bases, subspaces)
    ]
    if len(keys) == 1:
        keyed = [keys[0].alias("book"), pos, F.col("v")]
    else:
        keyed = [F.inline(F.array(*[
            F.struct(key.alias("book"), pos, F.col("v")) for key in keys
        ]))]
    code = F.element_at("codes", F.col("book") + 1).alias("code")
    sums = [F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")]
    # One materialization of the quantized vectors serves every Lloyd
    # iteration (and the seed scan already ran) — without it each
    # iteration re-reads and re-quantizes the corpus. At cluster scale
    # this is a MEMORY_AND_DISK persist of one narrow column.
    qdf = cache(df.select(quantized(vec_col).alias("q")))
    try:
        for _ in range(iters):
            model = F.broadcast(model_row(df.sparkSession, books))
            # posexplode runs in its own projection: in the same select
            # as the aliased code expression it fails FIELD_NOT_FOUND.
            rows = (
                qdf.crossJoin(model)
                .select("q", codes)
                .select("codes", elems)
                .select("codes", *keyed)
                .groupBy("book", code, "pos")
                .agg(*sums)
                .collect()
            )
            state: dict[int, dict[int, dict[int, tuple[int, int]]]] = {}
            for r in rows:
                state.setdefault(r["book"], {}).setdefault(r["code"], {})[
                    r["pos"]
                ] = (r["s"], r["n"])
            # floor((s*64)/n) via DOUBLE division on both sides: s*64 is
            # exact in double (< 2^33) and the correctly-rounded quotient
            # + floor is the same IEEE computation the oracle's
            # floor(... / n) performs. (Exact integer floor-division would
            # NOT mirror SQL: // semantics differ across engines for
            # negative sums.)
            books = [
                [
                    [
                        int(math.floor((s * float(CENT_SCALE)) / n))
                        for s, n in (dims[p] for p in range(a, a + w))
                    ]
                    for _, dims in sorted(state.get(b, {}).items())
                ]
                for b, (a, w) in enumerate(spans)
            ]
    finally:
        release(qdf)
    return [books[b:b + m] for b, m in zip(bases, subspaces)]
