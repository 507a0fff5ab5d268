"""Similarity search over embedding columns (array<float>).

LLM-data-pipeline extension (no reference counterpart). Four tiers:

- ``cosine_topk``          — brute-force scan vs one query vector: the
  correctness baseline, and the one score/round/order/limit path that
  ``ivf_probe_topk`` and the k-means IVF queries reuse. Map-only +
  TakeOrderedAndProject; at 100 TB it is one pass over the embedding
  column (still the right tool for one-off queries).
- ``ivf_probe_topk``       — ``cosine_topk`` over the query's coarse
  block only: the block predicate pushes into the scan, so the candidate
  set shrinks before any vector math (computed coarse cells:
  operators/kmeans.py).
- ``blocked_neardup_pairs`` — IVF-style: pairs compared only within a
  coarse block (here: the `label` column; in production: a k-means coarse
  centroid id). Turns O(n²) into sum of per-block O(b²) and shuffles only
  on the block key.
- ``lsh_bucket``            — sign-projection LSH bucket code per vector;
  bucket-equi-join gives ANN candidates with no pairwise math at all.
  Projections are fixed coordinate 4-sums, deterministic and
  oracle-expressible; production would use dense Gaussian planes via a
  broadcast matrix.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions.vectors import cosine, dot, norm


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector; scores
    are rounded to 6 decimals."""
    q = F.lit([float(x) for x in query]).cast("array<double>")
    score = F.round(cosine(F.col(vec_col), q), 6)
    return (
        df.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def blocked_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float,
    per_block_topk: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs within coarse blocks (IVF-style).

    Scores are cosines rounded to 6 decimals. Per-vector norms are
    staged BEFORE the pair join, so each pair costs one dot-product fold
    instead of three (norms recomputed per pair were
    ~3x the bench time). Numerically identical: sqrt/multiply are the same
    IEEE ops either side of the join.

    ``per_block_topk`` prunes each block to its k best pairs before
    anything leaves the block: the row_number window partitions on the
    same key the join shuffled on, so it adds NO exchange, and the rows
    flowing into any downstream global top-k drop from O(sum b^2) to
    O(k * n_blocks). At scale this is the difference between a bounded
    and an unbounded final shuffle.

    ``salt`` splits the quadratic scoring work when the block count is
    small relative to cluster parallelism: side A is sliced into ``salt``
    deterministic sub-keys (hash of id), side B replicated ``salt`` times,
    and the join keys on (block, salt) — every within-block pair still
    scored exactly once, parallelism x ``salt`` for a ``salt``-fold
    replication of the (narrow) B side. With salting the top-k prune runs
    per (block, slice) — a SUPERSET of the per-block top-k, so any
    downstream global top-k (with a total-order tiebreak) is unchanged;
    don't use salted output where exactly-k-per-block matters.
    """
    normed = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    a = normed.select(
        F.col("blk"),
        F.col("vid").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("blk"),
        F.col("vid").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    join_keys = ["blk"]
    if salt and salt > 1:
        a = a.withColumn("__salt", F.pmod(F.hash("id_a"), F.lit(salt)))
        b = b.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        join_keys = ["blk", "__salt"]
        # Spread side A across the cluster explicitly: when B broadcasts
        # (the common case — it's one narrow table), the join inherits
        # A's partitioning, and a small parquet input may be a single
        # split — which would serialize the quadratic scoring no matter
        # how many salt slices exist. A user-specified repartition is
        # exempt from AQE coalescing, so the slice layout survives.
        a = a.repartition(
            df.sparkSession.sparkContext.defaultParallelism, *join_keys
        )
    score = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*join_keys, "id_a", "id_b", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    if per_block_topk is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*join_keys).orderBy(
            F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        pairs = (
            pairs.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= per_block_topk)
            .drop("__rk")
        )
    if salt and salt > 1:
        pairs = pairs.drop("__salt")
    return pairs


def ivf_probe_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    query_id: int,
    k: int = 10,
) -> DataFrame:
    """IVF-style probed ANN search: restrict the scan to the query's coarse
    block, then exact cosine top-k within it.

    The block predicate is a plain column filter, so Catalyst pushes it to
    the parquet scan — the candidate set shrinks BEFORE any vector math
    runs. In production the block id comes from a k-means coarse quantizer
    and multiple nearest centroids are probed; the plan shape (pushed
    partition filter -> map-only scoring -> TakeOrderedAndProject) is
    identical.
    """
    qrow = (
        df.filter(F.col(id_col) == query_id).select(vec_col, block_col).head()
    )
    qvec, qblock = list(qrow[0]), qrow[1]
    probe = df.filter(
        (F.col(block_col) == qblock) & (F.col(id_col) != query_id)
    )
    return cosine_topk(probe, vec_col, id_col, qvec, k)


# Fixed coordinate-projection planes: each bit is sign(e[i0]+e[i1]-e[i2]-e[i3]).
# Deterministic, SQL-mirrorable; dims chosen to cover the 64-dim vector.
LSH_PLANES: tuple[tuple[int, int, int, int], ...] = tuple(
    (p, p + 8, p + 16, p + 24) for p in range(8)
)


def lsh_bucket(vec: Column) -> Column:
    """Sign-projection LSH bucket code (integer in [0, 2^8))."""
    code: Column | None = None
    for i, (a, b, c, d) in enumerate(LSH_PLANES):
        proj = (
            vec[a].cast("double")
            + vec[b].cast("double")
            - vec[c].cast("double")
            - vec[d].cast("double")
        )
        bit = F.when(proj > 0, F.lit(2**i)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return code.cast("int")


def sql_lsh_bucket(vec_expr: str) -> str:
    """DuckDB mirror of :func:`lsh_bucket` (1-based list indexing)."""
    terms = []
    for i, (a, b, c, d) in enumerate(LSH_PLANES):
        proj = (
            f"CAST({vec_expr}[{a + 1}] AS DOUBLE) + CAST({vec_expr}[{b + 1}] AS DOUBLE)"
            f" - CAST({vec_expr}[{c + 1}] AS DOUBLE) - CAST({vec_expr}[{d + 1}] AS DOUBLE)"
        )
        terms.append(f"(CASE WHEN ({proj}) > 0 THEN {2 ** i} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"
