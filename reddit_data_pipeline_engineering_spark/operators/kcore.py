"""k-core peeling — dense-subgraph extraction by iterative degree filter.

The fifth distributed graph kernel (components, PageRank, triangles, BFS
are the others): repeatedly delete every node whose degree is below k
until only the k-core remains — the standard preprocessing step before
community mining, spam/bot subgraph isolation, and graph sparsification
of a co-occurrence graph.

Scale shape per round: ONE degree aggregate (keyed shuffle on node id)
plus two semi-joins that keep only edges whose endpoints both survive —
all keyed on uniform node ids, nothing quadratic, state bounded by the
(shrinking) edge list. Storage is
ADAPTIVE on edge count: small graphs use the lazy path (per-round
localCheckpoint, stats as one union plan — cheapest at bench scale);
at >= BOUNDED_STORAGE_MIN_EDGES directed rows the peel switches to
bounded storage — eager scalar stats + compressed columnar persist
with deterministic unpersist of the previous generation, at most two
generations live at once — the round-4 fix for the GC stall the sf1.0
scaling curve exposed when every round's checkpoint accumulated in the
single local-mode heap (SCALE.md §9c; 50s -> 12s at sf1.0). Both paths
run the one shared peel step (``_peel``) and return identical rows.
Rounds are a FIXED parameter, so the DuckDB oracle
replays the whole peel as unrolled CTEs and the result is engine-exact;
peeling to fixpoint (``kcore_survivors``) runs the same step with a
convergence check on the counts.

Reference parity: the reference (an OpenAQ ETL) has no graph operator;
this extends the engine's iterative-algorithm family per SURVEY.md §2's
"beyond the reference" mandate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint, release

# Edge lists at or above this directed-row count peel with bounded
# storage (eager per-round stats + persist/unpersist-previous); smaller
# graphs keep the lazy accumulate-localCheckpoint path, whose per-round
# scan is cheaper and whose total retained footprint is small anyway.
BOUNDED_STORAGE_MIN_EDGES = 10_000_000


def _peel(
    edges: DataFrame, k: int, broadcast: bool = False
) -> tuple[DataFrame, DataFrame]:
    """One peel round, shared by every k-core loop: (survivor ids as
    ``__node``, the edges whose endpoints both survive)."""
    alive = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .filter(F.col("__deg") >= k)
        .select(F.col("src").alias("__node"))
    )
    if broadcast:
        alive = F.broadcast(alive)
    edges = (
        edges.join(alive, edges["src"] == alive["__node"], "left_semi")
        .join(alive, edges["dst"] == alive["__node"], "left_semi")
    )
    return alive, edges


def _round_stats(r: int, alive: DataFrame, edges: DataFrame) -> DataFrame:
    """One (round, nodes_alive, edges_alive) row for round ``r``."""
    return (
        alive.agg(F.count(F.lit(1)).alias("nodes_alive"))
        .crossJoin(
            edges.agg(F.floor(F.count(F.lit(1)) / 2).alias("edges_alive"))
        )
        .select(
            F.lit(r).alias("round"),
            F.col("nodes_alive").cast("long"),
            F.col("edges_alive").cast("long"),
        )
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Peel ``rounds`` times; return (round, nodes_alive, edges_alive).

    ``edges`` is a ``(src, dst)`` list that must be SYMMETRIZED (each
    undirected edge present in both directions) AND DEDUPLICATED (no
    repeated (src, dst) pairs): degree is computed as a raw row count
    per ``src``, so multi-edges would silently inflate degrees (same
    implicit contract as ``lpa.py``,
    where duplicate edges would double-weight a neighbor's label).
    Callers pass DISTINCT pairs (``copurchase_edges`` aggregates by
    pair). ``edges_alive`` counts undirected edges (directed count
    div 2).
    ``nodes_alive`` after round r is the number of nodes whose degree in
    the round-(r-1) graph was >= k — isolated survivors are impossible
    because any node with degree >= k >= 1 still owns an edge unless its
    neighbors died, which the NEXT round's count reflects.
    """
    spark = edges.sparkSession
    edges = cache(edges)
    if edges.count() >= BOUNDED_STORAGE_MIN_EDGES:
        return _kcore_peel_bounded(spark, edges, k, rounds)
    stats: list[DataFrame] = []
    for r in range(1, rounds + 1):
        # Broadcast the survivor dim (guide §3.1): this lazy path only
        # runs below BOUNDED_STORAGE_MIN_EDGES directed rows, so
        # |alive| <= |V| <= |E| is broadcast-bounded by the gate — but
        # each round's edges are a checkpointed LogicalRDD with UNKNOWN
        # stats, so the planner defaulted both semi-joins to SMJ and
        # re-shuffled + re-sorted the FULL edge list twice per round
        # (the dominant shuffle of kcore_peel_counts: 86 MB / 9.3M
        # records at sf0.1). With the hint the edge relation never
        # moves; the groupBy's exchange carries only map-side partial
        # counts. ReuseExchange shares one broadcast across both probes.
        alive, edges = _peel(edges, k, broadcast=True)
        edges = checkpoint(edges, eager=True)
        stats.append(_round_stats(r, alive, edges))
    return reduce(DataFrame.unionAll, stats).orderBy("round")


def _kcore_peel_bounded(spark, edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded-storage peel for LARGE edge lists (the sf1.0 GC-stall
    fix, SCALE.md 9c): per-round stats are one scalar row collected
    eagerly, which makes it safe to persist each edge generation as
    compressed columnar cache and unpersist the previous one
    deterministically — at most two generations live at once (50s ->
    12s at 10x scale). Lineage is not truncated: cache hits serve
    reads, an evicted block spills to disk, and a FIXED small round
    count keeps the plan shallow. Identical results to the lazy path
    (same peel step; equivalence pinned by tests/test_graph.py's
    BOUNDED_STORAGE_MIN_EDGES=0 monkeypatch).

    Precondition: ``edges`` arrives ALREADY persisted and materialized
    (kcore_peel persists + counts before choosing this path), so the
    base generation is never retained twice."""
    prev = edges
    rows: list[tuple[int, int, int]] = []
    for r in range(1, rounds + 1):
        alive, edges = _peel(edges, k)
        edges = cache(edges)
        rows.append(tuple(_round_stats(r, alive, edges).head()))
        release(prev)
        prev = edges
    release(prev)
    return spark.createDataFrame(
        rows, "round int, nodes_alive long, edges_alive long"
    ).orderBy("round")


def kcore_survivors(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """Peel to FIXPOINT: the exact k-core's edge list plus rounds used.

    Same peel step as :func:`kcore_peel`, always in the bounded-storage
    mode (the fixpoint loop may run up to ``max_rounds`` generations,
    so deterministic release matters regardless of size); convergence
    is detected by comparing per-round edge counts (one bounded scalar
    per round, the same driver-state envelope as the k-means/bisection
    fits).
    Returns (surviving symmetrized edges, rounds executed); an empty
    DataFrame means the k-core is empty. ``max_rounds`` bounds the
    cascade on adversarial chains (the fixed-round query form is the
    oracle-verified one — fixpoint rounds are data-dependent).
    """
    edges = cache(edges)
    prev_n = edges.count()
    prev_df = edges
    for r in range(1, max_rounds + 1):
        _, edges = _peel(edges, k)
        edges = cache(edges)
        cur = edges.count()
        # This round is materialized and counted; the previous round's
        # blocks are dead weight from here on — release them instead of
        # letting up to max_rounds edge generations pile up in the block
        # manager (the sf1.0 GC-stall class, SCALE.md 9c).
        release(prev_df)
        prev_df = edges
        if cur == prev_n:
            return edges, r
        prev_n = cur
    return edges, max_rounds
