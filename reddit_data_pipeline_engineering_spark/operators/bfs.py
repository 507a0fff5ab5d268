"""Breadth-first search / unweighted single-source shortest paths.

The fourth distributed graph kernel (components, PageRank, triangles are
the other three): frontier expansion with min-distance merge — the
pattern behind reachability, radius probes, and delta-stepping SSSP.

Scale shape per round: one hash join of the CURRENT FRONTIER (not the
whole visited set) against the edge list on ``src``, then a min-merge
groupBy on ``node``. Both are keyed shuffles on uniform ids; the visited
set is carried as a (node, dist) relation and localCheckpointed each
round so lineage stays flat (same device as components/pagerank). Rounds
are bounded by the probe depth, not the graph diameter — this is a
k-hop probe, and the oracle replays every round as unrolled CTEs.
Single-source BFS is the one-seed case of the multi-seed loop
(``multi_bfs_levels``); weighted SSSP is its own loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint


def bfs_levels(edges: DataFrame, source: int, rounds: int) -> DataFrame:
    """(node, dist) for every node within ``rounds`` hops of ``source``.

    ``edges`` must be directed (src, dst) — symmetrize first for
    undirected semantics. Distances are exact minimum hop counts within
    the probed radius. This is :func:`multi_bfs_levels` with one seed.
    """
    return multi_bfs_levels(edges, [source], rounds).drop("seed")


def sssp_distances(edges: DataFrame, source: int, rounds: int) -> DataFrame:
    """Weighted single-source shortest paths, ``rounds`` Bellman-Ford
    relaxations with frontier pruning.

    ``edges`` must be directed (src, dst, w) with non-negative integer
    weights — symmetrize first for undirected semantics. Returns
    (node, dist) where dist is the exact minimum path weight over paths
    of at most ``rounds`` edges.

    Scale shape per round: one hash join of the IMPROVED FRONTIER
    against the edge list on ``src``, one min-merge groupBy on ``node``,
    and one keyed join against the previous distances to detect
    improvement. Frontier pruning is a pure optimization: if a node's
    distance did not improve in round t-1, every candidate it would emit
    in round t was already emitted (with the same value) in an earlier
    round and min-merged — so the (node, dist) relation after each round
    is IDENTICAL to textbook full relaxation, which is what the DuckDB
    oracle replays as unrolled CTEs. With non-negative weights the
    settled region only grows, so the frontier shrinks toward the
    wavefront — the work per round tracks the expansion boundary, not
    the visited set (the delta-stepping scale property).
    """
    spark = edges.sparkSession
    # Pre-partitioned on the per-round join key — see multi_bfs_levels.
    edges = cache(edges.repartition(F.col("src")))
    dist = spark.createDataFrame([(source, 0)], "node long, dist long")
    frontier = dist
    for t in range(1, rounds + 1):
        cand = (
            frontier.withColumnRenamed("node", "src")
            .join(edges, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        merged = checkpoint(
            dist.unionAll(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if t < rounds:  # the last round's frontier is never expanded
            prev = dist.select("node", F.col("dist").alias("old"))
            frontier = (
                merged.join(prev, "node", "left")
                .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
                .select("node", "dist")
            )
        dist = merged
    return dist


def multi_bfs_levels(
    edges: DataFrame, sources: list[int], rounds: int
) -> DataFrame:
    """(seed, node, dist) for every node within ``rounds`` hops of each
    seed — K single-source probes fused into ONE frontier per round.

    Per round: one keyed join of the current frontier against the
    pre-partitioned edge cache + one min-merge groupBy keyed on (seed,
    node); the K probes share every round's join instead of paying K
    sequential passes — the multi-seed form centrality sampling needs.
    ``edges`` must be directed (src, dst); symmetrize first for
    undirected semantics.
    """
    spark = edges.sparkSession
    # Cache the edge relation ONCE, PRE-PARTITIONED on the per-round
    # join key (r07): every round joins the frontier against edges on
    # ``src``, and each round's visited set is its own checkpointed
    # plan, so exchange reuse never applies across rounds — a
    # plainly-persisted cache re-shuffled the ENTIRE static edge list
    # every round (measured: 4 identical 11 MB edge exchanges per
    # 4-round probe at sf0.1). The cached InMemoryTableScan reports
    # hashpartitioning(src), so every round's join satisfies its
    # distribution exchange-free; only the (small) frontier moves.
    edges = cache(edges.repartition(F.col("src")))
    levels = spark.createDataFrame(
        [(s, s, 0) for s in sources], "seed long, node long, dist int"
    )
    for t in range(1, rounds + 1):
        frontier = levels.filter(F.col("dist") == t - 1).select(
            "seed", F.col("node").alias("src")
        )
        cand = frontier.join(edges, "src").select(
            "seed", F.col("dst").alias("node"), F.lit(t).alias("dist")
        )
        levels = checkpoint(
            levels.unionAll(cand)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
    return levels
