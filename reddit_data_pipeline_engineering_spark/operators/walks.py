"""Deterministic random-walk sampling — the walk-corpus generator
behind DeepWalk/node2vec-style graph-embedding training data.

Each walker advances one hop per round; the "random" neighbor choice is
the md5-argmin trick used throughout the engine (weighted_sample,
hash_split_stats): next(u, t) = the neighbor v minimizing
md5("u|v|t") — uniform over neighbors, step-dependent (the same node
visited at different steps picks different neighbors), and identical on
any engine, partitioning, or rerun, so the DuckDB oracle replays every
step bit-for-bit.

Scale shape per round: one join of the walker frontier against the edge
list on the current node, then a per-walker argmin aggregate
(min over (hash, dst) structs — no window, no sort). The frontier has
one row per LIVE WALKER at every round (walkers at dead-end nodes drop
out), so with W walkers and average degree d the round costs W·d
candidate rows regardless of graph size; the frontier side broadcasts
while W is small and degrades to a keyed shuffle join — BFS's shape —
when a production corpus runs millions of walkers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint


def random_walks(
    edges: DataFrame,
    anchors: DataFrame,
    steps: int,
) -> DataFrame:
    """(walker, node, path) after ``steps`` deterministic-hash hops.

    ``edges`` must be directed (src, dst) — symmetrize first for
    undirected semantics. ``anchors`` is a one-column (node) relation of
    starting points; each spawns one walker named by its start node.
    ``path`` is the '->'-joined node sequence, bounded by ``steps``.
    """
    # Pre-partitioned on the per-step join key (see bfs.multi_bfs_levels,
    # r07): each step joins walkers against the static edge list on
    # ``src`` in its own action, so a plain cache re-shuffled all
    # edges per step; the partitioned cache moves only walkers.
    edges = cache(edges.repartition(F.col("src")))
    walks = anchors.select(
        F.col("node").alias("walker"),
        F.col("node"),
        F.col("node").cast("string").alias("path"),
    )
    for t in range(1, steps + 1):
        cand = (
            walks.withColumnRenamed("node", "src")
            .join(edges, "src")
            .withColumn(
                "h",
                F.md5(F.concat_ws("|", F.col("src"), F.col("dst"), F.lit(t))),
            )
        )
        # One row per walker: argmin over (hash, dst) — dst is the
        # collision tiebreak; path rides along (constant per walker).
        step = cand.groupBy("walker").agg(
            F.min(F.struct("h", "dst", "path")).alias("m")
        )
        walks = step.select(
            "walker",
            F.col("m.dst").alias("node"),
            F.concat_ws("->", F.col("m.path"), F.col("m.dst")).alias("path"),
        )
        walks = checkpoint(walks, eager=True)
    return walks
