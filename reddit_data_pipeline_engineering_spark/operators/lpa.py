"""Synchronous label propagation (LPA) — community detection.

Completes the distributed graph-kernel family (components, PageRank,
triangles, BFS, k-core): every node starts with its own label and each
round adopts the most frequent label among its neighbors — the
near-linear-time community detector of Raghavan et al. (Phys. Rev. E
76, 2007). This is the SYNCHRONOUS variant with a deterministic
tie-break (highest count, then smallest label), so a fixed round count
is engine-exact and the DuckDB oracle replays every round as unrolled
CTEs. (Classic async LPA breaks ties randomly; determinism is the
price of bit-exact verifiability, and the synchronous schedule is the
one that maps to a distributed engine anyway.)

Scale shape per round: one join of the edge list against the bounded
(node, label) relation on ``src`` (keyed shuffle), one (dst, label)
count aggregate, one per-node struct-max argmax (map-side partial
aggregation — no per-node sort, the shuffle carries one partial row
per node per map partition) — all keyed on uniform node ids; label
state is one row per node. Labels are checkpointed per round (same
device as components/pagerank/bfs/kcore) to keep lineage flat.

Adaptive co-location (r05, from the sf10 probe): while the label
relation fits the broadcast threshold the per-round join is a broadcast
hash join and the edges never move — the bench-scale plan. Once labels
outgrow it (~2M nodes at sf10) Spark silently flips to a sort-merge
join that re-shuffles AND re-sorts the full edge list EVERY round —
measured 16.6x time for 10x data, the probe's one super-linear point.
At >= COLOCATE_MIN_EDGES directed edges the loop therefore pins the
scalable shape up front: edges are hash-partitioned by ``src`` and
sorted within partitions ONCE (cached columnar; InMemoryRelation
preserves both outputPartitioning and outputOrdering), so every round's
SMJ streams the cached edge run and only the label side — one row per
node — shuffles and sorts. Same rows either way (equivalence pinned by
the COLOCATE_MIN_EDGES=0 monkeypatch test). On both paths the edge
cache is released once the last round's labels are checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint, release

# At or above this many directed edges, pre-partition + pre-sort the
# edge list once so per-round joins never move it (the label side may
# exceed the broadcast threshold there). Below it, broadcast joins are
# cheaper and the co-location pass would be pure overhead.
COLOCATE_MIN_EDGES = 10_000_000


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """(node, label) after ``rounds`` synchronous LPA updates.

    ``edges`` is a ``(src, dst)`` list and must be symmetrized; the node
    universe is derived from edge endpoints, so every tracked node has at
    least one neighbor.
    """
    base = cache(edges)
    colocated = base.count() >= COLOCATE_MIN_EDGES
    if colocated:
        edges = base.repartition(F.col("src")).sortWithinPartitions("src")
    else:
        # Below the cutover the label vector is |V| <= |E| < 10M rows —
        # broadcastable by construction — but each round's labels are a
        # checkpointed LogicalRDD with UNKNOWN stats, so the planner
        # never picks the broadcast join on its own (defaultSizeInBytes
        # makes the relation look huge): every round was shuffling the
        # STATIC edge list plus the labels (measured 158 MB / 15.8M
        # records over 3 rounds on the 2.4M-directed-edge bench graph).
        # Pin the scalable shape instead (guide §2.4/§3.1): partition
        # the edge cache by ``dst`` ONCE, broadcast the labels each
        # round, and both per-round aggregates run exchange-free on top
        # of the broadcast join's preserved edge partitioning —
        # hashpartitioning(dst→node) satisfies the clustered
        # distribution of the (node, label) count AND the per-node
        # argmax. Per-round shuffle: zero.
        edges = base.repartition(F.col("dst"))
    edges = cache(edges)
    edges.count()
    release(base)
    labels = checkpoint(
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )
    # Deterministic argmax (highest count, then smallest label) as a
    # struct max — label negated so the max picks the smallest on count
    # ties. Aggregates partially map-side; the row_number-window
    # formulation shuffled and SORTED every (node, label) count row.
    best = F.max(
        F.struct(F.col("c"), (-F.col("label")).alias("neg_label"))
    ).alias("s")
    for _ in range(rounds):
        lab = labels if colocated else F.broadcast(labels)
        msgs = edges.join(lab, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        if colocated:
            # One explicit transpose exchange on node: hash-partitioning
            # by node alone satisfies the ClusteredDistribution of BOTH
            # downstream aggregates (subset rule), so the (node, label)
            # count AND the per-node argmax run exchange-free on top of
            # it — one O(E) shuffle per round instead of two (the
            # (node,label)-keyed exchange plus the counts re-exchange
            # on node). Below the cutover the default two-aggregate
            # shape keeps map-side partial aggregation, which wins when
            # the relation fits in memory.
            msgs = msgs.repartition(F.col("node"))
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        labels = checkpoint(
            counts.groupBy("node")
            .agg(best)
            .select("node", (-F.col("s.neg_label")).alias("label")),
            eager=True,
        )
    # Labels are materialized (eager checkpoint); the edge cache has no
    # further readers on either path.
    release(edges)
    return labels
