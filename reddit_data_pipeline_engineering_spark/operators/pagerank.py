"""Integer-exact PageRank — iterative graph centrality as DataFrame ops.

No reference counterpart (SURVEY.md §2 stops at SQL aggregation); with
connected components (operators/components.py) this completes the
iterative-graph family a corpus pipeline needs (components for dup
clusters, centrality for source/link authority weighting).

Spark-first shape: each iteration is ONE keyed shuffle — edges join the
current rank vector on src (both pre-partitioned on the same key after
the first iteration, so AQE reuses the exchange), contributions aggregate
on dst with map-side partial sums, and the teleport term is a literal.
The rank vector is localCheckpointed per iteration (the components.py
pattern) so lineage stays flat and nothing recomputes. PageRank and
personalized PageRank share that one loop: PageRank is the seeded loop
with every node a seed.

Determinism: ranks live on an integer grid (``SCALE`` = 10^12 per node),
per-edge contribution is truncating division ``rank DIV out_degree``, and
the damping update is ``(85 * sum) DIV 100`` — every operation is exact
64-bit integer arithmetic, order-independent under summation, so any SQL
engine replays the whole iteration bit-identically (unlike float
PageRank, where summation order perturbs low bits). The deliberate cost:
each division truncates up to 1 grid unit of mass (lost to rounding, not
redistributed) — at SCALE=10^12 that is a ~1e-12 relative artifact, far
below any ranking-relevant signal.

Overflow bound: the damping update computes ``DAMP_NUM * __m`` where
``__m`` is one node's summed in-contributions. Total mass is conserved
at ~n_nodes * SCALE, so the worst case (every node pointing at one hub)
needs ``85 * n_nodes * SCALE < 2^63`` — at SCALE=10^12 that
is safe to ~10^5 nodes in the pathological star and to ~10^7+ nodes for
any graph whose max in-mass stays under ~10^17 (realistic webs: hub
in-mass ≈ in_degree * avg_rank ≪ total mass). Spark in non-ANSI mode
would WRAP silently past the bound while DuckDB errors, breaking the
bit-identical-replay claim — so graphs beyond it need a smaller
``SCALE`` (e.g. 10^9 keeps the star-graph bound at ~10^8 nodes; the
truncation artifact grows to ~1e-9 relative, still ranking-irrelevant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint, release

SCALE = 10**12
DAMP_NUM = 85   # damping 0.85 as a ratio of integers
DAMP_DEN = 100

# Iteration-invariant state is folded into the persisted loop relations
# ONCE (out-degree into the edge rows, the PPR seed flag into the node
# rows) — never re-joined per round. LPA-style edge co-location
# (repartition+sort by src up front) was TESTED for this shape at sf10
# (240M edges, 48 GB probe JVM) and left OFF: across five identical-
# code probe runs the single-host variance spans 28-147 s (heap
# growth, page-cache state, GC timing dominate a 3-round kernel), so
# no benefit was demonstrable, and the pass adds an up-front full sort
# of the edge list that only ~3 rounds may never amortize. LPA keeps
# its co-location because its regression was unambiguous there (16.6x
# for 10x data, reproducibly, from a per-round SMJ edge re-sort).


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Ranks after ``iters`` exact-integer power iterations.

    ``edges`` is a directed ``(src, dst)`` edge list; symmetrize it first
    if the graph is undirected. Nodes = distinct src ∪ dst. A node with no
    out-edges (dangling) keeps only its teleport mass; a node with no
    in-edges converges to the teleport floor. This is :func:`personalized_pagerank`
    with every node a seed: r0 = ``SCALE`` and the teleport constant on
    every node, the same integer ranks.
    """
    return _power_iterate(edges, None, iters)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Personalized PageRank: restart mass lands ONLY on ``seeds``.

    Same integer grid and iteration shape as :func:`pagerank` (one keyed
    shuffle per round, truncating per-edge division, exact 64-bit
    arithmetic → bit-identical SQL replay), with the teleport vector
    concentrated on the seed set instead of uniform: r0 = ``SCALE`` on
    seeds / 0 elsewhere, and each round adds the per-seed teleport
    constant only to seed rows. The result ranks every node by its
    proximity to the seed set under the random-walk-with-restart model
    (Haveliwala, "Topic-Sensitive PageRank", WWW'02 — public algorithm).

    ``seeds``: one column named ``node``; must be a subset of the graph
    nodes (rows outside the graph get no mass to spread and are ignored).
    Seeds are typically a dimension-derived, bounded set — the seed
    FLAG is iteration-invariant, so it is folded into the persisted
    node relation once up front (the same device as the out-degree on
    the edge rows): each round's teleport term reads a cached boolean
    column, no per-round seed join at all.

    Overflow: total mass is bounded by n_seeds * SCALE (strictly less
    than the uniform variant's n_nodes * SCALE), so the §module-header
    bound applies with n_seeds in place of n_nodes — tighter at any
    realistic seed-set size.
    """
    return _power_iterate(edges, seeds, iters)


def _power_iterate(
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
) -> DataFrame:
    """The one rank loop; ``seeds=None`` makes every node a seed."""
    # Persist the iteration-invariant relations: every localCheckpoint
    # action below re-evaluates its inputs, so an unpersisted edge list
    # would re-run the caller's upstream joins once per iteration.
    base = cache(edges)
    nodes = (
        base.select(F.col("src").alias("node"))
        .union(base.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        seed = F.lit(True)
    else:
        # Seed flag folded into the persisted node relation once — the
        # per-round teleport term reads a cached boolean, no per-round
        # join (the node-side twin of the out-degree fold on the edge
        # rows).
        seed_flag = F.broadcast(
            seeds.select(F.col("node"), F.lit(True).alias("__seed"))
            .distinct()
        )
        nodes = nodes.join(seed_flag, "node", "left").select(
            "node", F.coalesce("__seed", F.lit(False)).alias("__seed")
        )
        seed = F.col("__seed")
    nodes = cache(nodes)
    # Out-degree is ITERATION-INVARIANT, so it is attached to the edge
    # rows once here — each round then does a single edges⋈ranks join
    # instead of re-joining the degree dim every iteration.
    deg = base.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # Pre-partitioned on the per-round join key (r07): each iteration
    # is its own action (eager rank checkpoint), so a plain cache
    # re-shuffled the full static edge relation every round — the §9e
    # probe's per-round movement was dominated by exactly that. The
    # partitioned cache reports hashpartitioning(src); each round's
    # edges-side exchange disappears and only ranks move.
    edges = cache(base.join(deg, "src").repartition(F.col("src")))
    teleport = (SCALE * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    ranks = nodes.select(
        "node",
        F.when(seed, F.lit(SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for _ in range(iters):
        contrib = (
            # shuffled-hash, not sort-merge (guide §3.1): the rank
            # vector's per-partition slice is a small hash build, and
            # SMJ would re-SORT the static partitioned edge relation
            # every round (repartition colocates but does not sort).
            edges.join(
                ranks.hint("shuffle_hash"), edges["src"] == ranks["node"]
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank DIV __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__m"))
        )
        # Cut lineage each round (components.py pattern): without this
        # the plan tree grows ~5x per iteration.
        ranks = checkpoint(
            nodes.join(contrib.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                (
                    F.when(seed, F.lit(teleport)).otherwise(F.lit(0))
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(__m, 0L)) DIV {DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            ),
            eager=True,
        )
    release(nodes)
    release(edges)
    release(base)
    return ranks
