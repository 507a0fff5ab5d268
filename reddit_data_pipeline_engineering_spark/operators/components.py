"""Connected components over candidate-pair graphs (dedup clustering).

Training-data pipelines need the step AFTER near-dup candidate generation:
grouping pairs into duplicate clusters and electing one canonical document
per cluster. That is connected components on the pair graph.

One algorithm: the large-star/small-star edge contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm). Each round rewires edges toward local minima (large-star
moves every larger neighbor to the neighborhood min, small-star then
flattens the remaining down-edges), which provably converges in
O(log n) rounds REGARDLESS of diameter — a chain of length L costs
~log L rounds, where min-label propagation needs ~L. This is the 100 TB
path for long-chain graphs (>10^9 edges; SCALE.md §10). Below a bounded
edge count the remaining rounds are replaced by a driver union-find
(``DRIVER_FINISH_MAX_EDGES``), which every registry graph reaches before
the first round.

Each round cuts lineage with a localCheckpoint so the plan doesn't grow
across iterations (the classic Spark iterative-algorithm trap), and
shuffles only on vertex ids — one keyed exchange per join/aggregate, no
all-pairs work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import cache, checkpoint, release

# r11 optimization: once the (possibly already contracted) edge relation
# is at most this many rows, the remaining rounds are replaced by ONE
# bounded collect + driver-side union-find with min-id roots — the same
# labels the distributed fixed point produces, without paying 3-6 more
# rounds of micro-stage scheduling (measured 1.2 s/round on a 6.8k-edge
# graph at bench scale — pure fixed cost, no data). The collect is
# bounded by THIS constant (~16 bytes/edge -> <2 MB at the default), the
# precedent for every other bounded collect in the repo; at 100 TB the
# distributed rounds run until star contraction shrinks the remnant
# under the cap (it shrinks monotonically toward one star per
# component), so the driver never sees an unbounded relation. Callers
# override it with ``driver_finish_max_edges``; 0 disables (pure
# distributed).
DRIVER_FINISH_MAX_EDGES = 100_000


def _id_type(edges: DataFrame, src: str) -> str:
    return edges.schema[src].dataType.simpleString()


def _driver_union_find(spark, rows, id_type: str) -> DataFrame:
    """Min-id union-find over a BOUNDED collected edge list — the exact
    fixed-point labeling the distributed contraction converges to: every
    node labeled with the minimum node id reachable from it. Root choice
    is 'smaller id wins', so the root of every set is its min id under
    any union order; path compression keeps it near-linear."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(n, find(n)) for n in sorted(nodes)]
    return spark.createDataFrame(
        out, f"id {id_type}, component {id_type}"
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iterations: int = 25,
    stats: dict | None = None,
    driver_finish_max_edges: int | None = None,
) -> DataFrame:
    """Return (id, component) with component = min vertex id reachable.

    ``edges`` is an undirected pair list (each pair once, either order).
    If ``stats`` is a dict, ``stats["rounds"]`` records the number of
    contraction rounds executed and ``stats["driver_finish_edges"]`` the
    residual edge count handed to the union-find finish (absent when the
    distributed fixed point completed first).
    ``driver_finish_max_edges`` gates the bounded driver finish (None ->
    ``DRIVER_FINISH_MAX_EDGES``; 0 disables).

    Edges are kept canonically pointing DOWN (u > v). One round =
    large-star (every neighbor larger than the center rewires to the
    neighborhood min, computed over BOTH directions) then small-star
    (every down-neighbor of a center rewires to the center's min
    down-neighbor). The edge set is a fixed point iff it is a union of
    stars rooted at each component's min vertex.
    """
    if driver_finish_max_edges is None:
        driver_finish_max_edges = DRIVER_FINISH_MAX_EDGES
    # Self-loops are dropped by round 1's large-star (v > u) and by the
    # driver finish, not by a plan filter: Catalyst pushes an x != y
    # filter into the caller's pair-join condition AHEAD of the join's
    # own cheap predicates, so the semantic-dedup cosine ran on every
    # block pair, not half of them (1.8 s -> 3.0 s per build at sf0.1).
    e = cache(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
    )
    rounds = 0
    converged = False

    def _finish(cur: DataFrame, n_edges: int) -> DataFrame:
        # Bounded driver finish: both star operations preserve the
        # component partition over the same vertex set (Kiveris et al.
        # §3 — rewiring only moves edges toward the component min), so
        # union-find over ANY round's edge set yields the identical
        # min-id labeling the distributed fixed point reads off.
        if stats is not None:
            stats["rounds"] = rounds
            stats["driver_finish_edges"] = n_edges
        rows = [(r["u"], r["v"]) for r in cur.collect() if r["u"] != r["v"]]
        out = _driver_union_find(
            edges.sparkSession, rows, _id_type(edges, src)
        )
        release(cur)
        return out

    if driver_finish_max_edges:
        # Upfront count also materializes the persisted edge set once —
        # without it, round 1's sym union scans the UNpersisted cache
        # twice and computes the (often expensive) pair-generation
        # subtree twice.
        n_e = e.count()
        if n_e <= driver_finish_max_edges:
            return _finish(e, n_e)
    for _ in range(max_iterations):
        rounds += 1
        # Large-star over full neighborhoods (both directions).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # No distinct here (r11): duplicate (u, v) rows — several
            # old centers sharing one min — are absorbed by small-star's
            # min-aggregate and the final distinct below, so the output
            # edge set is identical while the round does one less
            # full-|E| exchange (the dedup shuffle this removed).
        )
        # Small-star: `large` edges all point down (v < u).
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        # Lazy checkpoint (r11): the violations aggregate below is a
        # FULL pass over `small`, so letting it trigger the local-
        # checkpoint materialization folds the former eager
        # materialization job into the convergence-check job — one
        # driver action per round instead of two. Lineage is cut
        # identically (LocalRDDCheckpointData fills any partition a
        # partial job missed at job end; the violations agg computes
        # them all anyway).
        small = checkpoint(
            large.join(smins, "u")
            .select(F.col("v").alias("node"), F.col("m"))
            .union(smins.select(F.col("u").alias("node"), F.col("m")))
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # Fixed-point test WITHOUT materializing another round: a
        # down-pointing distinct edge set is invariant under the
        # large+small round iff it is a union of min-rooted stars —
        # i.e. every u carries exactly one edge and no node appears on
        # both sides. (Leaves then see exactly {root}, min = root; the
        # root sees its leaves, min = itself — both stars reproduce
        # themselves.) Checking the property on this round's output is
        # ONE tiny scan+agg job over the checkpointed rows, replacing
        # the old count + exceptAll pair (the exceptAll re-shuffled
        # BOTH edge relations every round) and detecting convergence
        # one round earlier: the old criterion needed round k+1 to
        # reproduce round k's output before it could stop.
        violations = (
            # ONE scan of `small` (explode, not a self-union): the union
            # form read the checkpoint-pending RDD twice, which before
            # materialization computes every partition twice (and races
            # the checkpoint cache); the exploded form both materializes
            # the lazy checkpoint and checks convergence in a single
            # pass over each partition.
            small.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("node"),
                            F.lit(1).alias("as_u"),
                            F.lit(0).alias("as_v"),
                        ),
                        F.struct(
                            F.col("v").alias("node"),
                            F.lit(0).alias("as_u"),
                            F.lit(1).alias("as_v"),
                        ),
                    )
                ).alias("s")
            )
            .select("s.node", "s.as_u", "s.as_v")
            .groupBy("node")
            .agg(F.sum("as_u").alias("nu"), F.max("as_v").alias("nv"))
            # Global fold: violation count AND edge count (sum of nu =
            # |small|) in the SAME job — the round's only driver action,
            # serving convergence, the driver-finish gate, and the lazy-
            # checkpoint materialization at once.
            .agg(
                F.sum(
                    F.when(
                        (F.col("nu") > 1)
                        | ((F.col("nu") >= 1) & (F.col("nv") == 1)),
                        1,
                    ).otherwise(0)
                ).alias("n_vio"),
                F.sum("nu").alias("n_edges"),
            )
        )
        # No cache on top: the checkpoint above materializes `small`
        # under the violations job; layering a columnar cache over the
        # checkpoint RDD would add a per-round cache-build pass.
        row = violations.collect()[0]
        # This round read `e` (the pre-loop cache, then the previous
        # round's checkpoint); `small` is materialized now.
        release(e)
        e = small
        if (row["n_vio"] or 0) == 0:
            converged = True
            break
        if driver_finish_max_edges and row["n_edges"] <= driver_finish_max_edges:
            return _finish(e, row["n_edges"])
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # Silent truncation returns WRONG components: non-star residual
        # edges mislabel nodes (capped min-label rounds once reported 30
        # DBSCAN clusters at sf0.1 where the true closure has 28). Star
        # needs O(log n) rounds, so 25 covers ~2^25 vertices — if this
        # fires the graph is astronomically deep or the cap was lowered;
        # raise max_iterations.
        raise ValueError(
            f"connected_components did not converge in "
            f"{max_iterations} rounds; raise max_iterations"
        )
    # Fixed point is a union of stars: non-roots each hold exactly one
    # edge to their component's min vertex; roots label themselves.
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    return labels.union(roots).distinct()


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs -> (component, n_members,
    canonical_id) clusters.

    canonical_id = min member (the component label itself); singleton
    documents (no pair) are not rows here — they are their own canonical.
    """
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("canonical_id"),
    )
