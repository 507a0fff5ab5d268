"""Graph centrality over the order network (iterative-algorithm family).

With connected components (dup_clusters) this gives the engine both
canonical iterative graph operators. PageRank runs on the symmetrized
customer–supplier transaction graph (an edge per distinct trading pair,
via orders ⋈ lineitem) in exact integer arithmetic, so the DuckDB oracle
replays all three power iterations bit-identically as unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators import pagerank as pr
from reddit_data_pipeline_engineering_spark.operators import bfs
from reddit_data_pipeline_engineering_spark.operators import kcore
from reddit_data_pipeline_engineering_spark.operators import lpa
from reddit_data_pipeline_engineering_spark.operators import triangles as tri
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]

_PR_ITERS = 3


def _sym_bipartite(pairs, weight: str | None = None):
    """Symmetrized bipartite edge list in ONE pass over the (expensive,
    unpersisted) customer-supplier pair subtree: ``up.union(down)``
    evaluates the orders ⋈ lineitem join once per branch, while
    ``explode(array(fwd, rev))`` reads it once for the same edge
    multiset (the components.py symmetrize device). Node encoding
    unchanged: customer -> 2k, supplier -> 2k+1."""
    extra = [weight] if weight else []
    fwd = F.struct(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        *[F.col(c) for c in extra],
    )
    rev = F.struct(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("o_custkey") * 2).alias("dst"),
        *[F.col(c) for c in extra],
    )
    return pairs.select(F.explode(F.array(fwd, rev)).alias("e")).select(
        "e.src", "e.dst", *[f"e.{c}" for c in extra]
    )
# Node ids carry a tag BIT (customer = 2*custkey, supplier = 2*suppkey+1)
# instead of an additive offset — structurally disjoint at ANY scale,
# where a fixed offset would collide once custkeys outgrow it.


def _pr_ctes() -> str:
    teleport = (pr.SCALE * (pr.DAMP_DEN - pr.DAMP_NUM)) // pr.DAMP_DEN
    parts = [
        f"""pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
)""",
        """deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
)""",
        """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
)""",
        f"""r0 AS MATERIALIZED (
  SELECT node, CAST({pr.SCALE} AS BIGINT) AS rank FROM nodes
)""",
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank // d.d) AS m
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)""")
        parts.append(f"""r{t} AS MATERIALIZED (
  SELECT n.node,
         CAST({teleport} + ({pr.DAMP_NUM} * COALESCE(c.m, 0))
              // {pr.DAMP_DEN} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{t} c USING (node)
)""")
    return ",\n".join(parts)


_PAGERANK_ORACLE = f"""
WITH {_pr_ctes()}
SELECT CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END
         AS node_kind,
       CAST(node // 2 AS BIGINT) AS node_id,
       rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
"""


@query(
    "pagerank_topk",
    _PAGERANK_ORACLE,
    "Integer-exact PageRank (3 power iterations, operators/pagerank.py) "
    "over the symmetrized customer-supplier graph: one keyed shuffle per "
    "iteration (edges ⋈ ranks on src, contributions aggregated on dst "
    "with map-side partials), teleport as a literal, every step exact "
    "64-bit integer math so the oracle replays all iterations as "
    "unrolled CTEs. Top-20 authority nodes.",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    ranks = pr.pagerank(_sym_bipartite(pairs), iters=_PR_ITERS)
    kind = F.when(
        F.col("node") % 2 == 1, F.lit("supplier")
    ).otherwise(F.lit("customer"))
    node_id = F.shiftright(F.col("node").cast("long"), 1)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select(
            kind.alias("node_kind"),
            node_id.cast("long").alias("node_id"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# Triangle counting (operators/triangles.py): degree-oriented wedge
# generation over a DOULION-sampled co-purchase graph. Degree orientation
# caps per-node wedge fan-out by arboricity (the power-law skew killer);
# the deterministic md5 edge sample bounds total work and the p^-3
# estimator recovers the full-graph count. Everything integer ->
# bit-exact SQL replay including the estimator.
# --------------------------------------------------------------------------

_TRI_PCT = 10  # DOULION keep-rate: 10% of edges -> estimator x1000

_TRIANGLES_ORACLE = f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), sampled AS MATERIALIZED (
  SELECT u, v FROM pairs
  WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || ':'
                            || CAST(v AS VARCHAR)), 1, 8))::BIGINT
        % 100 < {_TRI_PCT}
), deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM sampled UNION ALL SELECT v FROM sampled)
  GROUP BY node
), oriented AS MATERIALIZED (
  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS src,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS dst
  FROM sampled p
  JOIN deg du ON p.u = du.node
  JOIN deg dv ON p.v = dv.node
), wedges AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.dst < e2.dst
), closed AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges wg JOIN sampled s ON wg.v = s.u AND wg.w = s.v
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM sampled) AS n_sampled,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       n_triangles,
       CAST(n_triangles * {(100 // _TRI_PCT) ** 3} AS BIGINT)
         AS est_triangles_scaled
FROM closed
"""


@query(
    "triangle_count_sampled",
    _TRIANGLES_ORACLE,
    "DOULION triangle counting on the part co-purchase graph: "
    "deterministic md5 10% edge sample, degree-oriented wedge join "
    "(hub fan-out capped by arboricity, Suri-Vassilvitskii WWW'11), "
    "two-column equi-join closure, p^-3 unbiased estimator — all "
    "integer, bit-exact replay",
    tags=("relational", "graph", "bench"),
)
def q_triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The edge/sample relations feed FIVE consumers (degree build, two
    # wedge sides, closure probe, scalar counts); localCheckpoint
    # materializes each once — same device as pagerank/kmeans — instead
    # of replaying the basket self-join per branch (30% at sf0.1, and
    # the recompute would dominate at corpus scale).
    edges = checkpoint(tri.copurchase_edges(li), eager=True)
    sampled = checkpoint(tri.sample_edges(edges, _TRI_PCT), eager=True)
    counts = tri.triangle_count(sampled)
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_sampled = sampled.agg(F.count(F.lit(1)).alias("n_sampled"))
    mult = (100 // _TRI_PCT) ** 3
    return (
        n_edges.crossJoin(n_sampled)
        .crossJoin(counts)
        .select(
            "n_edges",
            "n_sampled",
            "n_wedges",
            "n_triangles",
            (F.col("n_triangles") * mult).cast("long").alias(
                "est_triangles_scaled"
            ),
        )
    )


# --------------------------------------------------------------------------
# BFS k-hop reachability (operators/bfs.py) on the same tagged-id
# customer-supplier graph PageRank uses: per-round frontier ⋈ edges +
# min-merge — the frontier-expansion kernel behind reachability and
# delta-stepping SSSP. The oracle unrolls all rounds as CTEs; output is
# the per-distance node histogram (bounded rows at any graph size).
# --------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_SOURCE = 0  # customer node custkey=0 -> tagged id 0


def _bfs_ctes() -> str:
    parts = [
        """pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
)""",
        f"""l0 AS (
  SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, 0 AS dist
)""",
    ]
    for t in range(1, _BFS_ROUNDS + 1):
        parts.append(f"""l{t} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM l{t - 1}
    UNION ALL
    SELECT e.dst AS node, {t} AS dist
    FROM l{t - 1} f JOIN edges e ON e.src = f.node
    WHERE f.dist = {t - 1}
  ) GROUP BY node
)""")
    return ",\n".join(parts)


_BFS_ORACLE = f"""
WITH {_bfs_ctes()}
SELECT dist, COUNT(*) AS n_nodes
FROM l{_BFS_ROUNDS}
GROUP BY dist ORDER BY dist
"""


@query(
    "bfs_reachability",
    _BFS_ORACLE,
    "BFS 4-hop reachability from customer 0 over the symmetrized "
    "customer-supplier graph: per-round frontier-join + min-merge "
    "(operators/bfs.py, lineage checkpointed), per-distance node "
    "histogram; oracle unrolls every round as CTEs",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    levels = bfs.bfs_levels(_sym_bipartite(pairs), _BFS_SOURCE, _BFS_ROUNDS)
    return (
        levels.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------------
# k-core peeling (operators/kcore.py) on the part co-purchase graph:
# per round, one degree aggregate + two endpoint semi-joins keep only
# nodes of degree >= k — the dense-subgraph extraction kernel behind
# community mining and graph sparsification. Fixed round count makes
# the peel engine-exact; the oracle unrolls every round as CTEs, and
# the output is the per-round (nodes, edges) survival curve (bounded
# rows at any graph size). k=90 sits at the sf0.01 degree median, so
# the curve shows a genuine multi-round cascade there while sf0.001
# collapses to the empty core by round 2 — both exact.
# --------------------------------------------------------------------------

_KCORE_K = 90
_KCORE_ROUNDS = 3


def _kcore_ctes() -> str:
    parts = [
        """pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        """e0 AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs
)""",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f"""a{r} AS MATERIALIZED (
  SELECT src AS node
  FROM (SELECT src, COUNT(*) AS deg FROM e{r - 1} GROUP BY src)
  WHERE deg >= {_KCORE_K}
)""")
        parts.append(f"""e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN a{r} x ON e.src = x.node
  JOIN a{r} y ON e.dst = y.node
)""")
    return ",\n".join(parts)


_KCORE_ORACLE = f"""
WITH {_kcore_ctes()},
stats AS (
{" UNION ALL ".join(
    f'''SELECT {r} AS round,
       CAST((SELECT COUNT(*) FROM a{r}) AS BIGINT) AS nodes_alive,
       CAST((SELECT COUNT(*) FROM e{r}) // 2 AS BIGINT) AS edges_alive'''
    for r in range(1, _KCORE_ROUNDS + 1)
)}
)
SELECT * FROM stats ORDER BY round
"""


@query(
    "kcore_peel_counts",
    _KCORE_ORACLE,
    f"k-core peeling on the part co-purchase graph (k={_KCORE_K}, "
    f"{_KCORE_ROUNDS} rounds): one degree aggregate + two endpoint "
    "semi-joins per round, edge list checkpointed — the dense-subgraph "
    "survival curve, engine-exact via unrolled-CTE replay",
    tags=("relational", "graph", "bench"),
)
def q_kcore_peel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    und = tri.copurchase_edges(li)
    # One-pass symmetrize (components.py device): unionAll(swap) would
    # evaluate the expensive lineitem self-join once per branch.
    edges = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return kcore.kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# --------------------------------------------------------------------------
# Synchronous label propagation (operators/lpa.py) on the part
# co-purchase graph: per round one edge ⋈ label join + one (node,
# label) count + one per-node argmax window, deterministic tie-break —
# community detection, the sixth graph kernel. Fixed rounds →
# unrolled-CTE oracle replay; output is the top-20 communities by
# size (bounded at any graph size).
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_ctes() -> str:
    parts = [
        """lpairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)""",
        """le AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM lpairs UNION ALL SELECT v, u FROM lpairs
)""",
        """l0 AS MATERIALIZED (
  SELECT node, node AS label FROM (
    SELECT DISTINCT src AS node FROM le)
)""",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        parts.append(f"""lc{r} AS MATERIALIZED (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM le e JOIN l{r - 1} l ON e.src = l.node
  GROUP BY e.dst, l.label
)""")
        parts.append(f"""l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM lc{r})
  WHERE rn = 1
)""")
    return ",\n".join(parts)


_LPA_ORACLE = f"""
WITH {_lpa_ctes()}
SELECT CAST(label AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{_LPA_ROUNDS}
GROUP BY label
ORDER BY n_members DESC, community
LIMIT 20
"""


@query(
    "lpa_communities",
    _LPA_ORACLE,
    "Synchronous label propagation (3 rounds, deterministic argmax "
    "tie-break) on the part co-purchase graph: one edge-label join + "
    "count + per-node argmax window per round — top-20 communities, "
    "engine-exact via unrolled-CTE replay",
    tags=("relational", "graph", "bench"),
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    und = tri.copurchase_edges(li)
    # One-pass symmetrize (components.py device): unionAll(swap) would
    # evaluate the expensive lineitem self-join once per branch.
    edges = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    labels = lpa.label_propagation(edges, rounds=_LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Weighted SSSP (operators/bfs.sssp_distances) on the customer-supplier
# graph: edge weight = min shipped quantity over the pair's lineitems
# (integer 1..50 — the "lightest shipment link"), 4 Bellman-Ford rounds
# with frontier pruning. The Spark side relaxes only IMPROVED nodes per
# round; the oracle replays textbook full relaxation — identical
# (node, dist) after every round, because an unimproved node re-emits
# candidates already min-merged in an earlier round (equivalence also
# pinned by the brute-force property test in test_graph.py). Output is
# the per-distance node histogram: bounded by the VALUE DOMAIN
# (dist <= rounds * 50), not the graph size.
# --------------------------------------------------------------------------

_SSSP_ROUNDS = 4
_SSSP_SOURCE = 0  # customer node custkey=0 -> tagged id 0


def _sssp_ctes() -> str:
    parts = [
        """wpairs AS MATERIALIZED (
  SELECT o_custkey AS c, l_suppkey AS s,
         MIN(CAST(l_quantity AS BIGINT)) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)""",
        """wedges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM wpairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, w FROM wpairs
)""",
        f"""d0 AS (
  SELECT CAST({_SSSP_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
)""",
    ]
    for t in range(1, _SSSP_ROUNDS + 1):
        parts.append(f"""d{t} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT e.dst AS node, f.dist + e.w AS dist
    FROM d{t - 1} f JOIN wedges e ON e.src = f.node
  ) GROUP BY node
)""")
    return ",\n".join(parts)


_SSSP_ORACLE = f"""
WITH {_sssp_ctes()}
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d{_SSSP_ROUNDS}
GROUP BY dist ORDER BY dist
"""


@query(
    "sssp_weighted_hist",
    _SSSP_ORACLE,
    "Weighted SSSP (4 Bellman-Ford rounds, frontier-pruned) from "
    "customer 0 over the customer-supplier graph with min-quantity edge "
    "weights: improved-frontier join + min-merge per round "
    "(operators/bfs.sssp_distances), per-distance node histogram "
    "bounded by the weight domain; oracle replays full relaxation as "
    "unrolled CTEs",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_sssp_weighted_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wpairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    )
    dist = bfs.sssp_distances(
        _sym_bipartite(wpairs, weight="w"), _SSSP_SOURCE, _SSSP_ROUNDS
    )
    return (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------------
# Deterministic random-walk corpus (operators/walks.py) on the
# customer-supplier graph: one walker per customer node with custkey <
# 40 that trades at all, 3 hops, neighbor choice = md5("u|v|t") argmin
# (uniform, step-dependent, engine-independent). This is the
# DeepWalk/node2vec walk-corpus generator; the oracle replays every
# step with a row_number-over-md5 window. Output: one bounded row per
# walker (end node + full path string).
# --------------------------------------------------------------------------

_WALK_STEPS = 3
_WALK_MAX_NODE = 80  # customer tag ids are even; custkey < 40 -> node < 80


def _walk_ctes() -> str:
    parts = [
        """wkpairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """wkedges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM wkpairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM wkpairs
)""",
        f"""w0 AS (
  SELECT src AS walker, src AS node, CAST(src AS VARCHAR) AS path
  FROM (SELECT DISTINCT src FROM wkedges
        WHERE src % 2 = 0 AND src < {_WALK_MAX_NODE})
)""",
    ]
    for t in range(1, _WALK_STEPS + 1):
        parts.append(f"""w{t} AS MATERIALIZED (
  SELECT walker, node, path FROM (
    SELECT w.walker, e.dst AS node,
           w.path || '->' || CAST(e.dst AS VARCHAR) AS path,
           row_number() OVER (
             PARTITION BY w.walker
             ORDER BY md5(CAST(e.src AS VARCHAR) || '|' ||
                          CAST(e.dst AS VARCHAR) || '|' || '{t}'),
                      e.dst) AS rn
    FROM w{t - 1} w JOIN wkedges e ON e.src = w.node
  ) WHERE rn = 1
)""")
    return ",\n".join(parts)


_WALK_ORACLE = f"""
WITH {_walk_ctes()}
SELECT walker, node AS end_node, path
FROM w{_WALK_STEPS}
ORDER BY walker
"""


@query(
    "random_walk_corpus",
    _WALK_ORACLE,
    "DeepWalk-style walk corpus: 3 deterministic md5-argmin hops per "
    "walker (one per low-id customer node) over the customer-supplier "
    "graph — per round one frontier-edge join + per-walker struct-min "
    "argmin (operators/walks.py, no windows); cost per round is "
    "walkers x degree, graph-size independent; oracle replays each "
    "step via row_number over the same md5",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_random_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import walks as wk

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = _sym_bipartite(pairs)
    anchors = (
        edges.filter(
            (F.col("src") % 2 == 0) & (F.col("src") < _WALK_MAX_NODE)
        )
        .select(F.col("src").alias("node"))
        .distinct()
    )
    out = wk.random_walks(edges, anchors, _WALK_STEPS)
    return out.select(
        "walker", F.col("node").alias("end_node"), "path"
    ).orderBy("walker")


# --------------------------------------------------------------------------
# Link prediction by resource allocation (Zhou, Lü & Zhang, EPJ B 2009):
# predict supplier-supplier affinity from shared customers, scoring each
# candidate pair by Σ 1/deg(c) over the shared customers c. RA beats
# raw common-neighbor counts because hub customers (who buy from
# everyone) contribute almost nothing — and that same observation makes
# the plan scale-safe: pair emission is capped to customers with degree
# ≤ _RA_DEG_CAP, so the candidate volume is ≤ N_customers·CAP²/2 (linear
# in customers), while the excluded hubs would each have contributed
# only 1/deg ≈ 0 per pair. Integer 1e6-scaled 1/deg keeps the oracle
# replay exact.
# --------------------------------------------------------------------------

_RA_DEG_CAP = 40
_RA_SCALE = 1_000_000

_RA_LINKPRED_ORACLE = f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT c, COUNT(*) AS d FROM pairs GROUP BY c),
elig AS (
  SELECT p.c, p.s, d.d
  FROM pairs p JOIN deg d USING (c)
  WHERE d.d <= {_RA_DEG_CAP}
),
cand AS (
  SELECT a.s AS supp_a, b.s AS supp_b, a.d AS d
  FROM elig a JOIN elig b ON a.c = b.c AND a.s < b.s
)
SELECT supp_a, supp_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(SUM({_RA_SCALE} // d) AS BIGINT) AS ra_scaled
FROM cand
GROUP BY supp_a, supp_b
ORDER BY ra_scaled DESC, supp_a, supp_b
LIMIT 20
"""


@query(
    "ra_linkpred_topk",
    _RA_LINKPRED_ORACLE,
    "Resource-allocation link prediction (Zhou-Lu-Zhang 2009) for "
    "supplier pairs via shared customers: per-customer pair emission "
    "capped at degree ≤ 40 (hubs contribute 1/deg ≈ 0 signal and "
    "quadratic volume — dropped by design, bounding candidates to "
    "N·CAP²/2), Σ 1e6 div deg integer scoring, TakeOrderedAndProject "
    "top-20",
    tags=("relational", "graph", "bench"),
)
def q_ra_linkpred_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    elig = pairs.join(deg, "c").filter(F.col("d") <= _RA_DEG_CAP)
    a = elig.select("c", F.col("s").alias("supp_a"), "d")
    b = elig.select("c", F.col("s").alias("supp_b"))
    cand = a.join(b, "c").filter(F.col("supp_a") < F.col("supp_b"))
    return (
        cand.groupBy("supp_a", "supp_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.expr(f"{_RA_SCALE} div d")).cast("long").alias(
                "ra_scaled"
            ),
        )
        .orderBy(F.desc("ra_scaled"), "supp_a", "supp_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg, JACM 1999) on the DIRECTED
# customer→supplier purchase graph: authorities are suppliers scored by
# who buys from them, hubs are customers scored by what they buy. Two
# mutual-reinforcement rounds in exact integer arithmetic; instead of
# the float L2 normalization, every aggregate is floor-divided by 8 —
# a deterministic rescale both engines replay bit-identically (the
# ranking, which is all HITS is used for, is unaffected). Growth per
# round is bounded by max-degree/8; at extreme scales the scores move
# to DECIMAL(38,0)/HUGEINT — a type swap, not a plan change. Each round
# is one edge⋈score join + one keyed aggregate — the same
# round-dominated shape as PageRank/LPA.
# --------------------------------------------------------------------------

_HITS_RESCALE = 8
_HITS_TOPK = 10

_HITS_ORACLE = f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a1 AS MATERIALIZED (
  SELECT s, COUNT(*) // {_HITS_RESCALE} AS a FROM pairs GROUP BY s
),
h1 AS MATERIALIZED (
  SELECT p.c, SUM(a1.a) // {_HITS_RESCALE} AS h
  FROM pairs p JOIN a1 USING (s) GROUP BY p.c
),
a2 AS MATERIALIZED (
  SELECT p.s, SUM(h1.h) // {_HITS_RESCALE} AS a
  FROM pairs p JOIN h1 USING (c) GROUP BY p.s
),
h2 AS MATERIALIZED (
  SELECT p.c, SUM(a2.a) // {_HITS_RESCALE} AS h
  FROM pairs p JOIN a2 USING (s) GROUP BY p.c
),
topa AS (
  SELECT 'authority' AS kind, s AS node_id, CAST(a AS BIGINT) AS score
  FROM a2 ORDER BY a DESC, s LIMIT {_HITS_TOPK}
),
toph AS (
  SELECT 'hub' AS kind, c AS node_id, CAST(h AS BIGINT) AS score
  FROM h2 ORDER BY h DESC, c LIMIT {_HITS_TOPK}
)
SELECT * FROM topa
UNION ALL
SELECT * FROM toph
ORDER BY kind, score DESC, node_id
"""


@query(
    "hits_topk",
    _HITS_ORACLE,
    "HITS hubs/authorities (Kleinberg 1999), 2 mutual-reinforcement "
    "rounds on the directed customer→supplier graph: one edge⋈score "
    "join + keyed aggregate per half-round, float normalization "
    "replaced by deterministic div-8 rescale so the oracle replays "
    "every round exactly; top-10 authorities + top-10 hubs",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_hits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # pairs fans out to four consumers (a1 and the three half-round
    # joins); without a materialization boundary the orders⋈lineitem
    # build + distinct ran repeatedly (r07 stage-detail audit: three
    # duplicated edge-build stage pairs at sf0.1). Lazy localCheckpoint
    # runs it once; stored volume is the distinct (c, s) edge list —
    # the relation every consumer was already re-shuffling.
    pairs = checkpoint(pairs)
    r = _HITS_RESCALE
    a1 = pairs.groupBy("s").agg(
        F.expr(f"count(1) div {r}").alias("a")
    )
    h1 = (
        pairs.join(a1, "s")
        .groupBy("c")
        .agg(F.expr(f"sum(a) div {r}").alias("h"))
    )
    a2 = (
        pairs.join(h1, "c")
        .groupBy("s")
        .agg(F.expr(f"sum(h) div {r}").alias("a"))
    )
    h2 = (
        pairs.join(a2, "s")
        .groupBy("c")
        .agg(F.expr(f"sum(a) div {r}").alias("h"))
    )
    topa = (
        a2.orderBy(F.desc("a"), "s")
        .limit(_HITS_TOPK)
        .select(
            F.lit("authority").alias("kind"),
            F.col("s").alias("node_id"),
            F.col("a").cast("long").alias("score"),
        )
    )
    toph = (
        h2.orderBy(F.desc("h"), "c")
        .limit(_HITS_TOPK)
        .select(
            F.lit("hub").alias("kind"),
            F.col("c").alias("node_id"),
            F.col("h").cast("long").alias("score"),
        )
    )
    return topa.unionAll(toph).orderBy("kind", F.desc("score"), "node_id")


# --------------------------------------------------------------------------
# Personalized PageRank (operators/pagerank.personalized_pagerank):
# random-walk-with-restart proximity to a SEED set — the recommender /
# related-entity primitive global PageRank cannot express (its uniform
# teleport ranks global authority; PPR ranks closeness to the seeds).
# Seeds: supplier nodes of the lowest nation present — a dimension-
# derived, bounded set
# (broadcast-joined seed flag, so each round still costs the single
# edges⋈ranks keyed shuffle + contribution aggregate). Output: top-20
# CUSTOMER nodes by proximity — "which customers trade closest to
# nation-0's supplier base", the segmentation question the transaction
# graph answers. Exact 64-bit integer grid throughout → the oracle
# replays all rounds as unrolled CTEs, bit-identically.
# --------------------------------------------------------------------------


def _ppr_ctes() -> str:
    teleport = (pr.SCALE * (pr.DAMP_DEN - pr.DAMP_NUM)) // pr.DAMP_DEN
    parts = [
        """pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
)""",
        """deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
)""",
        """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
)""",
        """seeds AS MATERIALIZED (
  -- lowest nation PRESENT, not a literal: non-empty at every SF (the
  -- sf0.001 slice holds no nation-0 suppliers)
  SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
)""",
        f"""r0 AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN {pr.SCALE} ELSE 0 END
              AS BIGINT) AS rank
  FROM nodes n LEFT JOIN seeds s USING (node)
)""",
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank // d.d) AS m
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)""")
        parts.append(f"""r{t} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN {teleport} ELSE 0 END
              + ({pr.DAMP_NUM} * COALESCE(c.m, 0)) // {pr.DAMP_DEN}
              AS BIGINT) AS rank
  FROM nodes n LEFT JOIN seeds s USING (node)
  LEFT JOIN c{t} c USING (node)
)""")
    return ",\n".join(parts)


_PPR_ORACLE = f"""
WITH {_ppr_ctes()}
SELECT CAST(node // 2 AS BIGINT) AS customer_id, rank
FROM r{_PR_ITERS}
WHERE node % 2 = 0 AND rank > 0
ORDER BY rank DESC, node
LIMIT 20
"""


@query(
    "ppr_topk",
    _PPR_ORACLE,
    "Personalized PageRank ({} power iterations) seeded on the "
    "lowest-present nation's suppliers over the symmetrized customer-"
    "supplier graph: "
    "teleport mass restricted to the broadcast seed flag, one keyed "
    "shuffle per round, exact integer grid so the oracle replays every "
    "round as unrolled CTEs; top-20 customers by seed proximity — the "
    "random-walk-with-restart recommender primitive "
    "(Haveliwala WWW'02)".format(_PR_ITERS),
    tags=("relational", "graph", "iterative", "bench"),
)
def q_ppr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    # Seed nation = the lowest nation key PRESENT (broadcast 1-row
    # scalar), so the seed set is non-empty at every SF slice.
    min_nation = supp.agg(F.min("s_nationkey").alias("__mn"))
    seeds = (
        supp.crossJoin(F.broadcast(min_nation))
        .filter(F.col("s_nationkey") == F.col("__mn"))
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    ranks = pr.personalized_pagerank(
        _sym_bipartite(pairs), seeds, iters=_PR_ITERS
    )
    return (
        ranks.filter((F.col("node") % 2 == 0) & (F.col("rank") > 0))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select(
            F.shiftright(F.col("node").cast("long"), 1)
            .cast("long")
            .alias("customer_id"),
            "rank",
        )
    )
