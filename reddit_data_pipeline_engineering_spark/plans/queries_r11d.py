"""Round-11 wave 8: centrality, clustering, AD test, DP audit, AUC.

Five operators extending the graph-analytics, distribution-test, and
model/privacy-governance surface (no reference counterpart — the
reference's only analytics is the Glue projection kernel, SURVEY.md
§3.2):

- ``harmonic_closeness_seeds`` — truncated harmonic closeness from 4
  fixed customer seeds via ONE fused multi-source BFS
  (``operators/bfs.multi_bfs_levels``): K probes share each round's
  frontier join instead of paying K sequential passes;
- ``local_clustering_hist`` — EXACT per-node local clustering
  coefficient on the part co-purchase graph (degree-ordered triangle
  enumeration, sum(outdeg^2) <= O(|E|^1.5) bound — no sampling, no
  hot-node cap), rolled into an 11-band histogram;
- ``ad_two_sample_ab`` — Anderson-Darling two-sample statistic
  between the md5 A/B arms: the tail-weighted companion of
  ``cvm_two_sample_ab`` on the same cents-grid device;
- ``dp_sensitivity_audit`` — user-level L1/L-inf sensitivity of the
  per-type count and revenue-sum releases: the clipping-bound
  pre-audit every differentially-private aggregate needs;
- ``roc_auc_propensity`` — rank-based ROC AUC (Mann-Whitney U with
  midrank tie handling, integer 2x device) of the activity-count
  score predicting purchase — the ranking-power companion of
  ``lift_by_score_band`` / ``calibration_ece_temporal``.

House rules (module contract, same as queries_r11*): integer-exact
outputs, truncate-toward-zero division in both engines, keyed
aggregates unless the input is provably bounded (the 11-band LCC
histogram, the 4-seed closeness relation, the quantized activity-score
grid), big products on DECIMAL(38,0)/HUGEINT, mirrored expression
trees — including the documented per-term truncation in the AD sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators import bfs, triangles as tri
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, _dec, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# Truncated harmonic closeness from 4 fixed seeds over the symmetrized
# customer-supplier graph (the bfs_reachability node encoding:
# customer c -> 2c, supplier s -> 2s+1). One multi-source BFS carries
# all 4 probes in a single (seed, node, dist) state: per round ONE
# keyed frontier join + ONE min-merge on (seed, node) — K-seed
# centrality at the per-round cost of one probe. Harmonic centrality
# within radius 3: H(seed) = sum over reached nodes of 1e6 div dist
# (truncated per node, the deterministic integer form; distances are
# exact minimum hops). The oracle unrolls every round as CTEs from a
# 4-row VALUES seed list.
# --------------------------------------------------------------------------

_CLOSE_SEEDS = [0, 2, 4, 6]  # customers 0..3
_CLOSE_ROUNDS = 3


def _close_ctes() -> str:
    seed_rows = ", ".join(f"({s})" for s in _CLOSE_SEEDS)
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
  SELECT CAST(seed AS BIGINT) AS seed, CAST(seed AS BIGINT) AS node,
         0 AS dist
  FROM (VALUES {seed_rows}) t(seed)
)""",
    ]
    for t in range(1, _CLOSE_ROUNDS + 1):
        parts.append(f"""l{t} AS MATERIALIZED (
  SELECT seed, node, MIN(dist) AS dist FROM (
    SELECT seed, node, dist FROM l{t - 1}
    UNION ALL
    SELECT f.seed, e.dst AS node, {t} AS dist
    FROM l{t - 1} f JOIN edges e ON e.src = f.node
    WHERE f.dist = {t - 1}
  ) GROUP BY seed, node
)""")
    return ",\n".join(parts)


_CLOSE_ORACLE = f"""
WITH {_close_ctes()}
SELECT CAST(seed // 2 AS BIGINT) AS custkey,
       CAST(COUNT(*) FILTER (WHERE dist >= 1) AS BIGINT) AS n_reached,
       CAST(COALESCE(SUM(dist) FILTER (WHERE dist >= 1), 0) AS BIGINT)
         AS sum_dist,
       CAST(COALESCE(SUM(1000000 // dist) FILTER (WHERE dist >= 1), 0)
            AS BIGINT) AS harmonic_e6
FROM l{_CLOSE_ROUNDS}
GROUP BY seed ORDER BY custkey
"""


@query(
    "harmonic_closeness_seeds",
    _CLOSE_ORACLE,
    "Truncated harmonic closeness (radius 3) from 4 fixed customer "
    "seeds over the symmetrized customer-supplier graph via ONE fused "
    "multi-source BFS — per round one keyed frontier join + one "
    "(seed, node) min-merge shared by all probes; H = sum 1e6 div "
    "dist, integer-exact; oracle unrolls rounds as CTEs",
    tags=("relational", "graph", "iterative", "bench"),
)
def q_harmonic_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    from reddit_data_pipeline_engineering_spark.plans.queries_graph import (
        _sym_bipartite,
    )

    levels = bfs.multi_bfs_levels(
        # One-pass symmetrize: union(up, down) would evaluate the
        # orders ⋈ lineitem pair join once per branch.
        _sym_bipartite(pairs), _CLOSE_SEEDS, _CLOSE_ROUNDS
    )
    reached = levels.filter(F.col("dist") >= 1)
    agg = reached.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("sum_dist"),
        F.sum(F.expr("1000000 div dist")).cast("long").alias("harmonic_e6"),
    )
    # seeds with zero reached nodes still get a row (the oracle's
    # GROUP BY seed keeps them via the dist=0 self-row)
    seeds = spark.createDataFrame(
        [(s,) for s in _CLOSE_SEEDS], "seed long"
    )
    return (
        seeds.join(agg, "seed", "left")
        .select(
            F.expr("CAST(seed div 2 AS BIGINT)").alias("custkey"),
            F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
            F.coalesce("sum_dist", F.lit(0)).cast("long").alias("sum_dist"),
            F.coalesce("harmonic_e6", F.lit(0)).cast("long")
            .alias("harmonic_e6"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# Exact local clustering coefficient histogram on the part
# co-purchase graph. per_node_triangles enumerates each triangle once
# at its degree-orientation corner and credits all three nodes — the
# sum(outdeg^2) <= O(|E|^1.5) guarantee means NO sampling and NO
# hot-node cap (contrast triangle_count_sampled, which estimates the
# global count; this is the exact per-node distribution). lcc_e6 =
# 2*t*1e6 div (d*(d-1)) over nodes of degree >= 2; 11 fixed bands
# (lcc_e6 div 1e5 = 0..10) keep the output bounded at any graph size.
# --------------------------------------------------------------------------

_LCC_ORACLE = """
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
), oriented AS MATERIALIZED (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.u ELSE p.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
              THEN p.v ELSE p.u END AS dst
  FROM pairs p
  JOIN deg du ON du.node = p.u
  JOIN deg dv ON dv.node = p.v
), closed AS MATERIALIZED (
  SELECT e1.src, e1.dst AS v, e2.dst AS w
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN pairs p ON p.u = e1.dst AND p.v = e2.dst
), tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT src AS node FROM closed
        UNION ALL SELECT v FROM closed
        UNION ALL SELECT w FROM closed)
  GROUP BY node
), lcc AS (
  SELECT CAST(2 * COALESCE(tri.t, 0) * 1000000 AS HUGEINT)
           // (CAST(deg.d AS HUGEINT) * (deg.d - 1)) AS lcc_e6
  FROM deg LEFT JOIN tri ON tri.node = deg.node
  WHERE deg.d >= 2
)
SELECT CAST(lcc_e6 // 100000 AS INTEGER) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(lcc_e6) AS BIGINT) AS sum_lcc_e6
FROM lcc
GROUP BY band ORDER BY band
"""


@query(
    "local_clustering_hist",
    _LCC_ORACLE,
    "EXACT local clustering coefficient per node on the part "
    "co-purchase graph (degree-orientation triangle enumeration, "
    "sum(outdeg^2) bound — no sampling/cap), lcc_e6 = 2t*1e6 div "
    "d(d-1) over degree>=2 nodes, rolled into 11 fixed bands — the "
    "per-node distribution triangle_count_sampled's global estimate "
    "cannot give",
    tags=("relational", "graph", "bench"),
)
def q_local_clustering_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = checkpoint(tri.copurchase_edges(li), eager=True)
    # |V|-sized degree table, materialized once and shared by the
    # orientation broadcasts inside per_node_triangles AND the final
    # lcc join (was recomputed from the edge union three extra times).
    deg = checkpoint(
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    t = tri.per_node_triangles(edges, deg=deg)
    lcc = (
        deg.filter(F.col("d") >= 2)
        .join(t, "node", "left")
        .select(
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000 AS DECIMAL(38,0)) "
                "div (CAST(d AS DECIMAL(38,0)) * (d - 1))"
            ).alias("lcc_e6")
        )
    )
    return (
        lcc.groupBy(
            F.expr("CAST(lcc_e6 div 100000 AS INT)").alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("lcc_e6").cast("long").alias("sum_lcc_e6"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# Anderson-Darling two-sample test between the md5 A/B arms' purchase
# values — the tail-weighted companion of cvm_two_sample_ab on the
# SAME cents-grid device (value-domain-bounded histogram + bounded
# cumulative window). Pettitt's A2 = (1/(nm)) sum_j (Mj*N - j*n)^2 /
# (j*(N-j)) evaluated at distinct-value RIGHT EDGES with cell weight
# w (the deterministic tie convention both engines and the brute
# replay share; with no ties it IS Pettitt's form). Each term is
# truncated AFTER its own division — keeping every intermediate under
# ~1e26 at sf10 where a sum-then-divide form would clear the
# DECIMAL(38,0) ceiling — then summed and divided by n*m. The largest
# value cell (B = N) is excluded exactly as j runs to N-1.
# --------------------------------------------------------------------------

_AD_ORACLE = """
WITH purch AS (
  SELECT CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), hist AS (
  SELECT cents,
         CAST(SUM(is_a) AS HUGEINT) AS ca,
         CAST(SUM(1 - is_a) AS HUGEINT) AS cb
  FROM purch GROUP BY cents
), cum AS (
  SELECT cents, ca, cb,
         SUM(ca) OVER (ORDER BY cents) AS cum_a,
         SUM(ca + cb) OVER (ORDER BY cents) AS cum_all
  FROM hist
), tot AS (
  SELECT CAST(SUM(ca) AS HUGEINT) AS n, CAST(SUM(cb) AS HUGEINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM hist
), terms AS (
  SELECT SUM((ca + cb) * ((n + m) * cum_a - n * cum_all)
             * ((n + m) * cum_a - n * cum_all) * 1000000
             // (cum_all * (n + m - cum_all))) AS s
  FROM cum CROSS JOIN tot
  WHERE cum_all < n + m
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b, n_cells,
       CASE WHEN COALESCE(n, 0) = 0 OR COALESCE(m, 0) = 0 THEN 0
            ELSE CAST(s // (n * m) AS BIGINT)
       END AS ad2_e6
FROM tot CROSS JOIN terms
"""


@query(
    "ad_two_sample_ab",
    _AD_ORACLE,
    "Anderson-Darling two-sample statistic between md5 A/B purchase "
    "arms on the cvm cents-grid device: tail-weighted EDF-gap terms "
    "(Mj*N - j*n)^2 div (j*(N-j)) at distinct-value right edges, "
    "per-term truncation (documented, mirrors exactly), div n*m — "
    "the tail-sensitive companion of cvm/ks",
    tags=("relational", "stats", "bench"),
)
def q_ad_two_sample_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import md5_bucket

    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.when(md5_bucket("user_id", 2) == 0, 1).otherwise(0).alias("is_a"),
    )
    hist = checkpoint(purch.groupBy("cents").agg(
        _dec(F.sum("is_a")).alias("ca"),
        _dec(F.sum(1 - F.col("is_a"))).alias("cb"),
    ))  # cum window + totals both read it
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "ca", "cb",
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum(F.col("ca") + F.col("cb")).over(w_cum).alias("cum_all"),
    )
    tot = hist.agg(
        F.sum("ca").alias("n"),
        F.sum("cb").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_all") < F.col("n") + F.col("m"))
        .agg(
            F.sum(
                F.expr(
                    "(ca + cb) * ((n + m) * cum_a - n * cum_all) "
                    "* ((n + m) * cum_a - n * cum_all) * 1000000 "
                    "div (cum_all * (n + m - cum_all))"
                )
            ).alias("s")
        )
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        "n_cells",
        F.expr(
            "CASE WHEN COALESCE(n, 0) = 0 OR COALESCE(m, 0) = 0 THEN 0 "
            "ELSE CAST(s div (n * m) AS BIGINT) END"
        ).alias("ad2_e6"),
    )


# --------------------------------------------------------------------------
# Differential-privacy sensitivity pre-audit: before releasing
# per-type counts and revenue sums with DP noise, the noise scale
# needs the USER-LEVEL sensitivity of each cell — the max any single
# user contributes. One (type, user) rollup then one per-type
# rollup: max rows per user (count-release L-inf), max |cents| per
# user (sum-release sensitivity, i.e. the clipping bound a DP-SQL
# engine would enforce), and the mean contribution for context. The
# k_anonymity/l_diversity/t_closeness ladder audits the RELEASED
# table; this audits the QUERY, completing the privacy-governance
# family.
# --------------------------------------------------------------------------

_DP_ORACLE = """
WITH cells AS (
  SELECT event_type, user_id,
         CAST(COUNT(*) AS BIGINT) AS rows_c,
         CAST(SUM(CASE WHEN value IS NULL THEN 0
                       ELSE CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT)
                  END) AS BIGINT) AS cents_c
  FROM events GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(SUM(rows_c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MAX(rows_c) AS BIGINT) AS max_user_rows,
       CAST(MAX(ABS(cents_c)) AS BIGINT) AS max_user_abs_cents,
       CAST(1000 * SUM(rows_c) // COUNT(*) AS BIGINT) AS avg_user_rows_e3
FROM cells
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "dp_sensitivity_audit",
    _DP_ORACLE,
    "User-level sensitivity pre-audit for DP release of per-type "
    "count/sum aggregates: max rows and max |cents| any single user "
    "contributes per cell (the clipping bounds that size Laplace/"
    "Gaussian noise), via one (type, user) rollup + one per-type "
    "rollup — the query-side rung of the privacy-governance ladder",
    tags=("relational", "audit", "bench"),
)
def q_dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("rows_c"),
        F.sum(
            F.expr(
                "CASE WHEN value IS NULL THEN 0 "
                "ELSE CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) END"
            )
        ).cast("long").alias("cents_c"),
    )
    return (
        cells.groupBy("event_type")
        .agg(
            F.sum("rows_c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.max("rows_c").cast("long").alias("max_user_rows"),
            F.max(F.abs(F.col("cents_c"))).cast("long")
            .alias("max_user_abs_cents"),
            F.expr(
                "CAST(1000 * SUM(rows_c) div COUNT(*) AS BIGINT)"
            ).alias("avg_user_rows_e3"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Rank-based ROC AUC of the activity-count propensity score: does
# "how many NON-purchase events the user generates" rank HIGH-VALUE
# customers (total purchase spend >= $600, exact cents) above the
# rest? (Every synthetic user purchases at least once, so a
# has-purchase label would be degenerate; the $600 spend split is
# ~50/50 and correlated with activity — an informative target.)
# AUC = U / (n1*n0) via the Mann-Whitney rank-sum with midrank tie
# handling on the quantized score grid (activity counts — a bounded
# integer domain, so the cumulative window is the gini_split_stump
# waiver class). Integer 2x device: midrank2 = 2*below + w + 1,
# U2 = sum(n1_g * midrank2_g) - n1*(n1+1) = 2U, auc_e6 = U2*1e6 div
# (2*n1*n0). lift_by_score_band audits per-band lift and
# calibration_ece_temporal audits calibration; this is the global
# ranking-power number (Gini = 2*AUC - 1) of the same score.
# --------------------------------------------------------------------------

_AUC_ORACLE = """
WITH users AS (
  SELECT user_id,
         CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS score,
         CASE WHEN COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                          AND value IS NOT NULL
                    THEN CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT)
                    ELSE 0 END), 0) >= 60000 THEN 1 ELSE 0 END AS label
  FROM events GROUP BY user_id
), grid AS (
  SELECT score,
         CAST(SUM(label) AS HUGEINT) AS n1_g,
         CAST(SUM(1 - label) AS HUGEINT) AS n0_g
  FROM users GROUP BY score
), cum AS (
  SELECT score, n1_g, n0_g,
         SUM(n1_g + n0_g) OVER (ORDER BY score) AS cum_all
  FROM grid
), tot AS (
  SELECT CAST(SUM(n1_g) AS HUGEINT) AS n1,
         CAST(SUM(n0_g) AS HUGEINT) AS n0,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM grid
), r AS (
  SELECT SUM(n1_g * (2 * (cum_all - n1_g - n0_g) + (n1_g + n0_g) + 1))
           AS r2_pos
  FROM cum
)
SELECT CAST(n1 + n0 AS BIGINT) AS n_users,
       CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       n_cells,
       CAST(r2_pos - n1 * (n1 + 1) AS BIGINT) AS u2,
       CASE WHEN n1 = 0 OR n0 = 0 THEN 0
            ELSE CAST((r2_pos - n1 * (n1 + 1)) * 1000000
                      // (2 * n1 * n0) AS BIGINT)
       END AS auc_e6
FROM tot CROSS JOIN r
"""


@query(
    "roc_auc_propensity",
    _AUC_ORACLE,
    "Rank-based ROC AUC (Mann-Whitney U, midrank ties via the integer "
    "2x device) of the non-purchase activity count predicting the "
    "high-value label (purchase spend >= $600 exact cents): one "
    "per-user rollup, one bounded score-grid histogram + quantized-"
    "domain cumulative window, auc_e6 = U2*1e6 div (2*n1*n0) — the "
    "global ranking-power companion of lift/ECE",
    tags=("relational", "stats", "bench"),
)
def q_roc_auc_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") != "purchase", 1).otherwise(0)
        ).cast("long").alias("score"),
        F.expr(
            "CASE WHEN COALESCE(SUM(CASE WHEN event_type = 'purchase' "
            "AND value IS NOT NULL "
            "THEN CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) "
            "ELSE 0 END), 0) >= 60000 THEN 1 ELSE 0 END"
        ).alias("label"),
    )
    grid = checkpoint(users.groupBy("score").agg(
        _dec(F.sum("label")).alias("n1_g"),
        _dec(F.sum(1 - F.col("label"))).alias("n0_g"),
    ))  # cum window + totals both read it
    w_cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "n1_g", "n0_g",
        F.sum(F.col("n1_g") + F.col("n0_g")).over(w_cum).alias("cum_all"),
    )
    tot = grid.agg(
        F.sum("n1_g").alias("n1"),
        F.sum("n0_g").alias("n0"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    r = cum.agg(
        F.sum(
            F.col("n1_g")
            * (
                2 * (F.col("cum_all") - F.col("n1_g") - F.col("n0_g"))
                + (F.col("n1_g") + F.col("n0_g"))
                + 1
            )
        ).alias("r2_pos")
    )
    return tot.crossJoin(F.broadcast(r)).select(
        F.expr("CAST(n1 + n0 AS BIGINT)").alias("n_users"),
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        "n_cells",
        F.expr("CAST(r2_pos - n1 * (n1 + 1) AS BIGINT)").alias("u2"),
        F.expr(
            "CASE WHEN n1 = 0 OR n0 = 0 THEN 0 "
            "ELSE CAST((r2_pos - n1 * (n1 + 1)) * 1000000 "
            "div (2 * n1 * n0) AS BIGINT) END"
        ).alias("auc_e6"),
    )
