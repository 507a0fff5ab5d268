"""Classical-inference statistics, wave 2 (r08): one-way ANOVA,
Welch's t + Cohen's d, Cramér's V association, and graph degree
assortativity.

These fill the parametric side of the test kit next to the existing
rank tests (Mann-Whitney, Kruskal-Wallis) and proportion tests
(two-proportion z, Wilson CI): ANOVA answers "do the k group means
differ", Welch answers it for two groups without the equal-variance
assumption, Cohen's d sizes the difference, Cramér's V measures
association strength between two categoricals, and assortativity is
the graph-science "do high-degree nodes attach to high-degree nodes"
coefficient.

House rules (module docstring of plans/queries.py): every SUM is an
exact integer (DECIMAL(38,0) over quantized inputs), so partial
aggregation is order-independent and the DuckDB oracle replays the
same sums bit-for-bit; floats appear only in the FINAL statistic,
computed from the exact integers through a mirrored expression tree
(+ - * / sqrt are IEEE-deterministic; no ln/exp anywhere). Integer
`div` results are kept inside int64 — Spark's decimal `div` returns
LONG and silently wraps past 2^63 (verified empirically this round) —
with per-query magnitude ceilings documented inline.

No reference counterpart (the reference's only analytics is a Glue
projection kernel, `glue_jobs/process_openaq_raw.py`); these extend
the engine's training-data / experimentation audit surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.functions import text as tx
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, _dec, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

__all__ = ["REGISTRY"]

# DuckDB mirror of functions/text.tokens (same literal as queries_llm._TOKS).
_TOKS2 = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"


# --------------------------------------------------------------------------
# Shared constructions (review r08: degree_assortativity and
# rich_club_coefficient build the SAME degree-joined edge relation, and
# mantel_haenszel_uplift / permutation_test_ab share the z-test's
# high-value conversion flag — one definition each, so the statistics
# can never silently desynchronize).
# --------------------------------------------------------------------------

#: oracle CTE prefix: symmetrized customer-supplier graph (tag-bit node
#: ids as in pagerank_topk) + degree dim + the degree-joined edge
#: relation ed(x, y).
_CS_GRAPH_CTES = """pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
), deg AS MATERIALIZED (
  SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS d FROM edges GROUP BY 1
), ed AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
)"""


def _cs_graph(spark: SparkSession, sf_dir: str):
    """(edges, deg, ed): the symmetrized customer-supplier graph, its
    degree dimension (decimal(38,0) counts), and the degree-joined
    edge relation with columns (x, y) = (deg(src), deg(dst))."""
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

    # One-pass symmetrize: union(up, down) would evaluate the
    # orders ⋈ lineitem pair join once per branch at materialization.
    edges = checkpoint(_sym_bipartite(pairs))
    deg = checkpoint(
        edges.groupBy("src")
        .agg(_dec(F.count(F.lit(1))).alias("d"))
        .withColumnRenamed("src", "node")
    )
    ed = (
        edges.join(
            deg.select(F.col("node").alias("ns"), F.col("d").alias("x")),
            F.col("src") == F.col("ns"),
        )
        .join(
            deg.select(F.col("node").alias("nd"), F.col("d").alias("y")),
            F.col("dst") == F.col("nd"),
        )
        .select("x", "y")
    )
    return edges, deg, ed


#: the z-test family's conversion metric, one SQL definition.
_HV_CONV_SQL = (
    "MAX(CASE WHEN event_type = 'purchase' AND value > 150"
    " THEN 1 ELSE 0 END)"
)


def _hv_conv_per_user(ev: DataFrame) -> DataFrame:
    """Per-user high-value conversion flag (the ab_conversion_ztest /
    wilson_conversion_ci metric): any purchase event with value > 150."""
    return ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("conv")
    )


# --------------------------------------------------------------------------
# One-way ANOVA F across document sources (token-length response).
#
# With per-group exact integers (n_g, S_g = Sum x, and global Q = Sum x^2):
#
#   SSB = Sum_g S_g^2/n_g - S^2/N      SSW = Q - Sum_g S_g^2/n_g
#   F   = (SSB/(k-1)) / (SSW/(N-k))    eta^2 = SSB / (SSB+SSW)
#
# The rational terms S_g^2/n_g are made order-independent by truncating
# EACH to an integer at 1e6 scale — t_g = (S_g^2 * 1e6) div n_g — so the
# cross-group sum is a sum of integers, identical in any order on both
# engines (a float sum over groups would be summation-order-dependent).
# Truncation error: < 1e-6 per group on SSB/SSW, invisible at ROUND(F, 6)
# for any non-degenerate split; the degenerate all-equal-means case can
# land ssb a few 1e-6 units NEGATIVE (k truncations down vs one), so both
# legs clamp with GREATEST(.., 0).
#
# Magnitudes (int64 div-result ceiling — Spark's decimal `div` returns
# LONG and silently wraps): the BINDING term is the global one,
# (S^2 * 1e6) div N ~ N * mean^2 * 1e6, so at mean ~ 100 tokens the
# ceiling is N ~ 9e8 docs TOTAL (per-group terms bind later); beyond,
# drop the 1e6 scale or pre-scale x — the F statistic is scale-
# invariant. The decimal(38,0) intermediates (S^2 * 1e6) hold to
# N ~ 1e13. One token-count scan + one 20-row rollup; no joins.
# --------------------------------------------------------------------------

_ANOVA_ORACLE = f"""
WITH lens AS (
  SELECT source, CAST(len({_TOKS2}) AS BIGINT) AS x FROM documents
), g AS (
  SELECT source,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s,
         CAST(SUM(x * x) AS HUGEINT) AS q
  FROM lens GROUP BY source
), t AS (
  SELECT n, s, q, (s * s * 1000000) // n AS tg FROM g
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq, SUM(tg) AS tt
  FROM t
), parts AS (
  SELECT k, nn,
         GREATEST(tt - (ss * ss * 1000000) // nn, 0) AS ssb,
         GREATEST(qq * 1000000 - tt, 0) AS ssw
  FROM agg
)
SELECT k AS k_groups,
       CAST(nn AS BIGINT) AS n_docs,
       ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             / (CAST(ssw AS DOUBLE) / CAST(CAST(nn AS BIGINT) - k AS DOUBLE)),
             6) AS f_stat,
       CAST((ssb * 1000000) // (ssb + ssw) AS BIGINT) AS eta2_ppm
FROM parts
"""


@query(
    "anova_f_sources",
    _ANOVA_ORACLE,
    "One-way ANOVA F of document token length across the 20 sources "
    "(parametric companion to kruskal_wallis_lengths): exact integer "
    "group moments, per-group rational terms truncated to 1e6-scaled "
    "integers so the cross-group sum is order-independent, F and "
    "eta^2 from the exact sums (one scan + one k-row rollup)",
    tags=("relational", "stats", "bench"),
)
def q_anova_f_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    lens = docs.select(
        "source", F.size(tx.tokens("text")).cast("long").alias("x")
    )
    g = lens.groupBy("source").agg(
        _dec(F.count(F.lit(1))).alias("n"),
        F.sum(_dec(F.col("x"))).alias("s"),
        F.sum(_dec(F.col("x")) * F.col("x")).alias("q"),
    )
    t = g.select("n", "s", "q", F.expr("(s * s * 1000000) div n").alias("tg"))
    agg = t.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum(_dec(F.col("tg"))).alias("tt"),
    )
    # ssb and ssw both stay DECIMAL internally (symmetric with the
    # oracle's HUGEINT; an int64 cast here would overflow k-times
    # earlier than the documented div ceiling).
    parts = agg.select(
        "k",
        "nn",
        F.expr(
            "greatest(cast(tt - (ss * ss * 1000000) div nn"
            " as decimal(38,0)), cast(0 as decimal(38,0)))"
        ).alias("ssb"),
        F.expr(
            "greatest(cast(qq * 1000000 - tt as decimal(38,0)),"
            " cast(0 as decimal(38,0)))"
        ).alias("ssw"),
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        F.col("nn").cast("long").alias("n_docs"),
        F.round(
            (F.col("ssb").cast("double") / (F.col("k") - 1).cast("double"))
            / (
                F.col("ssw").cast("double")
                / (F.col("nn").cast("long") - F.col("k")).cast("double")
            ),
            6,
        ).alias("f_stat"),
        F.expr(
            "cast((ssb * 1000000) div (ssb + ssw) as long)"
        ).alias("eta2_ppm"),
    )


# --------------------------------------------------------------------------
# Welch's t + Cohen's d between purchase and view event values.
#
# From the six exact integers (n_i, S_i, Q_i per arm, values quantized to
# e4 via the standing DECIMAL(14,4) device):
#
#   m_i = S_i/n_i           v_i = (n_i*Q_i - S_i^2) / (n_i*(n_i-1))
#   t   = (m1-m2) / sqrt(v1/n1 + v2/n2)
#   df  = (v1/n1+v2/n2)^2 / ((v1/n1)^2/(n1-1) + (v2/n2)^2/(n2-1))
#   d   = (m1-m2) / sqrt(((n1-1)v1 + (n2-1)v2) / (n1+n2-2))
#
# t, df, d are scale-invariant so the e4 quantization cancels; the means
# are reported divided back by 1e4. All ratios are computed in DOUBLE
# from the exact integers through the same expression tree on both legs
# (+ - * / sqrt only). Magnitudes: n*Q ~ n^2 * (value*1e4)^2 holds in
# decimal(38,0) to ~1e7 rows per arm at value~1e6 (the dq range cap), or
# ~1e12 rows at value~100; the double casts of the variance numerators
# stay exact below 2^53 and are deterministic-rounded above it (both
# engines round-to-nearest; ceiling documented, pre-scale past it).
# ONE conditional-aggregate pass over the scan; no joins, no shuffle
# beyond the single-row rollup.
# --------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH q AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS HUGEINT) AS x
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
), arms AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
    SUM(CASE WHEN event_type = 'purchase' THEN x ELSE 0 END) AS s1,
    SUM(CASE WHEN event_type = 'purchase' THEN x * x ELSE 0 END) AS q1,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
    SUM(CASE WHEN event_type = 'view' THEN x ELSE 0 END) AS s2,
    SUM(CASE WHEN event_type = 'view' THEN x * x ELSE 0 END) AS q2
  FROM q
), d AS (
  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         CAST(n1 * q1 - s1 * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1,
         CAST(n2 * q2 - s2 * s2 AS DOUBLE)
           / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS v2
  FROM arms
)
SELECT 'purchase_vs_view' AS contrast, n1, n2,
       ROUND(m1 / 10000.0, 6) AS mean_purchase,
       ROUND(m2 / 10000.0, 6) AS mean_view,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS welch_t,
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS welch_df,
       ROUND((m1 - m2)
             / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)),
             6) AS cohens_d
FROM d
"""


@query(
    "welch_cohen_effect",
    _WELCH_ORACLE,
    "Welch's unequal-variance t statistic + Welch-Satterthwaite df + "
    "Cohen's d effect size between purchase and view event values: one "
    "conditional-aggregate pass builds six exact e4-quantized integer "
    "moments; t/df/d are scale-invariant doubles from the mirrored "
    "expression tree (no pooled-variance assumption, no second scan)",
    tags=("relational", "stats", "bench"),
)
def q_welch_cohen_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    x = (F.col("value").cast("decimal(14,4)") * 10000).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "view"
    arms = ev.select(x.alias("x"), is1.alias("is1"), is2.alias("is2")).agg(
        F.sum(F.when(F.col("is1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("is1"), F.col("x")).otherwise(zero)).alias("s1"),
        F.sum(
            F.when(F.col("is1"), F.col("x") * F.col("x")).otherwise(zero)
        ).alias("q1"),
        F.sum(F.when(F.col("is2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("is2"), F.col("x")).otherwise(zero)).alias("s2"),
        F.sum(
            F.when(F.col("is2"), F.col("x") * F.col("x")).otherwise(zero)
        ).alias("q2"),
    )
    d = arms.select(
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1").cast("double")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2").cast("double")).alias("m2"),
        (
            F.expr("cast(n1 * q1 - s1 * s1 as double)")
            / (F.col("n1").cast("double") * (F.col("n1") - 1).cast("double"))
        ).alias("v1"),
        (
            F.expr("cast(n2 * q2 - s2 * s2 as double)")
            / (F.col("n2").cast("double") * (F.col("n2") - 1).cast("double"))
        ).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return d.select(
        F.lit("purchase_vs_view").alias("contrast"),
        "n1",
        "n2",
        F.round(F.col("m1") / 10000.0, 6).alias("mean_purchase"),
        F.round(F.col("m2") / 10000.0, 6).alias("mean_view"),
        F.round(
            (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2), 6
        ).alias("welch_t"),
        F.round(
            (se1 + se2)
            * (se1 + se2)
            / (
                se1 * se1 / (F.col("n1") - 1)
                + se2 * se2 / (F.col("n2") - 1)
            ),
            4,
        ).alias("welch_df"),
        F.round(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(
                (
                    (F.col("n1") - 1) * F.col("v1")
                    + (F.col("n2") - 1) * F.col("v2")
                )
                / (F.col("n1") + F.col("n2") - 2)
            ),
            6,
        ).alias("cohens_d"),
    )


# --------------------------------------------------------------------------
# Cramér's V association between documents.lang and documents.source.
#
#   chi2 = Sum_cells (O*N - R*C)^2 / (R*C*N)       over the FULL r x c grid
#   V    = sqrt(chi2 / (N * (min(r,c) - 1)))
#
# The grid includes absent (lang, source) pairs (O = 0 contributes
# R*C/N), built as a bounded cross join of the two distinct-value dims.
# Per-cell rational terms are truncated to 1e6-scaled integers — same
# order-independence device as the ANOVA — so chi2_e6 is an exact BIGINT
# on both legs. Terms are non-negative and R*C*N > 0 for every grid cell
# (marginals of observed values), so trunc/floor agree. Magnitudes:
# each term <= chi2 * 1e6 <= N*min(r,c)*1e6 (int64 to N ~ 1.8e12 docs);
# the decimal(38,0) intermediate (O*N - R*C)^2 * 1e6 <= N^4 * 1e6 caps N
# at ~1e8 — past that drop the scale to 1e2 (term magnitudes shrink by
# 1e4, ceiling rises 100x). One cells rollup (r*c rows) + broadcast
# marginals; no data-sized join anywhere.
# --------------------------------------------------------------------------

_CRAMER_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS o
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
), rowm AS (
  SELECT lang, SUM(o) AS r FROM cells GROUP BY 1
), colm AS (
  SELECT source, SUM(o) AS c FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(o) AS n,
         (SELECT COUNT(*) FROM rowm) AS nr,
         (SELECT COUNT(*) FROM colm) AS nc
  FROM cells
), grid AS (
  SELECT rowm.lang, colm.source, rowm.r, colm.c,
         COALESCE(cells.o, 0) AS o
  FROM rowm CROSS JOIN colm
  LEFT JOIN cells ON cells.lang = rowm.lang AND cells.source = colm.source
), terms AS (
  SELECT ((o * n - r * c) * (o * n - r * c) * 1000000) // (r * c * n) AS t
  FROM grid CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(nr AS BIGINT) AS n_langs,
       CAST(nc AS BIGINT) AS n_sources,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       CAST((SELECT SUM(t) FROM terms) AS BIGINT) AS chi2_e6,
       ROUND(SQRT(CAST((SELECT SUM(t) FROM terms) AS DOUBLE)
                  / (1000000.0 * CAST(n AS DOUBLE)
                     * CAST(LEAST(nr, nc) - 1 AS DOUBLE))), 6) AS cramers_v
FROM tot
"""


@query(
    "cramers_v_association",
    _CRAMER_ORACLE,
    "Cramér's V association strength between document language and "
    "source over the full r x c contingency grid (absent pairs "
    "included): per-cell chi-square terms truncated to 1e6-scaled "
    "integers for an order-independent exact chi2_e6, V as a mirrored "
    "double; one cells rollup + broadcast marginals",
    tags=("relational", "stats", "bench"),
)
def q_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cells = docs.groupBy("lang", "source").agg(
        _dec(F.count(F.lit(1))).alias("o")
    )
    cells = checkpoint(cells)
    rowm = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    colm = cells.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").cast("long").alias("nr"),
        F.countDistinct("source").cast("long").alias("nc"),
    )
    grid = (
        F.broadcast(rowm)
        .crossJoin(F.broadcast(colm))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0).cast("decimal(38,0)")).alias("o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    terms = grid.select(
        F.expr(
            "((o * n - r * c) * (o * n - r * c) * 1000000)"
            " div (r * c * n)"
        ).alias("t"),
        "n",
        "nr",
        "nc",
    )
    return terms.groupBy("n", "nr", "nc").agg(
        F.sum(_dec(F.col("t"))).cast("long").alias("chi2_e6")
    ).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("nr").alias("n_langs"),
        F.col("nc").alias("n_sources"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        "chi2_e6",
        F.round(
            F.sqrt(
                F.col("chi2_e6").cast("double")
                / (
                    F.lit(1000000.0)
                    * F.col("n").cast("double")
                    * (F.least("nr", "nc") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Degree assortativity of the symmetrized customer-supplier graph.
#
# Newman's degree assortativity = Pearson r of (deg(src), deg(dst)) over
# the directed edge list (both directions present, so this is the
# undirected coefficient). Same node-id tag-bit construction as
# pagerank_topk (customer = 2k, supplier = 2k+1). Exact integer moments
# (E, Sx, Sy, Sxy, Sxx, Syy) in decimal(38,0); r is the product-moment
# ratio in DOUBLE from the exact integers (num can be negative — no
# integer division anywhere, so no trunc-vs-floor hazard). Magnitudes:
# num ~ E * Sxy <= E^2 * dmax^2 stays in decimal(38,0) to E ~ 1e13 at
# dmax ~ 1e6; the double casts are exact below 2^53 (documented ceiling;
# pre-scale degrees past it).
#
# Plan (r09 redesign, VERDICT r08 #8): the r08 form joined the degree
# dimension to the edge list TWICE and aggregated the edge-sized
# (x, y) relation — the sf10 probe showed ~2x AQE/spill variance on
# that movement. The moments decompose so only ONE edge-sized join
# remains:
#   n  = sum d              (each edge counted once at its src)
#   Sx = Sy  = sum d^2      (node n appears as src exactly d(n) times)
#   Sxx = Syy = sum d^3
#   Sxy = sum_n d(n) * t(n),  t(n) = sum of neighbour degrees
# — the first three come from the NODE-sized degree dim with no join
# at all; t(n) needs one edges-to-deg join + a src rollup, and the
# final d*t join is node-sized. Values are identical (the oracle is
# unchanged); the data movement drops from 2 edge-sized join legs to 1.
# --------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
WITH {_CS_GRAPH_CTES}, moms AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS assort_r
FROM moms
"""


@query(
    "degree_assortativity",
    _ASSORT_ORACLE,
    "Newman degree assortativity of the symmetrized customer-supplier "
    "graph (same tag-bit node ids as pagerank_topk): exact integer "
    "product moments over the edge list joined to its degree dimension "
    "twice, Pearson r as a mirrored double — negative r = high-degree "
    "hubs attach to low-degree leaves (expected for bipartite "
    "order graphs)",
    tags=("relational", "graph", "stats", "bench"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg, _ = _cs_graph(spark, sf_dir)
    # node-side moments — no edge join at all (see decomposition above)
    moms = deg.agg(
        F.sum("d").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("sx"),
        F.sum(F.col("d") * F.col("d")).alias("sy"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("sxx"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("syy"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    # t(n) = sum of neighbour degrees: the single remaining edge-sized
    # join, immediately rolled up to node grain
    t = (
        edges.join(
            deg.select(F.col("node").alias("nd"), F.col("d").alias("dd")),
            F.col("dst") == F.col("nd"),
        )
        .groupBy("src")
        .agg(F.sum("dd").alias("t"))
    )
    sxy = (
        t.join(deg, t["src"] == deg["node"])
        .agg(F.sum(F.col("d") * F.col("t")).alias("sxy"))
    )
    return moms.crossJoin(F.broadcast(sxy)).select(
        F.col("n").cast("long").alias("n_edges"),
        "n_nodes",
        F.round(
            F.expr("cast(n * sxy - sx * sy as double)")
            / F.sqrt(
                F.expr("cast(n * sxx - sx * sx as double)")
                * F.expr("cast(n * syy - sy * sy as double)")
            ),
            6,
        ).alias("assort_r"),
    )


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily event-count direction sequence.
#
# The classical randomness check for a time series: take the daily
# count series ordered by day, the SIGNS of day-over-day differences
# (zeros dropped), count runs R (maximal same-sign blocks), and
# compare against the run count a random shuffle of n1 pluses and n2
# minuses would give:
#
#   E[R]   = 2*n1*n2/(n1+n2) + 1
#   Var[R] = 2*n1*n2*(2*n1*n2 - n1 - n2) / ((n1+n2)^2 * (n1+n2 - 1))
#   z      = (R - E[R]) / sqrt(Var[R])
#
# R, n1, n2 are exact integers (one lag window over the
# calendar-bounded daily series — the acf_lag_profile family); z and
# E[R] are mirrored-tree doubles from those integers. A strongly
# negative z = fewer runs than chance = trending/persistent series.
# Magnitudes: everything is days-bounded (<= 366 here), trivially
# int64 at any corpus size — the series length is calendar-bounded,
# not row-bounded.
# --------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), diffs AS (
  SELECT day, x - lag(x) OVER (ORDER BY day) AS d
  FROM daily
), signs AS (
  SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE d IS NOT NULL AND d <> 0
), runs AS (
  SELECT s, CASE WHEN s = lag(s) OVER (ORDER BY day) THEN 0 ELSE 1 END
           AS new_run
  FROM signs
), agg AS (
  SELECT CAST(SUM(new_run) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM runs
)
SELECT r AS n_runs, n1 AS n_up, n2 AS n_down,
       ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
       ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
         AS runs_z
FROM agg
"""


@query(
    "runs_test_daily",
    _RUNS_ORACLE,
    "Wald-Wolfowitz runs test on the daily event-count direction "
    "sequence (randomness / persistence check): runs, ups and downs "
    "counted exactly over one lag window on the calendar-bounded daily "
    "series, z and expected runs as mirrored doubles — negative z = "
    "fewer runs than chance = persistent trend",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    diffs = daily.select(
        "day", (F.col("x") - F.lag("x").over(w)).alias("d")
    )
    signs = diffs.filter(
        F.col("d").isNotNull() & (F.col("d") != 0)
    ).select("day", F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"))
    runs = signs.select(
        "s",
        F.when(F.col("s") == F.lag("s").over(w), 0).otherwise(1).alias(
            "new_run"
        ),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    e_runs = F.lit(2.0) * n1d * n2d / (n1d + n2d) + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1d
        * n2d
        * (F.lit(2.0) * n1d * n2d - n1d - n2d)
        / ((n1d + n2d) * (n1d + n2d) * (n1d + n2d - F.lit(1.0)))
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_up"),
        F.col("n2").alias("n_down"),
        F.round(e_runs, 6).alias("expected_runs"),
        F.round(
            (F.col("r").cast("double") - e_runs) / F.sqrt(var), 6
        ).alias("runs_z"),
    )


# --------------------------------------------------------------------------
# Paired sign test: purchase vs view daily event counts.
#
# The assumption-free paired comparison: per calendar day, does the
# purchase count exceed the view count? k = #days purchase > view over
# the n non-tied days; under H0 (no difference) k ~ Binomial(n, 1/2),
# normal approximation z = (2k - n)/sqrt(n). One (day x 2-type)
# conditional aggregate + a days-bounded rollup; k, n, ties exact
# integers, z a mirrored double. Days-bounded like the runs test.
# --------------------------------------------------------------------------

_SIGN_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1
), agg AS (
  SELECT CAST(SUM(CASE WHEN p > v THEN 1 ELSE 0 END) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN p <> v THEN 1 ELSE 0 END) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN p = v THEN 1 ELSE 0 END) AS BIGINT) AS ties
  FROM daily
)
SELECT 'purchase_gt_view_daily' AS contrast, n AS n_days, k AS k_plus,
       ties,
       ROUND((2.0 * k - n) / SQRT(CAST(n AS DOUBLE)), 6) AS sign_z
FROM agg
"""


@query(
    "paired_sign_test",
    _SIGN_ORACLE,
    "Paired sign test of purchase vs view daily event counts "
    "(assumption-free paired comparison): k = days purchase>view over "
    "n non-tied days, z = (2k-n)/sqrt(n) as a mirrored double; one "
    "conditional day aggregate + a calendar-bounded rollup",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_paired_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("p"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("v"),
    )
    agg = daily.agg(
        F.sum(F.when(F.col("p") > F.col("v"), 1).otherwise(0))
        .cast("long")
        .alias("k"),
        F.sum(F.when(F.col("p") != F.col("v"), 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(F.col("p") == F.col("v"), 1).otherwise(0))
        .cast("long")
        .alias("ties"),
    )
    return agg.select(
        F.lit("purchase_gt_view_daily").alias("contrast"),
        F.col("n").alias("n_days"),
        F.col("k").alias("k_plus"),
        "ties",
        F.round(
            (F.lit(2.0) * F.col("k").cast("double") - F.col("n"))
            / F.sqrt(F.col("n").cast("double")),
            6,
        ).alias("sign_z"),
    )


# --------------------------------------------------------------------------
# Rich-club coefficient of the symmetrized customer-supplier graph.
#
# phi(k) = E_{>k} / (N_{>k} * (N_{>k} - 1) / 2): among nodes of degree
# > k, what fraction of possible edges exist (Colizza et al., Nature
# Phys. 2006) — the "do hubs form a club" companion to the
# assortativity coefficient. Exactly one pass over the degree-joined
# edge list (the SAME relation degree_assortativity builds) with FIVE
# conditional sums (k in 2,4,8,16,32) + one 5-row node rollup; using
# the DIRECTED edge count E_dir = 2*E, phi_bp = E_dir * 1e4 div
# (N_k * (N_k - 1)). All integers; div results <= 1e4. Bipartite
# structure note: an edge needs BOTH a customer and a supplier above
# k, so phi decays fast — the expected negative-assortativity shape.
# --------------------------------------------------------------------------

_RICH_KS = (2, 4, 8, 16, 32)


def _rich_oracle() -> str:
    edge_cols = ",\n".join(
        f"         SUM(CASE WHEN x > {k} AND y > {k} THEN 1 ELSE 0 END)"
        f" AS e{k}"
        for k in _RICH_KS
    )
    node_cols = ",\n".join(
        f"         SUM(CASE WHEN d > {k} THEN 1 ELSE 0 END) AS n{k}"
        for k in _RICH_KS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {k} AS k, CAST(n.n{k} AS BIGINT) AS n_nodes,"
        f" CAST(e.e{k} AS BIGINT) AS n_edges_dir,"
        f" CAST(CASE WHEN n.n{k} > 1 THEN e.e{k} * 10000"
        f" // (n.n{k} * (n.n{k} - 1)) ELSE NULL END AS BIGINT) AS phi_bp"
        f" FROM e CROSS JOIN n"
        for k in _RICH_KS
    )
    return f"""
WITH {_CS_GRAPH_CTES}, e AS (
  SELECT
{edge_cols}
  FROM ed
), n AS (
  SELECT
{node_cols}
  FROM deg
)
{rows}
ORDER BY k
"""


@query(
    "rich_club_coefficient",
    _rich_oracle(),
    "Rich-club coefficient phi(k) of the symmetrized customer-supplier "
    "graph at k in 2,4,8,16,32: among nodes of degree > k, the realized "
    "fraction of possible edges — ONE conditional-sum pass over the "
    "same degree-joined edge relation as degree_assortativity plus a "
    "node-dimension rollup, all integer-exact",
    tags=("relational", "graph", "stats", "bench"),
)
def q_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, deg, ed = _cs_graph(spark, sf_dir)
    e_row = ed.agg(
        *[
            F.sum(
                F.when((F.col("x") > k) & (F.col("y") > k), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"e{k}")
            for k in _RICH_KS
        ]
    )
    n_row = deg.agg(
        *[
            F.sum(F.when(F.col("d") > k, 1).otherwise(0))
            .cast("long")
            .alias(f"n{k}")
            for k in _RICH_KS
        ]
    )
    both = checkpoint(e_row.crossJoin(F.broadcast(n_row)))
    out = None
    for k in _RICH_KS:
        r = both.select(
            F.lit(k).cast("long").alias("k"),
            F.col(f"n{k}").alias("n_nodes"),
            F.col(f"e{k}").alias("n_edges_dir"),
            F.when(
                F.col(f"n{k}") > 1,
                F.expr(
                    f"cast(cast(e{k} as decimal(38,0)) * 10000"
                    f" div (cast(n{k} as decimal(38,0)) * (n{k} - 1))"
                    " as long)"
                ),
            ).alias("phi_bp"),
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("k")


# --------------------------------------------------------------------------
# Delete-one-group (block) jackknife standard error of the corpus mean
# token length — the resampling-free uncertainty estimate that works
# distributed: with g groups (sources), the leave-one-out means
# theta_i = (S - S_i) / (N - n_i) need only the per-group exact sums,
# no second pass and no RNG.
#
#   SE_jack = sqrt( (g-1)/g * Sum_i (theta_i - theta_bar)^2 )
#
# Each theta_i is truncated to a 1e6-scaled integer (same
# order-independence device as the ANOVA terms), so the moment sums
# over groups are exact; SE comes from the exact (g, Sum t, Sum t^2)
# via sqrt((g-1) * (g*St2 - St^2)) / g / 1e6 — one mirrored double.
# Block jackknife over shards is how a 1000-executor job attaches an
# honest error bar to any pipeline mean without a shuffle beyond the
# group rollup. Magnitudes: theta_e6 ~ mean * 1e6 <= ~1e8; g*St2 ~
# g^2 * 1e16 — int64-safe to g ~ 3e5 groups (decimal past that).
# --------------------------------------------------------------------------

_JACK_ORACLE = f"""
WITH lens AS (
  SELECT source, CAST(len({_TOKS2}) AS BIGINT) AS x FROM documents
), g AS (
  SELECT source, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
  FROM lens GROUP BY source
), tot AS (
  SELECT SUM(n) AS nn, SUM(s) AS ss, CAST(COUNT(*) AS HUGEINT) AS k FROM g
), thetas AS (
  SELECT ((t.ss - g.s) * 1000000) // (t.nn - g.n) AS th
  FROM g CROSS JOIN tot t
), moms AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(th) AS st,
         SUM(th * th) AS st2
  FROM thetas
)
SELECT CAST(m.k AS BIGINT) AS g_groups,
       CAST(t.nn AS BIGINT) AS n_docs,
       ROUND(CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE), 6) AS mean_len,
       ROUND(SQRT(CAST((m.k - 1) * (m.k * m.st2 - m.st * m.st) AS DOUBLE))
             / CAST(m.k AS DOUBLE) / 1000000.0, 6) AS jackknife_se
FROM moms m CROSS JOIN tot t
"""


@query(
    "jackknife_se_mean",
    _JACK_ORACLE,
    "Delete-one-source block jackknife standard error of the corpus "
    "mean token length: leave-one-out means from per-group exact sums "
    "only (no second pass, no RNG), each truncated to a 1e6-scaled "
    "integer so the cross-group moments are order-independent; SE as "
    "one mirrored double — the distributed error bar for any pipeline "
    "mean",
    tags=("relational", "stats", "bench"),
)
def q_jackknife_se_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    lens = docs.select(
        "source", F.size(tx.tokens("text")).cast("long").alias("x")
    )
    g = lens.groupBy("source").agg(
        _dec(F.count(F.lit(1))).alias("n"),
        F.sum(_dec(F.col("x"))).alias("s"),
    )
    g = checkpoint(g)
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        _dec(F.count(F.lit(1))).alias("k"),
    )
    thetas = g.crossJoin(F.broadcast(tot)).select(
        F.expr("((ss - s) * 1000000) div (nn - n)").alias("th"),
        "nn",
        "ss",
    )
    moms = thetas.groupBy("nn", "ss").agg(
        _dec(F.count(F.lit(1))).alias("k"),
        F.sum(_dec(F.col("th"))).alias("st"),
        F.sum(_dec(F.col("th")) * F.col("th")).alias("st2"),
    )
    return moms.select(
        F.col("k").cast("long").alias("g_groups"),
        F.col("nn").cast("long").alias("n_docs"),
        F.round(
            F.col("ss").cast("double") / F.col("nn").cast("double"), 6
        ).alias("mean_len"),
        F.round(
            F.sqrt(
                F.expr(
                    "cast((k - 1) * (k * st2 - st * st) as double)"
                )
            )
            / F.col("k").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("jackknife_se"),
    )


# --------------------------------------------------------------------------
# Mantel-Haenszel stratified uplift (r08) — the confounder-adjusted
# companion to ab_conversion_ztest: the crude A/B conversion difference
# can be driven by stratum imbalance (Simpson's paradox); the MH
# pooled risk difference weights each stratum's difference by
# n1_i*n2_i/N_i:
#
#   RD_MH = Sum_i (a_i*n2_i - b_i*n1_i)/N_i  /  Sum_i n1_i*n2_i/N_i
#
# (a/b = conversions in arm A/B, n1/n2 = arm sizes, N = n1+n2, strata =
# customer nations via the user->customer linkage). Each stratum's
# rational numerator/denominator terms are truncated to 1e6-scaled
# integers (the ANOVA device) so the cross-stratum sums are
# order-independent; RD and the crude difference emit as mirrored
# doubles, and rows per stratum carry the exact integer counts. The
# conversion metric is the z-test's high-value purchase flag. One
# user-keyed aggregate + one broadcast dimension join + a
# nation-bounded rollup.
# --------------------------------------------------------------------------

_MH_ORACLE = f"""
WITH per_user AS (
  SELECT e.user_id,
         CASE WHEN ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 0 THEN 0 ELSE 1 END AS arm,
         {_HV_CONV_SQL} AS conv
  FROM events e GROUP BY 1
), strat AS (
  SELECT c.c_nationkey AS nat, u.arm, u.conv
  FROM per_user u JOIN customer c ON c.c_custkey = u.user_id
), cells AS (
  SELECT nat,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS HUGEINT) AS a,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS HUGEINT) AS b
  FROM strat GROUP BY nat
), kept AS (
  SELECT * FROM cells WHERE n1 > 0 AND n2 > 0
), terms AS (
  SELECT nat, n1, n2, a, b,
         CASE WHEN a * n2 - b * n1 >= 0 THEN 1 ELSE -1 END
           * ((ABS(a * n2 - b * n1) * 1000000) // (n1 + n2)) AS num_e6,
         (n1 * n2 * 1000000) // (n1 + n2) AS den_e6
  FROM kept
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(n1) AS BIGINT) AS n1, CAST(SUM(n2) AS BIGINT) AS n2,
         CAST(SUM(a) AS BIGINT) AS conv1, CAST(SUM(b) AS BIGINT) AS conv2,
         CAST(SUM(num_e6) AS BIGINT) AS num_e6,
         CAST(SUM(den_e6) AS BIGINT) AS den_e6
  FROM terms
)
SELECT n_strata, n1, n2, conv1, conv2,
       ROUND(CAST(conv1 AS DOUBLE) / n1 - CAST(conv2 AS DOUBLE) / n2, 6)
         AS crude_rd,
       ROUND(CAST(num_e6 AS DOUBLE) / CAST(den_e6 AS DOUBLE), 6) AS mh_rd
FROM agg
"""


@query(
    "mantel_haenszel_uplift",
    _MH_ORACLE,
    "Mantel-Haenszel nation-stratified A/B risk difference (the "
    "Simpson's-paradox-safe uplift next to the crude z-test): per "
    "stratum, exact 2x2 integer cells from one user-keyed aggregate + "
    "broadcast customer dim; rational MH terms truncated to 1e6-scaled "
    "integers for order-independent pooling, crude vs adjusted RD as "
    "mirrored doubles",
    tags=("relational", "stats", "bench"),
)
def q_mantel_haenszel_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    per_user = _hv_conv_per_user(ev).withColumn(
        "arm", md5_bucket("user_id", 2)
    )
    strat = per_user.join(
        F.broadcast(cust.select("c_custkey", "c_nationkey")),
        per_user["user_id"] == F.col("c_custkey"),
    ).select(F.col("c_nationkey").alias("nat"), "arm", "conv")
    cells = strat.groupBy("nat").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n2"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
    )
    kept = cells.filter((F.col("n1") > 0) & (F.col("n2") > 0))
    terms = kept.select(
        "n1",
        "n2",
        "a",
        "b",
        F.expr(
            "(case when a * n2 - b * n1 >= 0 then 1 else -1 end)"
            " * ((abs(a * n2 - b * n1) * 1000000) div (n1 + n2))"
        ).alias("num_e6"),
        F.expr("(n1 * n2 * 1000000) div (n1 + n2)").alias("den_e6"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n1").cast("long").alias("n1"),
        F.sum("n2").cast("long").alias("n2"),
        F.sum("a").cast("long").alias("conv1"),
        F.sum("b").cast("long").alias("conv2"),
        F.sum(_dec(F.col("num_e6"))).cast("long").alias("num_e6"),
        F.sum(_dec(F.col("den_e6"))).cast("long").alias("den_e6"),
    )
    return agg.select(
        "n_strata",
        "n1",
        "n2",
        "conv1",
        "conv2",
        F.round(
            F.col("conv1").cast("double") / F.col("n1")
            - F.col("conv2").cast("double") / F.col("n2"),
            6,
        ).alias("crude_rd"),
        F.round(
            F.col("num_e6").cast("double") / F.col("den_e6").cast("double"),
            6,
        ).alias("mh_rd"),
    )


# --------------------------------------------------------------------------
# Multivariate OLS by exact integer normal equations (r08):
# price ~ quantity + discount over lineitem, solved in closed form via
# Cramer's rule on the 3x3 moment matrix — the "ML primitive" shape of
# the PCA split: ONE moment pass builds the nine exact integer sums
# (inputs quantized: price cents e2, quantity integer, discount e4),
# the solve is three integer determinants (decimal(38,0)), and the
# coefficients/R^2 emit as mirrored doubles of det ratios.
#
#   A = [[n, Sx1, Sx2], [Sx1, S11, S12], [Sx2, S12, S22]]
#   beta_i = det(A_i) / det(A)   (A_i = A with column i replaced by
#                                 [Sy, S1y, S2y])
#   R^2 = 1 - SSE/SST, SSE = Syy - b0*Sy - b1*S1y - b2*S2y
#
# Magnitudes: det terms ~ n^3 * 2.5e9 hold in decimal(38,0) to n ~ 2e9
# lineitems; the double casts of determinants are exact below 2^53 at
# bench scale (pre-scale the quantized grids past either ceiling). The
# discount coefficient recovers the engineered price ~ -discount
# relationship; no iterative fitting anywhere.
# --------------------------------------------------------------------------

_OLS_ORACLE = """
WITH q AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS y,
         CAST(l_quantity AS HUGEINT) AS x1,
         CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS HUGEINT) AS x2
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
         SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y, SUM(y * y) AS syy
  FROM q
), dets AS (
  SELECT *,
    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s12 - s11 * s2) AS det,
    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      + s2 * (s1y * s12 - s11 * s2y) AS det0,
    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
      + s2 * (s1 * s2y - s1y * s2) AS det1,
    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      + sy * (s1 * s12 - s11 * s2) AS det2
  FROM m
), beta AS (
  SELECT *,
         CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
         CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
         CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2
  FROM dets
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND(b0 / 100.0, 6) AS intercept,
       ROUND(b1 / 100.0, 6) AS beta_quantity,
       ROUND(b2 * 100.0, 6) AS beta_discount_pct,
       ROUND(1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
                    - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE))
                   / (CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                        / CAST(n AS DOUBLE)), 6) AS r2
FROM beta
"""


@query(
    "ols_price_model",
    _OLS_ORACLE,
    "Multivariate OLS (price ~ quantity + discount) by exact integer "
    "normal equations: ONE moment pass builds nine quantized integer "
    "sums, Cramer's rule solves the 3x3 system as decimal(38,0) "
    "determinants, coefficients and R^2 emit as mirrored det-ratio "
    "doubles — closed-form regression with no iterative fit",
    tags=("relational", "stats", "bench"),
)
def q_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("decimal(38,0)")
        .alias("y"),
        F.col("l_quantity").cast("decimal(38,0)").alias("x1"),
        (F.col("l_discount").cast("decimal(6,4)") * 10000)
        .cast("decimal(38,0)")
        .alias("x2"),
    )
    m = q.agg(
        _dec(F.count(F.lit(1))).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dets = m.select(
        "*",
        F.expr(
            "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s12 - s11 * s2)"
        ).alias("det"),
        F.expr(
            "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)"
            " + s2 * (s1y * s12 - s11 * s2y)"
        ).alias("det0"),
        F.expr(
            "n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)"
            " + s2 * (s1 * s2y - s1y * s2)"
        ).alias("det1"),
        F.expr(
            "n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)"
            " + sy * (s1 * s12 - s11 * s2)"
        ).alias("det2"),
    )
    beta = dets.select(
        "*",
        (F.col("det0").cast("double") / F.col("det").cast("double")).alias(
            "b0"
        ),
        (F.col("det1").cast("double") / F.col("det").cast("double")).alias(
            "b1"
        ),
        (F.col("det2").cast("double") / F.col("det").cast("double")).alias(
            "b2"
        ),
    )
    sst = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double")
        * F.col("sy").cast("double")
        / F.col("n").cast("double")
    )
    sse = (
        F.col("syy").cast("double")
        - F.col("b0") * F.col("sy").cast("double")
        - F.col("b1") * F.col("s1y").cast("double")
        - F.col("b2") * F.col("s2y").cast("double")
    )
    return beta.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("b0") / 100.0, 6).alias("intercept"),
        F.round(F.col("b1") / 100.0, 6).alias("beta_quantity"),
        F.round(F.col("b2") * 100.0, 6).alias("beta_discount_pct"),
        F.round(F.lit(1.0) - sse / sst, 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Exact permutation test (r08) — the assumption-free significance test
# for the A/B conversion difference, fully deterministic: instead of
# RNG shuffles, each of the B = 64 permutations relabels users by an
# md5-SALTED split (arm_i(u) = md5(u || '#p<i>') % 2 — independent
# uniform relabelings, reproducible on any engine/cluster/rerun).
#
#   d_i = rate_A(i) - rate_B(i) as an exact scaled integer:
#         d_e6 = sign * (|a*n2 - b*n1| * 1e6 div (n1*n2))
#   p    = (1 + #{i : |d_i| >= |d_obs|}) / (B + 1)      (exact, in ppm)
#
# ONE user-keyed aggregate builds the conversion flags; the user
# dimension cross-joins a broadcast 65-row salt dim (observed split =
# salt 0, the z-test's md5(u) % 2), so the work is users x 65 — linear
# with a fixed constant, map-side-combined into 65 rows. The exact
# (B+1)-denominator estimator is the standard finite-permutation
# p-value; all comparisons are integer.
# --------------------------------------------------------------------------

_PERM_B = 64

_PERM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, {_HV_CONV_SQL} AS conv
  FROM events GROUP BY 1
), salts AS (
  SELECT unnest(generate_series(0, {_PERM_B})) AS sid
), armed AS (
  SELECT s.sid, u.conv,
         CASE WHEN s.sid = 0 THEN
           ('0x' || substr(md5(CAST(u.user_id AS VARCHAR)), 1, 8))
             ::BIGINT % 2
         ELSE
           ('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                                || '#p' || CAST(s.sid AS VARCHAR)), 1, 8))
             ::BIGINT % 2
         END AS arm
  FROM per_user u CROSS JOIN salts s
), cells AS (
  SELECT sid,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS HUGEINT) AS a,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS HUGEINT) AS b
  FROM armed GROUP BY sid
), diffs AS (
  SELECT sid,
         CASE WHEN a * n2 - b * n1 >= 0 THEN 1 ELSE -1 END
           * ((ABS(a * n2 - b * n1) * 1000000) // (n1 * n2)) AS d_e6,
         n1, n2
  FROM cells WHERE n1 > 0 AND n2 > 0
), obs AS (
  SELECT d_e6, n1, n2 FROM diffs WHERE sid = 0
)
SELECT CAST(o.n1 AS BIGINT) AS n1, CAST(o.n2 AS BIGINT) AS n2,
       CAST(o.d_e6 AS BIGINT) AS obs_diff_e6,
       CAST({_PERM_B} AS BIGINT) AS b_perms,
       CAST(SUM(CASE WHEN d.sid > 0 AND ABS(d.d_e6) >= ABS(o.d_e6)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST((1 + SUM(CASE WHEN d.sid > 0 AND ABS(d.d_e6) >= ABS(o.d_e6)
                     THEN 1 ELSE 0 END)) * CAST(1000000 AS HUGEINT)
            // ({_PERM_B} + 1) AS BIGINT) AS p_ppm
FROM diffs d CROSS JOIN obs o
GROUP BY o.n1, o.n2, o.d_e6
"""


@query(
    "permutation_test_ab",
    _PERM_ORACLE,
    "Exact permutation test of the A/B conversion difference with 64 "
    "deterministic md5-salted relabelings (no RNG, reproducible on any "
    "engine): one user-keyed aggregate x broadcast 65-row salt dim, "
    "per-permutation rate differences as exact scaled integers, exact "
    "(B+1)-denominator p-value in ppm",
    tags=("relational", "stats", "bench"),
)
def q_permutation_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = _hv_conv_per_user(ev)
    salts = spark.range(0, _PERM_B + 1, 1, 1).select(
        F.col("id").alias("sid")
    )
    armed = per_user.crossJoin(F.broadcast(salts)).select(
        "sid",
        "conv",
        F.when(
            F.col("sid") == 0,
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit("#p"),
                            F.col("sid").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        .alias("arm"),
    )
    cells = armed.groupBy("sid").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n2"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
    )
    diffs = checkpoint(
        cells.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
            "sid",
            F.expr(
                "(case when a * n2 - b * n1 >= 0 then 1 else -1 end)"
                " * ((abs(a * n2 - b * n1) * 1000000) div (n1 * n2))"
            ).alias("d_e6"),
            "n1",
            "n2",
        )
    )
    obs = diffs.filter(F.col("sid") == 0).select(
        F.col("d_e6").alias("od"),
        F.col("n1").alias("on1"),
        F.col("n2").alias("on2"),
    )
    joined = diffs.crossJoin(F.broadcast(obs))
    return joined.groupBy("on1", "on2", "od").agg(
        F.sum(
            F.when(
                (F.col("sid") > 0)
                & (F.abs(F.col("d_e6")) >= F.abs(F.col("od"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme")
    ).select(
        F.col("on1").cast("long").alias("n1"),
        F.col("on2").cast("long").alias("n2"),
        F.col("od").cast("long").alias("obs_diff_e6"),
        F.lit(_PERM_B).cast("long").alias("b_perms"),
        "n_extreme",
        F.expr(
            f"cast((1 + n_extreme) * cast(1000000 as decimal(38,0))"
            f" div ({_PERM_B} + 1) as long)"
        ).alias("p_ppm"),
    )


# --------------------------------------------------------------------------
# Inverse-Simpson effective vocabulary per source (r08) — the diversity
# number next to Heaps' growth curve: how many EQUALLY-COMMON words
# would produce this token distribution?
#
#   inv_simpson = 1 / Sum_w p_w^2 = T^2 / Sum_w c_w^2
#
# A pure integer ratio of exact sums (T = tokens, c_w = word counts) —
# no log (unlike Shannon), so the whole statistic is engine-exact:
# inv_simpson_e2 = (T^2 * 100) div Sum c^2, bounded by vocab * 100.
# Low effective vocabulary vs raw vocabulary = a few words dominate —
# the repetition signal a corpus-quality gate reads. One (source,
# word) count + one source rollup; vocabulary-bounded intermediate.
# Magnitudes: T^2 * 100 holds in decimal(38,0) to T ~ 1e18 tokens;
# the div result <= vocab * 100 is int64-safe at any corpus size.
# --------------------------------------------------------------------------

_SIMPSON_ORACLE = f"""
WITH words AS (
  SELECT source, w.w AS word
  FROM documents, UNNEST({_TOKS2}) AS w(w)
), cnt AS (
  SELECT source, word, CAST(COUNT(*) AS HUGEINT) AS c
  FROM words GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST((SUM(c) * SUM(c) * 100) // SUM(c * c) AS BIGINT)
         AS inv_simpson_e2,
       CAST(((SUM(c) * SUM(c) * 100) // SUM(c * c)) * 10000
            // (COUNT(*) * 100) AS BIGINT) AS evenness_bp
FROM cnt
GROUP BY source
ORDER BY source
"""


@query(
    "simpson_diversity_sources",
    _SIMPSON_ORACLE,
    "Inverse-Simpson effective vocabulary per source (how many "
    "equally-common words would give this token distribution) — a pure "
    "integer ratio T^2 div Sum c^2, no log, engine-exact; plus "
    "evenness (effective/raw vocab in bp), the repetition signal a "
    "corpus gate reads next to Heaps' growth",
    tags=("llm", "text", "stats", "bench"),
)
def q_simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source", F.explode(tx.tokens("text")).alias("word")
    )
    cnt = words.groupBy("source", "word").agg(
        _dec(F.count(F.lit(1))).alias("c")
    )
    agg = cnt.groupBy("source").agg(
        F.sum("c").alias("t"),
        _dec(F.count(F.lit(1))).alias("vocab"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
    )
    return agg.select(
        "source",
        F.col("t").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.expr("cast((t * t * 100) div c2 as long)").alias(
            "inv_simpson_e2"
        ),
        F.expr(
            "cast(((t * t * 100) div c2) * 10000 div (vocab * 100)"
            " as long)"
        ).alias("evenness_bp"),
    ).orderBy("source")
