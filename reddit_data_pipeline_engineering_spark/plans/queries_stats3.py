"""Classical-inference statistics, wave 3 (r10): rank/ordinal
association (Kendall tau-b, Goodman-Kruskal gamma), paired-proportion
testing (McNemar), inter-rater agreement (Cohen's kappa), a decision-
stump Gini split search, and Yule's K vocabulary-richness
characteristic.

These close out the nonparametric-association corner of the stats kit:
tau-b/gamma answer "do two orderings agree" (pair-concordance form),
McNemar answers "did the SAME users convert differently before vs
after" (the paired complement of the two-proportion z test), kappa
scores the lang-ID heuristic against labels beyond raw accuracy
(chance-corrected), the Gini stump is the feature-quality primitive a
training pipeline runs before trusting a filter column, and Yule's K
is the repetitiveness statistic corpus-quality audits report next to
Heaps/burstiness.

House rules (module docstring of plans/queries.py): every SUM is an
exact integer (DECIMAL(38,0) over quantized inputs) so partial
aggregation is order-independent and the DuckDB oracle replays the
same sums bit-for-bit; floats appear only in the FINAL statistic,
computed from the exact integers through a mirrored expression tree
(+ - * / sqrt are IEEE-deterministic; no ln/exp anywhere). Integer
`div` truncates toward zero in BOTH engines (verified: Spark `div`,
DuckDB `//`), so signed statistics (kappa, gamma) divide identically.

Scale notes (100 TB): every query reduces to a BOUNDED relation
before any pairwise or windowed step — calendar days (tau), |langs|^2
cells (kappa), 5 x price-bucket cells (gamma), 50 quantity buckets
(stump), the frequency spectrum (Yule) — so the only data-sized work
is one keyed aggregate per query.

No reference counterpart (the reference's only analytics is a Glue
projection kernel, `glue_jobs/process_openaq_raw.py`); these extend
the engine's training-data / experimentation audit surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, _dec, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]


def _epoch_us() -> F.Column:
    """events.ts is TIMESTAMP_NTZ (pinned read schema,
    schemas.TABLES): epoch micros via timestampdiff against the NTZ
    epoch — instant-exact in any session timezone (the r07 streaming
    lesson); DuckDB mirror is epoch_us(CAST(ts AS TIMESTAMP)). Lazy (a
    module-level F.expr would need an active SparkContext at import)."""
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )


# --------------------------------------------------------------------------
# Kendall tau-b between the daily revenue series and the daily order-
# count series. The pairwise step runs on the DAILY relation — bounded
# by CALENDAR (the orders table spans ~2,400 distinct dates at every
# sf), so the O(days^2) concordance join is a constant-size broadcast
# nested loop no matter how many orders feed each day. Revenue
# compares as exact DECIMAL sums; tau-b's sqrt denominator operates on
# pair counts < 2^53, exactly representable in double.
# --------------------------------------------------------------------------

_TAU_FINAL = (
    "CASE WHEN n_pairs - ties_rev <= 0 OR n_pairs - ties_orders <= 0 "
    "THEN 0.0 ELSE ROUND(CAST(concordant - discordant AS DOUBLE) / "
    "SQRT(CAST(n_pairs - ties_rev AS DOUBLE) * "
    "CAST(n_pairs - ties_orders AS DOUBLE)), 6) END"
)

_KENDALL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
), pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN (a.rev < b.rev AND a.n < b.n)
                         OR (a.rev > b.rev AND a.n > b.n)
                  THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN (a.rev < b.rev AND a.n > b.n)
                         OR (a.rev > b.rev AND a.n < b.n)
                  THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
         CAST(SUM(CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END) AS BIGINT)
           AS ties_rev,
         CAST(SUM(CASE WHEN a.n = b.n THEN 1 ELSE 0 END) AS BIGINT)
           AS ties_orders
  FROM daily a JOIN daily b ON a.d < b.d
), nd AS (
  -- n_days straight off the daily relation (ADVICE r10): the pair-join
  -- reconstruction (COUNT(DISTINCT a.d)+1) is only right with >=2 days
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
)
SELECT n_days, n_pairs, concordant, discordant, ties_rev, ties_orders,
       {_TAU_FINAL} AS tau_b
FROM pairs, nd
"""


@query(
    "kendall_tau_daily",
    _KENDALL_ORACLE,
    "Kendall tau-b between daily revenue and daily order count: one "
    "calendar-keyed aggregate, then the O(days^2) concordance count as "
    "a broadcast self-join of the ~2.4k-day bounded relation; tau from "
    "exact pair counts through a mirrored double tree",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # two consumers (both sides of the self-join): checkpoint so the
    # orders scan + aggregate runs once
    daily = checkpoint(
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("rev"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(
                ((F.col("a.rev") < F.col("b.rev")) & (F.col("a.n") < F.col("b.n")))
                | ((F.col("a.rev") > F.col("b.rev")) & (F.col("a.n") > F.col("b.n"))),
                1,
            ).otherwise(0)
        ).cast("long").alias("concordant"),
        F.sum(
            F.when(
                ((F.col("a.rev") < F.col("b.rev")) & (F.col("a.n") > F.col("b.n")))
                | ((F.col("a.rev") > F.col("b.rev")) & (F.col("a.n") < F.col("b.n"))),
                1,
            ).otherwise(0)
        ).cast("long").alias("discordant"),
        F.sum(F.when(F.col("a.rev") == F.col("b.rev"), 1).otherwise(0))
        .cast("long").alias("ties_rev"),
        F.sum(F.when(F.col("a.n") == F.col("b.n"), 1).otherwise(0))
        .cast("long").alias("ties_orders"),
    )
    # n_days straight off the daily relation (ADVICE r10): reconstructing
    # it from the pair join (COUNT(DISTINCT a.d)+1) is only correct when
    # >=2 distinct days exist. daily is checkpointed, so this third
    # consumer re-reads the materialized rows, not the orders scan.
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return agg.crossJoin(F.broadcast(nd)).select(
        "n_days", "n_pairs", "concordant", "discordant",
        "ties_rev", "ties_orders",
        F.expr(_TAU_FINAL).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# McNemar paired-proportion test: did the SAME users purchase-convert
# differently in the first vs second half of the observation window?
# The discordant cells b (early-only) and c (late-only) carry all the
# information; the statistic (b-c)^2/(b+c) is chi-square(1) under H0.
# One per-user aggregate (data-sized, keyed), scalar midpoint
# broadcast, integer-exact statistic in bp.
# --------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH bounds AS (
  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
  FROM events
), mid AS (
  SELECT lo + (hi - lo) // 2 AS mid_us FROM bounds
), per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase'
                   AND epoch_us(CAST(ts AS TIMESTAMP)) < mid_us
             THEN 1 ELSE 0 END) AS early,
         MAX(CASE WHEN event_type = 'purchase'
                   AND epoch_us(CAST(ts AS TIMESTAMP)) >= mid_us
             THEN 1 ELSE 0 END) AS late
  FROM events, mid GROUP BY user_id, mid_us
), cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b_early_only,
         CAST(SUM(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c_late_only,
         CAST(SUM(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS both_halves
  FROM per_user
)
SELECT n_users, b_early_only, c_late_only, both_halves,
       CASE WHEN b_early_only + c_late_only = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((b_early_only - c_late_only)
                      * (b_early_only - c_late_only) * 10000
                      // (b_early_only + c_late_only) AS BIGINT)
       END AS mcnemar_bp
FROM cells
"""


@query(
    "mcnemar_paired_conversion",
    _MCNEMAR_ORACLE,
    "McNemar paired test on per-user purchase conversion, first vs "
    "second half of the window: one keyed per-user aggregate against a "
    "broadcast scalar midpoint, discordant-cell statistic integer-"
    "exact in bp — the paired complement of the two-proportion z test",
    tags=("relational", "stats", "bench"),
)
def q_mcnemar_paired_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_us().alias("us")
    )
    mid = ev.agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    ).select(F.expr("lo + (hi - lo) div 2").cast("long").alias("mid_us"))
    per_user = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id", "mid_us")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") < F.col("mid_us")),
                    1,
                ).otherwise(0)
            ).alias("early"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") >= F.col("mid_us")),
                    1,
                ).otherwise(0)
            ).alias("late"),
        )
    )
    cells = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when((F.col("early") == 1) & (F.col("late") == 0), 1).otherwise(0))
        .cast("long").alias("b_early_only"),
        F.sum(F.when((F.col("early") == 0) & (F.col("late") == 1), 1).otherwise(0))
        .cast("long").alias("c_late_only"),
        F.sum(F.when((F.col("early") == 1) & (F.col("late") == 1), 1).otherwise(0))
        .cast("long").alias("both_halves"),
    )
    return cells.select(
        "n_users", "b_early_only", "c_late_only", "both_halves",
        F.expr(
            "CASE WHEN b_early_only + c_late_only = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST((b_early_only - c_late_only) "
            "* (b_early_only - c_late_only) * 10000 "
            "div (b_early_only + c_late_only) AS BIGINT) END"
        ).alias("mcnemar_bp"),
    )


# --------------------------------------------------------------------------
# Cohen's kappa for the lang-ID heuristic vs stored labels — the
# chance-corrected companion to lang_confusion_matrix (same scored
# relation, queries_llm.q_lang_id). kappa = (po - pe)/(1 - pe) stays
# rational: with N docs, diag agreements, and pe_num = sum_l row_l *
# col_l, kappa = (N*diag - pe_num)/(N^2 - pe_num). Marginal products
# come from the |langs|^2-bounded cell relation, so everything after
# the per-doc scoring pass is constant-size. DECIMAL(38,0) keeps
# N^2-scale terms exact past int64 (N up to ~10^19 headroom).
# --------------------------------------------------------------------------


def _build_kappa_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _lang_id_oracle,
    )

    return f"""
WITH scored AS ({_lang_id_oracle()}),
cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS HUGEINT) AS n
  FROM scored GROUP BY lang, pred_lang
), tot AS (
  SELECT SUM(n) AS nn,
         SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS diag
  FROM cells
), rows_ AS (
  SELECT lang AS lbl, SUM(n) AS r FROM cells GROUP BY lang
), cols_ AS (
  SELECT pred_lang AS lbl, SUM(n) AS c FROM cells GROUP BY pred_lang
), pe AS (
  SELECT SUM(r * c) AS pe_num
  FROM rows_ JOIN cols_ USING (lbl)
)
SELECT CAST(nn AS BIGINT) AS n_docs,
       CAST(diag AS BIGINT) AS observed_agree,
       CAST(diag * 10000 // nn AS BIGINT) AS po_bp,
       CAST(pe_num * 10000 // (nn * nn) AS BIGINT) AS pe_bp,
       CASE WHEN nn * nn = pe_num THEN CAST(0 AS BIGINT)
            ELSE CAST((nn * diag - pe_num) * 10000
                      // (nn * nn - pe_num) AS BIGINT)
       END AS kappa_bp
FROM tot, pe
"""


@query(
    "cohen_kappa_agreement",
    _build_kappa_oracle(),
    "Cohen's kappa of the lang-ID heuristic vs stored labels: per-doc "
    "scoring pass, then all arithmetic on the |langs|^2-bounded cell "
    "relation — chance-corrected agreement integer-exact in bp via "
    "DECIMAL(38,0) marginal products",
    tags=("llm", "text", "stats", "bench"),
)
def q_cohen_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import q_lang_id

    scored = q_lang_id(spark, sf_dir)
    # three consumers (totals, row marginals, col marginals) of a
    # |langs|^2-bounded relation
    cells = checkpoint(
        scored.groupBy("lang", "pred_lang")
        .agg(_dec(F.count(F.lit(1))).alias("n"))
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n")).otherwise(F.lit(0))).alias("diag"),
    )
    rows_ = cells.groupBy(F.col("lang").alias("lbl")).agg(F.sum("n").alias("r"))
    cols_ = cells.groupBy(F.col("pred_lang").alias("lbl")).agg(F.sum("n").alias("c"))
    pe = (
        rows_.join(cols_, "lbl")
        .agg(F.sum(F.col("r") * F.col("c")).alias("pe_num"))
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("nn").cast("long").alias("n_docs"),
            F.col("diag").cast("long").alias("observed_agree"),
            F.expr("CAST(diag * 10000 div nn AS BIGINT)").alias("po_bp"),
            F.expr("CAST(pe_num * 10000 div (nn * nn) AS BIGINT)").alias("pe_bp"),
            F.expr(
                "CASE WHEN nn * nn = pe_num THEN CAST(0 AS BIGINT) "
                "ELSE CAST((nn * diag - pe_num) * 10000 "
                "div (nn * nn - pe_num) AS BIGINT) END"
            ).alias("kappa_bp"),
        )
    )


# --------------------------------------------------------------------------
# Goodman-Kruskal gamma: ordinal association between order priority
# (rank 1-URGENT..5-LOW) and order size (50k-dollar price buckets).
# Pair concordance is computed on the 5 x ~10 CELL relation — C and D
# are sums of n_a * n_b over strictly concordant/discordant cell
# pairs, so the statistic never touches order-level pairs. gamma =
# (C - D)/(C + D) is rational; C,D reach N^2 scale so they live in
# DECIMAL(38,0) and only the bp-scaled gamma (|.| <= 10^4) is emitted.
# --------------------------------------------------------------------------

_GAMMA_ORACLE = """
WITH cells AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS x,
         CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
              // 5000000 AS INTEGER) AS y,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT SUM(CASE WHEN a.y < b.y THEN a.n * b.n ELSE 0 END) AS con,
         SUM(CASE WHEN a.y > b.y THEN a.n * b.n ELSE 0 END) AS dis
  FROM cells a JOIN cells b ON a.x < b.x
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(n) AS BIGINT) AS n_orders
  FROM cells
)
SELECT n_orders, n_cells,
       CASE WHEN con + dis = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((con - dis) * 10000 // (con + dis) AS BIGINT)
       END AS gamma_bp
FROM tot, pairs
"""


@query(
    "goodman_kruskal_gamma",
    _GAMMA_ORACLE,
    "Goodman-Kruskal gamma between order priority rank and 50k price "
    "buckets: one cell aggregate, then concordance as n_a*n_b sums "
    "over the 5 x ~10 bounded cell-pair join — ordinal association "
    "without order-level pairs, signed bp via DECIMAL div",
    tags=("relational", "stats", "bench"),
)
def q_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = checkpoint(
        orders.select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
            F.expr(
                "CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
                "div 5000000 AS INT)"
            ).alias("y"),
        )
        .groupBy("x", "y")
        .agg(_dec(F.count(F.lit(1))).alias("n"))
    )  # both sides of the cell-pair join
    a, b = cells.alias("a"), cells.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.x") < F.col("b.x"))
        .agg(
            F.sum(
                F.when(F.col("a.y") < F.col("b.y"), F.col("a.n") * F.col("b.n"))
                .otherwise(F.lit(0))
            ).alias("con"),
            F.sum(
                F.when(F.col("a.y") > F.col("b.y"), F.col("a.n") * F.col("b.n"))
                .otherwise(F.lit(0))
            ).alias("dis"),
        )
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return (
        tot.crossJoin(F.broadcast(pairs))
        .select(
            "n_orders", "n_cells",
            F.expr(
                "CASE WHEN con + dis = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST((con - dis) * 10000 div (con + dis) AS BIGINT) END"
            ).alias("gamma_bp"),
        )
    )


# --------------------------------------------------------------------------
# Decision-stump Gini split search: the best single threshold on
# l_quantity predicting l_returnflag = 'R' — the feature-quality
# primitive run before trusting a column as a filter gate. Quantity is
# integer-valued 1..50, so candidate thresholds reduce to <= 49 cumsum
# rows: one bucket aggregate (data-sized, keyed), then a cumulative
# window over the <=50-row bounded bucket relation (global-window
# waiver class: input bounded by the quantized feature domain).
# Weighted Gini stays rational: score = [ (n_l^2 - pos_l^2 - neg_l^2)
# * n_r + (n_r^2 - pos_r^2 - neg_r^2) * n_l ] / (N * n_l * n_r),
# emitted in bp via DECIMAL(38,0) (numerator ~ N^3 * 10^4 — exact up
# to N ~ 2e11 rows; past that pre-divide by gcd as the BH note
# prescribes).
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH buckets AS (
  SELECT CAST(l_quantity AS INTEGER) AS q,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS HUGEINT) AS pos
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT q,
         SUM(n) OVER (ORDER BY q) AS n_l,
         SUM(pos) OVER (ORDER BY q) AS pos_l,
         SUM(n) OVER () AS nn,
         SUM(pos) OVER () AS pp
  FROM buckets
), sides AS (
  SELECT q, n_l, pos_l, n_l - pos_l AS neg_l, nn, pp,
         nn - n_l AS n_r, pp - pos_l AS pos_r,
         (nn - n_l) - (pp - pos_l) AS neg_r
  FROM cum WHERE n_l < nn
), scored AS (
  SELECT q AS split_qty,
         CAST(((n_l * n_l - pos_l * pos_l - neg_l * neg_l) * n_r
               + (n_r * n_r - pos_r * pos_r - neg_r * neg_r) * n_l)
              * 10000 // (nn * n_l * n_r) AS BIGINT) AS split_gini_bp,
         CAST((nn * nn - pp * pp - (nn - pp) * (nn - pp)) * 10000
              // (nn * nn) AS BIGINT) AS parent_gini_bp,
         CAST(nn AS BIGINT) AS n_rows
  FROM sides
)
SELECT n_rows, split_qty, parent_gini_bp, split_gini_bp,
       parent_gini_bp - split_gini_bp AS gain_bp
FROM scored
ORDER BY split_gini_bp ASC, split_qty ASC
LIMIT 1
"""


@query(
    "gini_split_stump",
    _GINI_ORACLE,
    "Best decision-stump split on l_quantity predicting returnflag=R: "
    "one bucket aggregate, cumulative sums over the <=50-row bounded "
    "bucket relation (quantized-domain global-window waiver), weighted "
    "Gini integer-exact in bp, min-impurity split with tiebreak",
    tags=("relational", "stats", "bench"),
)
def q_gini_split_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    buckets = (
        li.select(
            F.col("l_quantity").cast("int").alias("q"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_pos"),
        )
        .groupBy("q")
        .agg(
            _dec(F.count(F.lit(1))).alias("n"),
            _dec(F.sum("is_pos")).alias("pos"),
        )
    )
    # bounded global windows: <= 50 rows (the quantized feature domain)
    w_cum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = buckets.select(
        "q",
        F.sum("n").over(w_cum).alias("n_l"),
        F.sum("pos").over(w_cum).alias("pos_l"),
        F.sum("n").over(w_all).alias("nn"),
        F.sum("pos").over(w_all).alias("pp"),
    )
    sides = cum.filter(F.col("n_l") < F.col("nn")).select(
        "q", "n_l", "pos_l", "nn", "pp",
        (F.col("n_l") - F.col("pos_l")).alias("neg_l"),
        (F.col("nn") - F.col("n_l")).alias("n_r"),
        (F.col("pp") - F.col("pos_l")).alias("pos_r"),
        ((F.col("nn") - F.col("n_l")) - (F.col("pp") - F.col("pos_l"))).alias("neg_r"),
    )
    scored = sides.select(
        F.col("q").alias("split_qty"),
        F.expr(
            "CAST(((n_l * n_l - pos_l * pos_l - neg_l * neg_l) * n_r"
            " + (n_r * n_r - pos_r * pos_r - neg_r * neg_r) * n_l)"
            " * 10000 div (nn * n_l * n_r) AS BIGINT)"
        ).alias("split_gini_bp"),
        F.expr(
            "CAST((nn * nn - pp * pp - (nn - pp) * (nn - pp)) * 10000"
            " div (nn * nn) AS BIGINT)"
        ).alias("parent_gini_bp"),
        F.col("nn").cast("long").alias("n_rows"),
    )
    return (
        scored.select(
            "n_rows", "split_qty", "parent_gini_bp", "split_gini_bp",
            (F.col("parent_gini_bp") - F.col("split_gini_bp")).alias("gain_bp"),
        )
        .orderBy(F.col("split_gini_bp").asc(), F.col("split_qty").asc())
        .limit(1)
    )


# --------------------------------------------------------------------------
# Yule's K vocabulary-richness characteristic over the corpus:
# K = 10^4 * (sum_m m^2*V(m) - N) / N^2 where V(m) = #types occurring
# m times and N = total tokens. Token explode -> frequency -> spectrum
# is the Heaps/vocab_topk shuffle shape (two keyed aggregates); the
# final statistic is one scalar over the spectrum, emitted milli-scaled
# (K * 1000, truncating div) so the output stays integer-exact.
# --------------------------------------------------------------------------


def _build_yule_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_stats2 import (
        _TOKS2,
    )

    return f"""
WITH toks AS (
  SELECT unnest({_TOKS2}) AS token FROM documents
), freq AS (
  SELECT token, CAST(COUNT(*) AS HUGEINT) AS m FROM toks GROUP BY token
), spectrum AS (
  SELECT m, CAST(COUNT(*) AS HUGEINT) AS v FROM freq GROUP BY m
), agg AS (
  SELECT SUM(m * v) AS n_tok, SUM(v) AS vocab, SUM(m * m * v) AS s2
  FROM spectrum
)
SELECT CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab_size,
       CAST((s2 - n_tok) * 10000 * 1000 // (n_tok * n_tok) AS BIGINT)
         AS yule_k_milli
FROM agg
"""


@query(
    "yule_k_vocab",
    _build_yule_oracle(),
    "Yule's K repetitiveness characteristic of the corpus: token "
    "frequency spectrum (two keyed aggregates, the Heaps shuffle "
    "shape), K = 1e4*(S2-N)/N^2 emitted milli-scaled integer-exact — "
    "the corpus-quality statistic reported next to Heaps/burstiness",
    tags=("llm", "text", "stats", "bench"),
)
def q_yule_k_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
    freq = toks.groupBy("token").agg(_dec(F.count(F.lit(1))).alias("m"))
    spectrum = freq.groupBy("m").agg(_dec(F.count(F.lit(1))).alias("v"))
    agg = spectrum.agg(
        F.sum(F.col("m") * F.col("v")).alias("n_tok"),
        F.sum("v").alias("vocab"),
        F.sum(F.col("m") * F.col("m") * F.col("v")).alias("s2"),
    )
    return agg.select(
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab_size"),
        F.expr(
            "CAST((s2 - n_tok) * 10000 * 1000 div (n_tok * n_tok) AS BIGINT)"
        ).alias("yule_k_milli"),
    )


# --------------------------------------------------------------------------
# O'Brien-Fleming group-sequential A/B monitor (r10): the 5-look
# interim-analysis schedule an experimentation platform runs so it can
# stop early on a real effect without inflating false positives.
# Looks = 5 equal time slices of the event window (boundaries in
# integer micros, b_k = lo + (hi-lo)*k div 5); at look k the pooled
# two-proportion z^2 (the ab_conversion_ztest statistic, integer-exact
# in bp) is compared against the OBF boundary z_k = C*sqrt(K/k) with
# C = 2.04 (the classical two-sided alpha=0.05, K=5 constant), i.e.
# z_k^2*1e4 = 2.04^2 * 5 * 1e4 / k = 208080 div k — an exact integer
# ladder, no transcendental at runtime. All per-look counts come from
# ONE user-keyed aggregate (conditional sums against the broadcast
# boundary scalars); everything after is a 5-row relation.
# Decimal ceiling: the z^2 numerator is O(n^5*1e4) like
# bh_fdr_nation_conversion — exact to ~2e6 users per the BH note.
# --------------------------------------------------------------------------

_OBF_LOOKS = 5
_OBF_C2_BP = 208080  # (2.04^2 * 5) * 1e4; thr_bp(k) = 208080 div k

_OBF_Z2 = (
    "CASE WHEN n_a = 0 OR n_b = 0 OR c_a + c_b = 0 "
    "OR c_a + c_b = n_a + n_b THEN CAST(0 AS BIGINT) "
    "ELSE CAST((c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a) "
    "* (n_a + n_b) * 10000 "
    "{div} (n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b)) "
    "AS BIGINT) END"
)


def _build_obf_oracle() -> str:
    looks_union = "\n  UNION ALL\n".join(
        f"  SELECT variant, {k} AS look, n_{k} AS n, c_{k} AS c FROM arms"
        for k in range(1, _OBF_LOOKS + 1)
    )
    n_sums = ",\n".join(
        f"         CAST(SUM(CASE WHEN first_us <= lo + (hi - lo) * {k} // 5"
        f" THEN 1 ELSE 0 END) AS HUGEINT) AS n_{k},\n"
        f"         CAST(SUM(CASE WHEN fp_us <= lo + (hi - lo) * {k} // 5"
        f" THEN 1 ELSE 0 END) AS HUGEINT) AS c_{k}"
        for k in range(1, _OBF_LOOKS + 1)
    )
    return f"""
WITH bounds AS (
  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS hi
  FROM events
), per_user AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
         MIN(CASE WHEN event_type = 'purchase'
             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp_us
  FROM events GROUP BY 1
), arms AS (
  SELECT variant,
{n_sums}
  FROM per_user, bounds GROUP BY variant
), looks AS (
{looks_union}
), ab AS (
  SELECT a.look, a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
  FROM (SELECT * FROM looks WHERE variant = 'A') a
  JOIN (SELECT * FROM looks WHERE variant = 'B') b USING (look)
)
SELECT look,
       CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
       {_OBF_Z2.format(div="//")} AS z2_bp,
       CAST({_OBF_C2_BP} // look AS BIGINT) AS thr_bp,
       {_OBF_Z2.format(div="//")} >= {_OBF_C2_BP} // look AS crossed
FROM ab ORDER BY look
"""


@query(
    "obf_sequential_ab",
    _build_obf_oracle(),
    "O'Brien-Fleming 5-look group-sequential A/B monitor: one "
    "user-keyed aggregate with conditional per-look sums against "
    "broadcast time boundaries, pooled z^2 integer-exact in bp per "
    "look, OBF boundary ladder 208080 div k embedded exactly — "
    "early-stopping experiment analysis without alpha inflation",
    tags=("relational", "stats", "bench"),
)
def q_obf_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_us().alias("us")
    )
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    per_user = ev.groupBy("user_id").agg(
        F.min("us").alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).alias("fp_us"),
    ).withColumn(
        "variant",
        F.when(md5_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B")),
    )
    aggs = []
    for k in range(1, _OBF_LOOKS + 1):
        bk = f"lo + (hi - lo) * {k} div 5"
        aggs.append(
            _dec(
                F.sum(F.when(F.expr(f"first_us <= {bk}"), 1).otherwise(0))
            ).alias(f"n_{k}")
        )
        aggs.append(
            _dec(
                F.sum(F.when(F.expr(f"fp_us <= {bk}"), 1).otherwise(0))
            ).alias(f"c_{k}")
        )
    # both look branches (A side, B side) read the 2-row relation
    arms = checkpoint(
        per_user.crossJoin(F.broadcast(bounds))
        .groupBy("variant")
        .agg(*aggs)
    )
    stack_args = ", ".join(
        f"{k}, n_{k}, c_{k}" for k in range(1, _OBF_LOOKS + 1)
    )
    looks = arms.selectExpr(
        "variant",
        f"stack({_OBF_LOOKS}, {stack_args}) AS (look, n, c)",
    )
    a = looks.filter(F.col("variant") == "A").select(
        "look", F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b = looks.filter(F.col("variant") == "B").select(
        "look", F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    ab = a.join(F.broadcast(b), "look")
    z2 = _OBF_Z2.format(div="div")
    return ab.select(
        "look",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.expr(z2).alias("z2_bp"),
        F.expr(f"CAST({_OBF_C2_BP} div look AS BIGINT)").alias("thr_bp"),
        F.expr(f"{z2} >= {_OBF_C2_BP} div look").alias("crossed"),
    ).orderBy("look")


# --------------------------------------------------------------------------
# Friedman test (r10 wave 2) — the k-treatment repeated-measures rank
# test completing the family (Mann-Whitney: 2 unpaired; Kruskal-Wallis:
# k unpaired; sign test: 2 paired; Friedman: k paired). Blocks =
# calendar days, treatments = event types, measurement = daily sum of
# quantized value per type. Ranks live WITHIN a day (keyed window,
# |types|-bounded rows per key); ties take average ranks kept integer
# as 2r = 2*RANK() + ties - 1. Statistic (tie-uncorrected classical
# form, documented): chi2_F = 12/(n k (k+1)) * sum R_j^2 - 3 n (k+1),
# emitted in bp from the 2x rank sums: with R2_j = 2*R_j,
# chi2_bp = 3e4 * (sum R2_j^2 - n^2 k (k+1)^2) div (n k (k+1)).
# Missing (day, type) cells get measurement 0 via the day x type
# scaffold (types present globally), so every block ranks all k
# treatments — the complete-block design Friedman requires.
# --------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS d, event_type,
         SUM(CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)) AS m
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), scaffold AS (
  SELECT d, t.event_type, COALESCE(c.m, 0) AS m
  FROM (SELECT DISTINCT d FROM cells) days
  CROSS JOIN (SELECT DISTINCT event_type FROM cells) t
  LEFT JOIN cells c USING (d, event_type)
), ranked AS (
  SELECT d, event_type,
         2 * RANK() OVER (PARTITION BY d ORDER BY m)
           + COUNT(*) OVER (PARTITION BY d, m) - 1 AS r2
  FROM scaffold
), sums AS (
  SELECT event_type, CAST(SUM(r2) AS HUGEINT) AS rank2_sum FROM ranked
  GROUP BY event_type
), dims AS (
  SELECT CAST(COUNT(DISTINCT d) AS HUGEINT) AS n,
         CAST(COUNT(DISTINCT event_type) AS HUGEINT) AS k
  FROM scaffold
), stat AS (
  SELECT n, k,
         CAST(30000 * (SELECT SUM(rank2_sum * rank2_sum) FROM sums)
              - 30000 * n * n * k * (k + 1) * (k + 1) AS HUGEINT)
           // (n * k * (k + 1)) AS chi2_bp
  FROM dims
)
SELECT s.event_type, CAST(s.rank2_sum AS BIGINT) AS rank2_sum,
       CAST(st.n AS BIGINT) AS n_blocks,
       CAST(st.chi2_bp AS BIGINT) AS friedman_bp
FROM sums s, stat st
ORDER BY s.event_type
"""


@query(
    "friedman_test_types",
    _FRIEDMAN_ORACLE,
    "Friedman k-treatment repeated-measures rank test over (day block, "
    "event-type treatment) daily value sums: day-keyed ranking windows "
    "(|types|-bounded rows per key), 2x average ranks stay integer "
    "through ties, classical chi2_F emitted exactly in bp — completes "
    "the rank-test family",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_friedman_test_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = checkpoint(
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("ts").cast("date").alias("d"),
            "event_type",
        )
        .agg(
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)")
            ).alias("m")
        )
    )  # scaffold + both distinct dims
    days = cells.select("d").distinct()
    types = cells.select("event_type").distinct()
    scaffold = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("m", F.lit(0)).alias("m"))
    )
    w_rank = Window.partitionBy("d").orderBy("m")
    w_tie = Window.partitionBy("d", "m")
    ranked = scaffold.select(
        "d", "event_type",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1)
        .alias("r2"),
    )
    sums = checkpoint(ranked.groupBy("event_type").agg(
        _dec(F.sum("r2")).alias("rank2_sum")
    ))
    dims = scaffold.agg(
        _dec(F.countDistinct("d")).alias("n"),
        _dec(F.countDistinct("event_type")).alias("k"),
    )
    srs = sums.agg(
        F.sum(F.col("rank2_sum") * F.col("rank2_sum")).alias("sr2")
    )
    stat = dims.crossJoin(F.broadcast(srs)).select(
        "n",
        F.expr(
            "CAST((30000 * sr2 - 30000 * n * n * k * (k + 1) * (k + 1))"
            " div (n * k * (k + 1)) AS BIGINT)"
        ).alias("chi2_bp"),
    )
    return (
        sums.crossJoin(F.broadcast(stat))
        .select(
            "event_type",
            F.col("rank2_sum").cast("long").alias("rank2_sum"),
            F.col("n").cast("long").alias("n_blocks"),
            F.col("chi2_bp").alias("friedman_bp"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Cochran's Q (r10 wave 2) — k binary treatments over user blocks: did
# each user perform each event type at least once? The k-sample
# McNemar generalization:
# Q = (k-1) * (k * sum C_j^2 - T^2) / (k * T - sum R_i^2) with column
# totals C_j, row totals R_i, T = sum R_i — ALL integers, one per-user
# aggregate (R_i moments reduce in the same pass) + one |types|-bounded
# column rollup. Emitted in bp via DECIMAL(38,0).
# --------------------------------------------------------------------------

_COCHRAN_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         COUNT(DISTINCT event_type) AS r
  FROM events GROUP BY user_id
), rows_ AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_users,
         CAST(SUM(r) AS HUGEINT) AS t,
         CAST(SUM(r * r) AS HUGEINT) AS sr2
  FROM per_user
), cols_ AS (
  SELECT CAST(COUNT(DISTINCT event_type) AS HUGEINT) AS k,
         CAST(SUM(c * c) AS HUGEINT) AS sc2
  FROM (
    SELECT event_type, COUNT(DISTINCT user_id) AS c
    FROM events GROUP BY event_type
  )
)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(k AS BIGINT) AS k_treatments,
       CASE WHEN k * t = sr2 THEN CAST(0 AS BIGINT)
            ELSE CAST((k - 1) * (k * sc2 - t * t) * 10000
                      // (k * t - sr2) AS BIGINT)
       END AS cochran_q_bp
FROM rows_, cols_
"""


@query(
    "cochran_q_types",
    _COCHRAN_ORACLE,
    "Cochran's Q over (user block, event-type treatment) binary "
    "incidence: row-total moments fold in one user-keyed aggregate, "
    "column totals in one |types|-bounded rollup, Q integer-exact in "
    "bp — the k-sample McNemar generalization",
    tags=("relational", "stats", "bench"),
)
def q_cochran_q_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rows_ = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("r"))
        .agg(
            _dec(F.count(F.lit(1))).alias("n_users"),
            _dec(F.sum("r")).alias("t"),
            _dec(F.sum(F.col("r") * F.col("r"))).alias("sr2"),
        )
    )
    cols_ = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("c"))
        .agg(
            _dec(F.countDistinct("event_type")).alias("k"),
            _dec(F.sum(F.col("c") * F.col("c"))).alias("sc2"),
        )
    )
    return rows_.crossJoin(F.broadcast(cols_)).select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("k_treatments"),
        F.expr(
            "CASE WHEN k * t = sr2 THEN CAST(0 AS BIGINT) "
            "ELSE CAST((k - 1) * (k * sc2 - t * t) * 10000 "
            "div (k * t - sr2) AS BIGINT) END"
        ).alias("cochran_q_bp"),
    )


# --------------------------------------------------------------------------
# Page's trend test (r10 wave 2) — ordered-alternatives companion to
# Friedman: is weekly revenue MONOTONE across the days of the week?
# Blocks = ISO weeks (calendar-bounded), ordered treatments =
# day-of-week 1..7, measurement = daily revenue cents. Days absent
# from orders are genuinely zero-revenue days (the orders table is the
# universe), so each interior week zero-fills to the complete block
# Page's design requires; only the two EDGE weeks — possibly truncated
# by the date range itself — are dropped. L = sum_j j*R_j grows beyond
# its null mean n*k*(k+1)^2/4 under a monotone trend. Kept integer as
# L2 = sum j*R2_j (2x ranks through ties) with E0[L2] = n*k*(k+1)^2/2
# exactly; the oracle-checked output is the exact (L2, E0[L2], n)
# triple — inference-ready without runtime transcendentals.
# --------------------------------------------------------------------------

_PAGE_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
           AS rev_c
  FROM orders GROUP BY 1
), keyed AS (
  SELECT (CAST(d - DATE '1970-01-01' AS BIGINT) + 3) // 7 AS wk,
         (CAST(d - DATE '1970-01-01' AS BIGINT) + 3) % 7 + 1 AS dow,
         rev_c
  FROM daily
), interior_weeks AS (
  SELECT DISTINCT wk FROM keyed
  WHERE wk > (SELECT MIN(wk) FROM keyed)
    AND wk < (SELECT MAX(wk) FROM keyed)
), scaffold AS (
  SELECT w.wk, g.dow, COALESCE(k.rev_c, 0) AS rev_c
  FROM interior_weeks w
  CROSS JOIN (SELECT UNNEST(range(1, 8)) AS dow) g
  LEFT JOIN keyed k ON k.wk = w.wk AND k.dow = g.dow
), ranked AS (
  SELECT k.wk, k.dow,
         2 * RANK() OVER (PARTITION BY k.wk ORDER BY k.rev_c)
           + COUNT(*) OVER (PARTITION BY k.wk, k.rev_c) - 1 AS r2
  FROM scaffold k
), sums AS (
  SELECT dow, CAST(SUM(r2) AS HUGEINT) AS rank2_sum,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM ranked GROUP BY dow
)
SELECT CAST(dow AS INTEGER) AS dow,
       CAST(rank2_sum AS BIGINT) AS rank2_sum,
       CAST((SELECT SUM(dow * rank2_sum) FROM sums) AS BIGINT) AS page_l2,
       CAST((SELECT MAX(n) * 224 FROM sums) AS BIGINT)
         AS page_l2_null,
       CAST((SELECT MAX(n) FROM sums) AS BIGINT) AS n_weeks
FROM sums
ORDER BY dow
"""


@query(
    "page_trend_dow",
    _PAGE_ORACLE,
    "Page's ordered-alternatives trend test: rank daily revenue within "
    "complete ISO weeks (calendar-bounded blocks, keyed windows), "
    "L2 = sum dow*R2_dow vs its exact null mean n*k*(k+1)^2/2 — the "
    "monotone-trend companion to Friedman, all integer",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_page_trend_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        ).alias("rev_c")
    )
    # epoch-day arithmetic: day 0 (1970-01-01) was a Thursday, so
    # (days + 3) div 7 buckets Mon-Sun ISO weeks and (days + 3) % 7 + 1
    # maps to ISO dow 1..7 (Thu -> 4) — pure integers; the oracle
    # mirrors via DuckDB's date-difference days.
    keyed = checkpoint(daily.select(
        F.expr(
            "(CAST(unix_date(d) AS BIGINT) + 3) div 7"
        ).alias("wk"),
        F.expr(
            "(CAST(unix_date(d) AS BIGINT) + 3) % 7 + 1"
        ).alias("dow"),
        "rev_c",
    ))
    bounds = keyed.agg(F.min("wk").alias("lo"), F.max("wk").alias("hi"))
    interior = (
        keyed.select("wk")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("wk") > F.col("lo")) & (F.col("wk") < F.col("hi")))
        .select("wk")
    )
    dows = spark.range(1, 8).select(F.col("id").cast("int").alias("dow"))
    scaffold = (
        interior.crossJoin(F.broadcast(dows))
        .join(keyed, ["wk", "dow"], "left")
        .select("wk", "dow", F.coalesce("rev_c", F.lit(0)).alias("rev_c"))
    )
    w_rank = Window.partitionBy("wk").orderBy("rev_c")
    w_tie = Window.partitionBy("wk", "rev_c")
    ranked = scaffold.select(
        "wk", "dow",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1)
        .alias("r2"),
    )
    sums = checkpoint(ranked.groupBy("dow").agg(
        _dec(F.sum("r2")).alias("rank2_sum"),
        _dec(F.count(F.lit(1))).alias("n"),
    ))
    stat = sums.agg(
        F.sum(F.col("dow") * F.col("rank2_sum")).alias("l2"),
        F.max("n").alias("nw"),
    )
    return (
        sums.crossJoin(F.broadcast(stat))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("rank2_sum").cast("long").alias("rank2_sum"),
            F.col("l2").cast("long").alias("page_l2"),
            F.expr("CAST(nw * 224 AS BIGINT)").alias("page_l2_null"),
            F.col("nw").cast("long").alias("n_weeks"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------------
# Cramér-von Mises two-sample test (r10 wave 3) — the EDF-distance
# companion to ks_source_drift (KS = max gap; CvM = integrated squared
# gap, more sensitive to distribution-wide shifts): do the A/B arms'
# purchase-value distributions differ? Values live on the CENTS grid
# (the data is 2-decimal; the grid is VALUE-DOMAIN-bounded — distinct
# cells saturate, 6.6k -> 17.8k for 10x rows, the skyline waiver
# class), so the statistic reduces to one histogram aggregate + one
# bounded cumulative window:
#   T = sum_v cnt_v * (cumA_v*m - cumB_v*n)^2 / (N^2 * n * m)
# (the standard sum over all N sample points of (F_n - G_m)^2 scaled
# by nm/N^2), emitted T*1e6 integer-exact. DECIMAL ceiling: the
# squared term peaks near (n*m)^2 — exact to ~3e8 purchases per arm
# (the BH-note family; pre-scale past that).
# --------------------------------------------------------------------------

_CVM_ORACLE = """
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
         SUM(cb) OVER (ORDER BY cents) AS cum_b
  FROM hist
), tot AS (
  SELECT CAST(SUM(ca) AS HUGEINT) AS n, CAST(SUM(cb) AS HUGEINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM hist
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b, n_cells,
       CASE WHEN COALESCE(n, 0) = 0 OR COALESCE(m, 0) = 0 THEN 0
            ELSE CAST((SELECT SUM((ca + cb) * (cum_a * m - cum_b * n)
                                  * (cum_a * m - cum_b * n)) FROM cum) * 1000000
                      // ((n + m) * (n + m) * n * m) AS BIGINT)
       END AS cvm_t_e6
FROM tot
"""


@query(
    "cvm_two_sample_ab",
    _CVM_ORACLE,
    "Cramér-von Mises two-sample EDF test between md5 A/B arms' "
    "purchase values: one cents-grid histogram (value-domain-bounded, "
    "skyline waiver class) + bounded cumulative window, integrated "
    "squared EDF gap T*1e6 integer-exact — the distribution-wide "
    "companion to the KS max-gap test",
    tags=("relational", "stats", "bench"),
)
def q_cvm_two_sample_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

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
        F.sum("cb").over(w_cum).alias("cum_b"),
    )
    tot = hist.agg(
        F.sum("ca").alias("n"),
        F.sum("cb").alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    num = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("ca") + F.col("cb"))
            * (F.col("cum_a") * F.col("m") - F.col("cum_b") * F.col("n"))
            * (F.col("cum_a") * F.col("m") - F.col("cum_b") * F.col("n"))
        ).alias("s")
    )
    return tot.crossJoin(F.broadcast(num)).select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        "n_cells",
        F.expr(
            # Degenerate-arm guard (ADVICE r10): with an empty md5 arm the
            # unguarded divide is NULL in Spark (ANSI off) but an ERROR in
            # the DuckDB oracle — the documented asymmetric-failure mode.
            "CASE WHEN COALESCE(n, 0) = 0 OR COALESCE(m, 0) = 0 THEN 0 "
            "ELSE CAST(s * 1000000 div ((n + m) * (n + m) * n * m) AS BIGINT) "
            "END"
        ).alias("cvm_t_e6"),
    )
