"""Round-11 wave 5: linkage, calibration, richness, and trend shapes.

Five operators extending the training-data-pipeline and inference
surface (no reference counterpart — the reference's only analytics is
the Glue projection kernel, SURVEY.md §3.2):

- ``pacf_daily`` — partial autocorrelation (lags 1..3) of the daily
  order-count series via Durbin-Levinson determinant closed forms on
  integer autocovariances (the order-k companion of ``ljung_box_daily``
  / ``durbin_watson_daily``);
- ``levenshtein_blocked_pairs`` — record-linkage near-name audit:
  (brand, first-token) blocking with a hot-block cap, built-in
  ``levenshtein`` edit distance in BOTH engines (integer-exact);
- ``chao1_vocab_richness`` — bias-corrected Chao1 species-richness
  estimate + Good-Turing unseen-probability mass per source (the
  "how much vocabulary have we NOT seen yet" companion of
  ``hapax_legomena_rate`` / ``heaps_vocab_growth``);
- ``calibration_ece_temporal`` — temporal-holdout expected calibration
  error: early-window purchase propensity per activity bin scored
  against the late-window purchase rate (the model-governance gate
  ``lift_by_score_band`` does not cover: it audits CALIBRATION, not
  ranking);
- ``jt_trend_priority`` — Jonckheere-Terpstra ordered-trend test of
  order value across the 5-level priority ordinal on a $100-banded
  value grid (the ordered-alternative upgrade of kruskal_wallis).

Wave 6 (spatial / reliability / variance-homogeneity):
``morans_i_region`` — Moran's I under same-region block weights (the
(sum c)^2 - sum c^2 closed form, no pairwise join);
``cronbach_alpha_types`` — internal-consistency reliability with
cleared-denominator variances over the sparse (user, type) matrix;
``brown_forsythe_var`` — robust Levene variance test reusing the
anova_f_sources truncation device on |band - group median|.

House rules (module contract, same as queries_r11): every output
column is integer-exact (no ln/exp/sqrt), ``div``/``//`` truncates
toward zero in BOTH engines, every aggregate is keyed unless the input
is provably bounded (calendar days, the $100 band grid, the fixed
block-key domain), big products ride DECIMAL(38,0) on the Spark side
and HUGEINT in the oracle (the ljung_box/cvm precedent), and both
expression trees mirror each other operation for operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# Partial autocorrelation (lags 1..3) of the daily order counts.
# Durbin-Levinson closed forms as determinant ratios of the Toeplitz
# autocovariance matrix — every intermediate an integer:
#   c_i  = x_i - (S div n)            (floor-mean centering)
#   N_k  = sum c_i * c_{i+k}          (integer autocovariances)
#   pacf1 = N1 / N0
#   pacf2 = (N2*N0 - N1^2) / (N0^2 - N1^2)
#   pacf3 = det(A) / det(R)  with the 3x3 Yule-Walker Toeplitz system
#     det(R) = N0^3 - 2*N0*N1^2 + 2*N1^2*N2 - N0*N2^2
#     det(A) = N0^2*N3 - 2*N0*N1*N2 - N1^2*N3 + N1*N2^2 + N1^3
# Floor-mean centering (vs the x*n - S scaling of ljung_box) keeps the
# TRIPLE products inside DECIMAL(38,0)/HUGEINT up to ~sf50 (N_k ~ 1e11
# there; N^3 * 1e6 ~ 1e39 is the documented ceiling). The lead window
# is calendar-bounded behind a checkpoint (ljung_box pattern); every
# ratio is division-guarded (ADVICE r10 cvm precedent).
# --------------------------------------------------------------------------

_PACF_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM daily
), led AS (
  SELECT d, x,
         LEAD(x, 1) OVER (ORDER BY d) AS x1,
         LEAD(x, 2) OVER (ORDER BY d) AS x2,
         LEAD(x, 3) OVER (ORDER BY d) AS x3
  FROM daily
), cent AS (
  SELECT CAST(x - (s // n) AS HUGEINT) AS c,
         CAST(x1 - (s // n) AS HUGEINT) AS c1,
         CAST(x2 - (s // n) AS HUGEINT) AS c2,
         CAST(x3 - (s // n) AS HUGEINT) AS c3,
         n
  FROM led CROSS JOIN tot
), m AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         SUM(c * c) AS n0,
         SUM(CASE WHEN c1 IS NULL THEN 0 ELSE c * c1 END) AS n1,
         SUM(CASE WHEN c2 IS NULL THEN 0 ELSE c * c2 END) AS n2,
         SUM(CASE WHEN c3 IS NULL THEN 0 ELSE c * c3 END) AS n3
  FROM cent
)
SELECT n AS n_days,
       CAST(n0 AS BIGINT) AS ss_centered,
       CASE WHEN n0 = 0 THEN 0
            ELSE CAST(n1 * 1000000 // n0 AS BIGINT) END AS pacf1_e6,
       CASE WHEN n0 * n0 - n1 * n1 = 0 THEN 0
            ELSE CAST((n2 * n0 - n1 * n1) * 1000000
                      // (n0 * n0 - n1 * n1) AS BIGINT) END AS pacf2_e6,
       CASE WHEN n0 * n0 * n0 - 2 * n0 * n1 * n1
                 + 2 * n1 * n1 * n2 - n0 * n2 * n2 = 0 THEN 0
            ELSE CAST((n0 * n0 * n3 - 2 * n0 * n1 * n2 - n1 * n1 * n3
                       + n1 * n2 * n2 + n1 * n1 * n1) * 1000000
                      // (n0 * n0 * n0 - 2 * n0 * n1 * n1
                          + 2 * n1 * n1 * n2 - n0 * n2 * n2) AS BIGINT)
       END AS pacf3_e6
FROM m
"""


@query(
    "pacf_daily",
    _PACF_ORACLE,
    "Partial autocorrelation lags 1..3 of the daily order counts via "
    "Durbin-Levinson determinant closed forms on integer floor-mean-"
    "centered autocovariances (x1e6, division-guarded; triple products "
    "on DECIMAL(38,0)/HUGEINT, ljung_box precedent) — the AR-order "
    "diagnostic acf_lag_profile cannot give; calendar-bounded lead "
    "window behind a checkpoint",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_pacf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("d")
    led = checkpoint(daily.select(
        "d",
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in (1, 2, 3)],
    ))  # calendar-bounded series
    tot = led.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dec = "decimal(38,0)"
    cent = led.crossJoin(F.broadcast(tot)).select(
        F.expr(f"CAST(x - (s div n) AS {dec})").alias("c"),
        *[F.expr(f"CAST(x{k} - (s div n) AS {dec})").alias(f"c{k}")
          for k in (1, 2, 3)],
        "n",
    )
    m = cent.groupBy("n").agg(
        F.expr(f"CAST(SUM(c * c) AS {dec})").alias("n0"),
        *[F.expr(
            f"CAST(SUM(CASE WHEN c{k} IS NULL THEN CAST(0 AS {dec}) "
            f"ELSE c * c{k} END) AS {dec})"
          ).alias(f"n{k}") for k in (1, 2, 3)],
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.expr("CAST(n0 AS BIGINT)").alias("ss_centered"),
        F.expr(
            "CASE WHEN n0 = 0 THEN 0 "
            "ELSE CAST(n1 * 1000000 div n0 AS BIGINT) END"
        ).alias("pacf1_e6"),
        F.expr(
            "CASE WHEN n0 * n0 - n1 * n1 = 0 THEN 0 "
            "ELSE CAST((n2 * n0 - n1 * n1) * 1000000 "
            "div (n0 * n0 - n1 * n1) AS BIGINT) END"
        ).alias("pacf2_e6"),
        F.expr(
            "CASE WHEN n0 * n0 * n0 - 2 * n0 * n1 * n1 "
            "+ 2 * n1 * n1 * n2 - n0 * n2 * n2 = 0 THEN 0 "
            "ELSE CAST((n0 * n0 * n3 - 2 * n0 * n1 * n2 - n1 * n1 * n3 "
            "+ n1 * n2 * n2 + n1 * n1 * n1) * 1000000 "
            "div (n0 * n0 * n0 - 2 * n0 * n1 * n1 "
            "+ 2 * n1 * n1 * n2 - n0 * n2 * n2) AS BIGINT) END"
        ).alias("pacf3_e6"),
    )


# --------------------------------------------------------------------------
# Blocked Levenshtein near-name audit over part names. The record-
# linkage primitive: candidate pairs form ONLY inside (p_brand, first
# name token) blocks — a FIXED key domain (~25 x ~30), so the pair
# space is sum-of-block-squares, never corpus². Hot blocks
# above the cap are dropped WITH an in-plan drop count (the simhash
# hot-bucket precedent); blocking recall loss is the documented
# record-linkage tradeoff. Edit distance is the built-in levenshtein
# in BOTH engines — integer-exact, no mirroring hazard. Block sizes
# come from a key-domain-bounded aggregate that broadcasts back.
# Blocks stay under the 512 cap through ~sf1.9 (sf1.0 measured:
# ~267 parts/block, 26.5M in-block comparisons, 0.77 s wall); the
# documented move at larger sf is widening the key (add p_size or
# p_type) — loud in the n_hot_blocks_dropped column, never silent.
# --------------------------------------------------------------------------

_LEV_CAP = 512  # max parts per block admitted to pairing

_LEV_ORACLE = f"""
WITH named AS (
  SELECT p_partkey, p_brand, p_name,
         split_part(p_name, ' ', 1) AS tok0
  FROM part
), sized AS (
  SELECT p_brand, tok0, CAST(COUNT(*) AS BIGINT) AS bs
  FROM named GROUP BY 1, 2
), kept AS (
  SELECT n.p_partkey, n.p_brand, n.tok0, n.p_name
  FROM named n
  JOIN sized s ON s.p_brand = n.p_brand AND s.tok0 = n.tok0
  WHERE s.bs <= {_LEV_CAP}
), scored AS (
  SELECT levenshtein(a.p_name, b.p_name) AS dist
  FROM kept a
  JOIN kept b ON a.p_brand = b.p_brand AND a.tok0 = b.tok0
            AND a.p_partkey < b.p_partkey
), blocks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CASE WHEN bs > {_LEV_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hot_blocks_dropped
  FROM sized
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_pairs,
         CAST(COALESCE(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_exact_name,
         CAST(COALESCE(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_d_le2,
         CAST(COALESCE(SUM(CASE WHEN dist <= 4 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_d_le4,
         CAST(COALESCE(MIN(dist), -1) AS BIGINT) AS min_dist
  FROM scored
)
SELECT b.n_blocks, b.n_hot_blocks_dropped, a.n_cand_pairs,
       a.n_exact_name, a.n_d_le2, a.n_d_le4, a.min_dist
FROM blocks b CROSS JOIN agg a
"""


@query(
    "levenshtein_blocked_pairs",
    _LEV_ORACLE,
    "Record-linkage near-name audit: Levenshtein edit distance (built-"
    "in in both engines, integer-exact) over candidate pairs blocked "
    "by (brand, first name token) — a fixed ~750-block key domain, so "
    "pairs are sum-of-block-squares never corpus²; hot blocks above "
    f"{_LEV_CAP} drop with an in-plan count (simhash precedent)",
    tags=("relational", "dedup", "llm", "bench"),
)
def q_levenshtein_blocked_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    named = checkpoint(part.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok0"),
    ))  # block sizing + pairing both read it
    keys = ["p_brand", "tok0"]
    sized = checkpoint(named.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("bs")
    ))  # block audit + admission filter
    kept = named.join(
        F.broadcast(sized.filter(F.col("bs") <= _LEV_CAP).select(*keys)),
        keys,
        "left_semi",
    )
    a = kept.select(
        *keys,
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
    )
    b = kept.select(
        *keys,
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
    )
    scored = (
        a.join(b, keys)
        .filter(F.col("ka") < F.col("kb"))
        .select(F.levenshtein(F.col("na"), F.col("nb")).alias("dist"))
    )
    blocks = sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.when(F.col("bs") > _LEV_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_blocks_dropped"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_cand_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_exact_name"),
        F.coalesce(
            F.sum(F.when(F.col("dist") <= 2, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_d_le2"),
        F.coalesce(
            F.sum(F.when(F.col("dist") <= 4, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_d_le4"),
        F.coalesce(F.min("dist"), F.lit(-1)).cast("long").alias("min_dist"),
    )
    return blocks.crossJoin(F.broadcast(agg)).select(
        "n_blocks",
        "n_hot_blocks_dropped",
        "n_cand_pairs",
        "n_exact_name",
        "n_d_le2",
        "n_d_le4",
        "min_dist",
    )


# --------------------------------------------------------------------------
# Chao1 species-richness + Good-Turing unseen mass per source (plus the
# pooled 'ALL' row — hapax pattern). Bias-corrected Chao1 is division-
# safe by construction: chao1 = V + F1(F1-1)/(2(F2+1)), F2+1 >= 1.
# Good-Turing P0 = F1/N is the probability the NEXT token is unseen —
# the "is this source exhausted" signal a corpus curator reads next to
# heaps_vocab_growth's rate estimate. One (source, token) count shuffle
# + a token-level re-aggregate, both key-bounded.
# --------------------------------------------------------------------------

from reddit_data_pipeline_engineering_spark.plans.queries_llm import (  # noqa: E402
    _TOKS,
)

_CHAO1_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
), per_src AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), src_stats AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM per_src GROUP BY source
), all_tok AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS c FROM per_src GROUP BY tok
), all_stats AS (
  SELECT 'ALL' AS source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM all_tok
), unioned AS (
  SELECT * FROM src_stats UNION ALL SELECT * FROM all_stats
)
SELECT source, vocab, f1, f2, n_tokens,
       CAST(vocab * 100 + f1 * (f1 - 1) * 100 // (2 * (f2 + 1)) AS BIGINT)
         AS chao1_x100,
       CAST(f1 * 10000 // n_tokens AS BIGINT) AS gt_unseen_bp
FROM unioned ORDER BY source
"""


@query(
    "chao1_vocab_richness",
    _CHAO1_ORACLE,
    "Bias-corrected Chao1 species-richness estimate (x100) + Good-"
    "Turing unseen-probability mass (bp) per source and pooled 'ALL': "
    "how much vocabulary the corpus has NOT yet seen — the curation "
    "companion of hapax_legomena_rate/heaps_vocab_growth; one (source, "
    "token) count shuffle + a token-level re-aggregate, division-safe "
    "by the F2+1 correction",
    tags=("llm", "text", "quality", "bench"),
)
def q_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.text import tokens
    from reddit_data_pipeline_engineering_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(tokens("text")).alias("tok"))
    per_src = checkpoint(toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))  # source rollup + token re-agg
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    src_stats = per_src.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    all_tok = per_src.groupBy("tok").agg(F.sum("c").cast("long").alias("c"))
    all_stats = all_tok.agg(
        F.lit("ALL").alias("source"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        f1.alias("f1"),
        f2.alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return (
        src_stats.unionByName(all_stats)
        .select(
            "source",
            "vocab",
            "f1",
            "f2",
            "n_tokens",
            F.expr(
                "CAST(vocab * 100 + f1 * (f1 - 1) * 100 "
                "div (2 * (f2 + 1)) AS BIGINT)"
            ).alias("chao1_x100"),
            F.expr("CAST(f1 * 10000 div n_tokens AS BIGINT)").alias(
                "gt_unseen_bp"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Temporal-holdout expected calibration error. The epoch-week range
# splits at its midpoint: the EARLY window fits a per-bin propensity
# (bin = early activity RELATIVE to the mean, least(e*4*nu div te, 9)
# — mean lands in bin 4, bounded 0..9 and scale-invariant where a
# fixed count cap saturates and a log2 bucket collapses; conf_b =
# share of bin-b users who purchased early), the LATE window scores it
# (acc_b = share who purchased late). Integer identity: n_b * |conf_b
# - acc_b| = |early_purchasers_b - late_purchasers_b|, so ECE_ppm =
# sum_b |e_b - l_b| * 1e6 div N with zero rationals. Per-bin rows +
# the 'ALL' ECE row. One user-keyed shuffle + a 10-bin rollup; the
# week boundary and the activity mean are broadcast scalars.
# --------------------------------------------------------------------------

_WEEK_US = 604_800_000_000

_ECE_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {_WEEK_US} AS wk
  FROM events
), bounds AS (
  SELECT MIN(wk) AS w0, MAX(wk) AS w1 FROM ev
), tagged AS (
  SELECT e.user_id, e.event_type,
         CASE WHEN e.wk <= (b.w0 + b.w1) // 2 THEN 1 ELSE 0 END AS early
  FROM ev e CROSS JOIN bounds b
), per_user AS (
  SELECT user_id,
         CAST(SUM(early) AS BIGINT) AS ev_early,
         CAST(MAX(CASE WHEN early = 1 AND event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS BIGINT) AS p_early,
         CAST(MAX(CASE WHEN early = 0 AND event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS BIGINT) AS p_late
  FROM tagged GROUP BY user_id
  HAVING SUM(early) > 0
), act AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu,
         CAST(SUM(ev_early) AS BIGINT) AS te
  FROM per_user
), binned AS (
  SELECT lpad(CAST(LEAST(p.ev_early * 4 * a.nu // a.te, 9) AS VARCHAR),
              2, '0') AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(p.p_early) AS BIGINT) AS conf_users,
         CAST(SUM(p.p_late) AS BIGINT) AS acc_users
  FROM per_user p CROSS JOIN act a GROUP BY 1
), unioned AS (
  SELECT bin, n_users, conf_users, acc_users,
         CAST(ABS(conf_users - acc_users) * 1000000 // n_users AS BIGINT)
           AS gap_ppm
  FROM binned
  UNION ALL
  SELECT 'ALL', CAST(SUM(n_users) AS BIGINT),
         CAST(SUM(conf_users) AS BIGINT), CAST(SUM(acc_users) AS BIGINT),
         CAST(SUM(ABS(conf_users - acc_users)) * 1000000
              // SUM(n_users) AS BIGINT)
  FROM binned
)
SELECT bin, n_users, conf_users, acc_users,
       CAST(conf_users * 1000000 // n_users AS BIGINT) AS conf_ppm,
       CAST(acc_users * 1000000 // n_users AS BIGINT) AS acc_ppm,
       gap_ppm
FROM unioned ORDER BY bin
"""


@query(
    "calibration_ece_temporal",
    _ECE_ORACLE,
    "Temporal-holdout expected calibration error: early-half purchase "
    "propensity per activity bin (early event count relative to the "
    "mean, least(e*4*nu div te, 9) — bounded 0..9, scale-invariant) "
    "scored against the late-half purchase rate; "
    "ECE_ppm = sum|early_p - late_p|*1e6 div N rides the integer "
    "identity n_b*|conf-acc| = |e_b - l_b| — calibration governance "
    "lift_by_score_band's ranking audit does not cover; one user "
    "shuffle + a bounded-bin rollup, epoch-week midpoint split",
    tags=("relational", "stats", "audit", "bench"),
)
def q_calibration_ece_temporal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" ts) div {_WEEK_US}"
        ).alias("wk"),
    )
    bounds = ev.agg(
        F.min("wk").alias("w0"), F.max("wk").alias("w1")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "event_type",
        F.expr(
            "CASE WHEN wk <= (w0 + w1) div 2 THEN 1 ELSE 0 END"
        ).alias("early"),
    )
    per_user = checkpoint(
        tagged.groupBy("user_id")
        .agg(
            F.sum("early").cast("long").alias("ev_early"),
            F.max(
                F.when(
                    (F.col("early") == 1)
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("p_early"),
            F.max(
                F.when(
                    (F.col("early") == 0)
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("p_late"),
        )
        .filter(F.col("ev_early") > 0)
    )  # activity scalars + bin rollup
    act = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("ev_early").cast("long").alias("te"),
    )
    binned = checkpoint(
        per_user.crossJoin(F.broadcast(act))
        .groupBy(
            F.expr(
                "lpad(CAST(LEAST(ev_early * 4 * nu div te, 9) AS STRING), "
                "2, '0')"
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("p_early").cast("long").alias("conf_users"),
            F.sum("p_late").cast("long").alias("acc_users"),
        )
    )  # per-bin rows + the ALL fold
    per_bin = binned.select(
        "bin",
        "n_users",
        "conf_users",
        "acc_users",
        F.expr(
            "CAST(ABS(conf_users - acc_users) * 1000000 div n_users "
            "AS BIGINT)"
        ).alias("gap_ppm"),
    )
    all_row = binned.agg(
        F.lit("ALL").alias("bin"),
        F.sum("n_users").cast("long").alias("n_users"),
        F.sum("conf_users").cast("long").alias("conf_users"),
        F.sum("acc_users").cast("long").alias("acc_users"),
        F.expr(
            "CAST(SUM(ABS(conf_users - acc_users)) * 1000000 "
            "div SUM(n_users) AS BIGINT)"
        ).alias("gap_ppm"),
    )
    return (
        per_bin.unionByName(all_row)
        .select(
            "bin",
            "n_users",
            "conf_users",
            "acc_users",
            F.expr(
                "CAST(conf_users * 1000000 div n_users AS BIGINT)"
            ).alias("conf_ppm"),
            F.expr(
                "CAST(acc_users * 1000000 div n_users AS BIGINT)"
            ).alias("acc_ppm"),
            "gap_ppm",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-trend test: does order VALUE rise
# monotonically with the 5-level priority ordinal? Values live on a
# $100 band grid (cents div 10000 — domain-bounded, the skyline/cvm
# waiver class), so each pairwise Mann-Whitney count folds over the
# banded histogram, never over row pairs. Doubled statistic JT2 =
# sum_{i<j} [2*(#less pairs) + (#band-tie pairs)] keeps half-tie
# credits integer; E[JT2] = sum_{i<j} n_i*n_j exactly; z^2 x 1e6 uses
# the standard no-ties variance V = [N^2(2N+3) - sum n_i^2(2n_i+3)]/72
# (ties note in docstring), so z2_e6 = (JT2-M2)^2 * 18e6 div V72.
# Big products ride DECIMAL(38,0)/HUGEINT.
# --------------------------------------------------------------------------

_JT_BAND_CENTS = 10_000  # $100 value bands

_JT_PAIR_TERMS_SQL = (
    "c2 * (2 * l1 + c1) + "
    "c3 * ((2 * l1 + c1) + (2 * l2 + c2)) + "
    "c4 * ((2 * l1 + c1) + (2 * l2 + c2) + (2 * l3 + c3)) + "
    "c5 * ((2 * l1 + c1) + (2 * l2 + c2) + (2 * l3 + c3) + (2 * l4 + c4))"
)

_JT_ORACLE = f"""
WITH cells AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
           // {_JT_BAND_CENTS} AS band,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), grid AS (
  SELECT band,
         CAST(SUM(CASE WHEN pri = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN pri = 2 THEN c ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN pri = 3 THEN c ELSE 0 END) AS BIGINT) AS c3,
         CAST(SUM(CASE WHEN pri = 4 THEN c ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN pri = 5 THEN c ELSE 0 END) AS BIGINT) AS c5
  FROM cells GROUP BY band
), cum AS (
  SELECT band, c1, c2, c3, c4, c5,
         COALESCE(SUM(c1) OVER w, 0) AS l1,
         COALESCE(SUM(c2) OVER w, 0) AS l2,
         COALESCE(SUM(c3) OVER w, 0) AS l3,
         COALESCE(SUM(c4) OVER w, 0) AS l4
  FROM grid
  WINDOW w AS (ORDER BY band
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), tots AS (
  SELECT CAST(SUM(c1) AS HUGEINT) AS n1, CAST(SUM(c2) AS HUGEINT) AS n2,
         CAST(SUM(c3) AS HUGEINT) AS n3, CAST(SUM(c4) AS HUGEINT) AS n4,
         CAST(SUM(c5) AS HUGEINT) AS n5
  FROM grid
), jt AS (
  SELECT CAST(SUM({_JT_PAIR_TERMS_SQL}) AS HUGEINT) AS jt2 FROM cum
), stats AS (
  SELECT jt2,
         n1 + n2 + n3 + n4 + n5 AS n,
         n1 * n2 + n1 * n3 + n1 * n4 + n1 * n5 + n2 * n3 + n2 * n4
           + n2 * n5 + n3 * n4 + n3 * n5 + n4 * n5 AS m2,
         n1, n2, n3, n4, n5
  FROM jt CROSS JOIN tots
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(jt2 AS BIGINT) AS jt2_stat,
       CAST(m2 AS BIGINT) AS jt2_mean,
       CAST((n * n * (2 * n + 3)
             - (n1 * n1 * (2 * n1 + 3) + n2 * n2 * (2 * n2 + 3)
                + n3 * n3 * (2 * n3 + 3) + n4 * n4 * (2 * n4 + 3)
                + n5 * n5 * (2 * n5 + 3))) AS BIGINT) AS v72,
       CASE WHEN n * n * (2 * n + 3)
                 - (n1 * n1 * (2 * n1 + 3) + n2 * n2 * (2 * n2 + 3)
                    + n3 * n3 * (2 * n3 + 3) + n4 * n4 * (2 * n4 + 3)
                    + n5 * n5 * (2 * n5 + 3)) = 0 THEN 0
            ELSE CAST((jt2 - m2) * (jt2 - m2) * 18000000
                      // (n * n * (2 * n + 3)
                          - (n1 * n1 * (2 * n1 + 3)
                             + n2 * n2 * (2 * n2 + 3)
                             + n3 * n3 * (2 * n3 + 3)
                             + n4 * n4 * (2 * n4 + 3)
                             + n5 * n5 * (2 * n5 + 3))) AS BIGINT)
       END AS jt_z2_e6
FROM stats
"""


@query(
    "jt_trend_priority",
    _JT_ORACLE,
    "Jonckheere-Terpstra ordered-trend test of order value across the "
    "5-level priority ordinal on a $100 band grid (domain-bounded "
    "cumulative window, skyline/cvm waiver class): doubled statistic "
    "JT2 keeps half-tie credits integer, E[JT2] = sum n_i*n_j exact, "
    "z^2 x1e6 from the standard /72 variance (no-ties form, banded "
    "ties documented) — the ordered-alternative upgrade of "
    "kruskal_wallis_lengths; big products on DECIMAL(38,0)/HUGEINT",
    tags=("relational", "stats", "bench"),
)
def q_jt_trend_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.expr(
                f"CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
                f" div {_JT_BAND_CENTS}"
            ).alias("band"),
            F.expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "pri"
            ),
        )
        .groupBy("band", "pri")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = checkpoint(
        cells.groupBy("band")
        .agg(
            *[
                F.sum(F.when(F.col("pri") == i, F.col("c")).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i in (1, 2, 3, 4, 5)
            ]
        )
    )  # band-bounded grid: cum + totals
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "band",
        "c1",
        "c2",
        "c3",
        "c4",
        "c5",
        *[
            F.coalesce(F.sum(f"c{i}").over(w), F.lit(0)).alias(f"l{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    dec = "decimal(38,0)"
    jt = cum.agg(
        F.expr(f"CAST(SUM({_JT_PAIR_TERMS_SQL}) AS {dec})").alias("jt2")
    )
    tots = grid.agg(
        *[
            F.expr(f"CAST(SUM(c{i}) AS {dec})").alias(f"n{i}")
            for i in (1, 2, 3, 4, 5)
        ]
    )
    v72_sql = (
        "n * n * (2 * n + 3) - (n1 * n1 * (2 * n1 + 3) "
        "+ n2 * n2 * (2 * n2 + 3) + n3 * n3 * (2 * n3 + 3) "
        "+ n4 * n4 * (2 * n4 + 3) + n5 * n5 * (2 * n5 + 3))"
    )
    stats = (
        jt.crossJoin(F.broadcast(tots))
        .withColumn("n", F.expr("n1 + n2 + n3 + n4 + n5"))
        .withColumn(
            "m2",
            F.expr(
                "n1 * n2 + n1 * n3 + n1 * n4 + n1 * n5 + n2 * n3 "
                "+ n2 * n4 + n2 * n5 + n3 * n4 + n3 * n5 + n4 * n5"
            ),
        )
    )
    return stats.select(
        F.expr("CAST(n AS BIGINT)").alias("n_orders"),
        F.expr("CAST(jt2 AS BIGINT)").alias("jt2_stat"),
        F.expr("CAST(m2 AS BIGINT)").alias("jt2_mean"),
        F.expr(f"CAST({v72_sql} AS BIGINT)").alias("v72"),
        F.expr(
            f"CASE WHEN {v72_sql} = 0 THEN 0 "
            f"ELSE CAST((jt2 - m2) * (jt2 - m2) * 18000000 "
            f"div ({v72_sql}) AS BIGINT) END"
        ).alias("jt_z2_e6"),
    )


# ==========================================================================
# Wave 6: spatial autocorrelation, reliability, variance homogeneity
# ==========================================================================

# --------------------------------------------------------------------------
# Moran's I spatial autocorrelation of per-nation mean order value with
# same-region block weights (w_ij = 1 iff i != j, same region). The
# block structure collapses the double sum to a per-region closed form:
#   sum_{i!=j in r} c_i c_j = (sum_r c)^2 - sum_r c^2
# so NO pairwise join exists — one nation rollup (25 cells) + one
# region fold (5 cells). Scaled centering c_i = x_i*n - S keeps every
# intermediate an integer; I_e6 = n * Num * 1e6 div (W * Den) rides
# DECIMAL(38,0)/HUGEINT; E[I] = -1/(n-1) emitted alongside. The
# geography is the nation->region hierarchy (the only spatial
# structure in the schema) — adjacency-matrix Moran generalizes by
# swapping the weight fold, the plan shape is identical.
# --------------------------------------------------------------------------

_MORAN_ORACLE = """
WITH nat AS (
  SELECT n.n_regionkey AS r,
         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                       AS BIGINT)) // COUNT(*) AS BIGINT) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_nationkey, n.n_regionkey
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
  FROM nat
), cent AS (
  SELECT r, CAST(x AS HUGEINT) * n - s AS c, n FROM nat CROSS JOIN tot
), reg AS (
  SELECT r, SUM(c) AS rc, SUM(c * c) AS rc2,
         CAST(COUNT(*) AS HUGEINT) AS k
  FROM cent GROUP BY r
), folded AS (
  SELECT SUM(rc * rc - rc2) AS num,
         SUM(rc2) AS den,
         SUM(k * (k - 1)) AS w,
         CAST(MAX((SELECT n FROM tot)) AS HUGEINT) AS n
  FROM reg
)
SELECT CAST(n AS BIGINT) AS n_nations,
       CAST(w AS BIGINT) AS w_pairs,
       CASE WHEN w = 0 OR den = 0 THEN 0
            ELSE CAST(n * num * 1000000 // (w * den) AS BIGINT)
       END AS morans_i_e6,
       CAST(-1000000 // (n - 1) AS BIGINT) AS expected_i_e6
FROM folded
"""


@query(
    "morans_i_region",
    _MORAN_ORACLE,
    "Moran's I spatial autocorrelation of per-nation mean order value "
    "under same-region block weights: the (sum c)^2 - sum c^2 closed "
    "form removes the pairwise double sum entirely — one nation rollup "
    "+ one region fold, integers end to end (scaled centering, "
    "DECIMAL(38,0)/HUGEINT), E[I] = -1/(n-1) alongside, division-"
    "guarded",
    tags=("relational", "stats", "bench"),
)
def q_morans_i_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    nat = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_nationkey", F.col("n_regionkey").alias("r"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 "
                "AS BIGINT)) div COUNT(*) AS BIGINT)"
            ).alias("x")
        )
        .select("r", "x")
    )
    tot = nat.agg(
        F.expr(f"CAST(COUNT(*) AS {dec})").alias("n"),
        F.expr(f"CAST(SUM(x) AS {dec})").alias("s"),
    )
    cent = nat.crossJoin(F.broadcast(tot)).select(
        "r", F.expr(f"CAST(x AS {dec}) * n - s").alias("c"), "n"
    )
    reg = cent.groupBy("r").agg(
        F.expr(f"CAST(SUM(c) AS {dec})").alias("rc"),
        F.expr(f"CAST(SUM(c * c) AS {dec})").alias("rc2"),
        F.expr(f"CAST(COUNT(*) AS {dec})").alias("k"),
        F.expr(f"CAST(MAX(n) AS {dec})").alias("n"),
    )
    folded = reg.agg(
        F.expr(f"CAST(SUM(rc * rc - rc2) AS {dec})").alias("num"),
        F.expr(f"CAST(SUM(rc2) AS {dec})").alias("den"),
        F.expr(f"CAST(SUM(k * (k - 1)) AS {dec})").alias("w"),
        F.expr(f"CAST(MAX(n) AS {dec})").alias("n"),
    )
    return folded.select(
        F.expr("CAST(n AS BIGINT)").alias("n_nations"),
        F.expr("CAST(w AS BIGINT)").alias("w_pairs"),
        F.expr(
            "CASE WHEN w = 0 OR den = 0 THEN 0 "
            "ELSE CAST(n * num * 1000000 div (w * den) AS BIGINT) END"
        ).alias("morans_i_e6"),
        F.expr("CAST(-1000000 div (n - 1) AS BIGINT)").alias(
            "expected_i_e6"
        ),
    )


# --------------------------------------------------------------------------
# Cronbach's alpha internal-consistency reliability across the event
# types ("items"), users as subjects, per-user type counts as scores.
# Population variances with cleared denominators stay integer:
#   D_t   = n * sum(x^2) - (sum x)^2      (per item, zeros implicit)
#   D_tot = n * sum(y^2) - (sum y)^2      (per-user total score y)
#   alpha = k/(k-1) * (1 - sum_t D_t / D_tot)
#         = k * (D_tot - sum_t D_t) / ((k-1) * D_tot)     -> x1e6
# Absent (user, type) cells contribute zero to every sum, so the
# sparse (user, type) count relation IS the dense matrix — no pivot,
# no explode. One (user, type) shuffle + a user re-aggregate; k and n
# come from the same relation.
# --------------------------------------------------------------------------

_CRONBACH_ORACLE = """
WITH ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id, event_type
), n_users AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS HUGEINT) AS n FROM ut
), items AS (
  SELECT event_type,
         CAST(SUM(x) AS HUGEINT) AS s,
         CAST(SUM(x * x) AS HUGEINT) AS q
  FROM ut GROUP BY event_type
), item_d AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
         SUM(n * q - s * s) AS sum_d
  FROM items CROSS JOIN n_users
), users AS (
  SELECT user_id, CAST(SUM(x) AS BIGINT) AS y FROM ut GROUP BY user_id
), tot AS (
  SELECT CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qy,
         CAST(SUM(y) AS HUGEINT) AS sy
  FROM users
), d AS (
  SELECT k, sum_d, n * qy - sy * sy AS d_tot, n
  FROM item_d CROSS JOIN tot CROSS JOIN n_users
)
SELECT CAST(k AS BIGINT) AS k_items,
       CAST(n AS BIGINT) AS n_users,
       CAST(sum_d AS BIGINT) AS sum_item_d,
       CAST(d_tot AS BIGINT) AS d_total,
       CASE WHEN d_tot = 0 OR k <= 1 THEN 0
            ELSE CAST(k * (d_tot - sum_d) * 1000000
                      // ((k - 1) * d_tot) AS BIGINT)
       END AS alpha_e6
FROM d
"""


@query(
    "cronbach_alpha_types",
    _CRONBACH_ORACLE,
    "Cronbach's alpha reliability of the event-type 'items' over user "
    "count scores: cleared-denominator population variances (D = "
    "n*sum(x^2) - (sum x)^2) keep alpha = k(D_tot - sum D_t)/"
    "((k-1)D_tot) integer-exact x1e6; the sparse (user, type) relation "
    "IS the dense matrix (absent cells add zero to every sum) — one "
    "(user, type) shuffle + a user re-aggregate, division-guarded",
    tags=("relational", "stats", "bench"),
)
def q_cronbach_alpha_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    ut = checkpoint(ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ))  # item sums + user re-agg + n
    n_users = ut.agg(
        F.expr(f"CAST(COUNT(DISTINCT user_id) AS {dec})").alias("n")
    )
    items = ut.groupBy("event_type").agg(
        F.expr(f"CAST(SUM(x) AS {dec})").alias("s"),
        F.expr(f"CAST(SUM(x * x) AS {dec})").alias("q"),
    )
    item_d = items.crossJoin(F.broadcast(n_users)).agg(
        F.expr(f"CAST(COUNT(*) AS {dec})").alias("k"),
        F.expr(f"CAST(SUM(n * q - s * s) AS {dec})").alias("sum_d"),
    )
    users = ut.groupBy("user_id").agg(
        F.sum("x").cast("long").alias("y")
    )
    tot = users.agg(
        F.expr(f"CAST(SUM(CAST(y AS {dec}) * y) AS {dec})").alias("qy"),
        F.expr(f"CAST(SUM(y) AS {dec})").alias("sy"),
    )
    d = (
        item_d.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n_users))
        .select(
            "k",
            "sum_d",
            F.expr("n * qy - sy * sy").alias("d_tot"),
            "n",
        )
    )
    return d.select(
        F.expr("CAST(k AS BIGINT)").alias("k_items"),
        F.expr("CAST(n AS BIGINT)").alias("n_users"),
        F.expr("CAST(sum_d AS BIGINT)").alias("sum_item_d"),
        F.expr("CAST(d_tot AS BIGINT)").alias("d_total"),
        F.expr(
            "CASE WHEN d_tot = 0 OR k <= 1 THEN 0 "
            "ELSE CAST(k * (d_tot - sum_d) * 1000000 "
            "div ((k - 1) * d_tot) AS BIGINT) END"
        ).alias("alpha_e6"),
    )


# --------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test across the 5 order
# priorities: the robust Levene variant — deviations |band - median_g|
# from each group's LOWER-MEDIAN $10 value band, then the one-way
# ANOVA F over those deviations. Reuses the anova_f_sources device
# verbatim: per-group rational terms truncated to integers at 1e6
# scale (order-independent cross-group sums), GREATEST clamps, final F
# as a mirrored ROUND(double, 6) on identical integers. Group medians
# come from a PRI-KEYED cumulative window over the domain-bounded
# (pri, band) histogram — no global window, no row-level pass: the z
# sums fold over the same ~5 x 6k cell relation. Sums and quotients ride
# DECIMAL(38,0) on the Spark side and HUGEINT in the oracle (the
# ljung_box/cvm device): the 1e6-scaled terms pass 2^63 at sf0.1.
# --------------------------------------------------------------------------

_BF_BAND_CENTS = 1_000  # $10 value bands


def _exact_div(x: str, n: str) -> str:
    """Spark SQL for ``x div n`` over non-negative DECIMAL(38,0) operands,
    typed DECIMAL(38,0) like the oracle's HUGEINT ``//``.

    Spark's ``div`` returns BIGINT, and the 1e6-scaled per-group and
    pooled ``s * s`` quotients pass 2^63 at sf0.1. Taking the remainder
    off first makes the decimal ``/`` exact.
    """
    return f"CAST((({x}) - ({x}) % ({n})) / ({n}) AS decimal(38,0))"


_BF_ORACLE = f"""
WITH cells AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
           // {_BF_BAND_CENTS} AS band,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), cum AS (
  SELECT pri, band, cnt,
         SUM(cnt) OVER (PARTITION BY pri ORDER BY band) AS cumc,
         SUM(cnt) OVER (PARTITION BY pri) AS m
  FROM cells
), med AS (
  SELECT pri, CAST(MIN(CASE WHEN cumc >= (m + 1) // 2 THEN band END)
                   AS BIGINT) AS med_band
  FROM cum GROUP BY pri
), z AS (
  SELECT c.pri, ABS(c.band - md.med_band) AS z, c.cnt
  FROM cells c JOIN med md ON md.pri = c.pri
), g AS (
  SELECT pri,
         CAST(SUM(cnt) AS HUGEINT) AS n,
         CAST(SUM(CAST(cnt AS HUGEINT) * z) AS HUGEINT) AS s,
         CAST(SUM(CAST(cnt AS HUGEINT) * z * z) AS HUGEINT) AS q
  FROM z GROUP BY pri
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
       CAST(nn AS BIGINT) AS n_orders,
       CAST(ssb AS BIGINT) AS ssb_e6,
       CAST(ssw AS BIGINT) AS ssw_e6,
       CASE WHEN ssw = 0 OR nn <= k THEN 0
            ELSE ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                       / (CAST(ssw AS DOUBLE)
                          / CAST(CAST(nn AS BIGINT) - k AS DOUBLE)), 6)
       END AS bf_f_stat
FROM parts
"""


@query(
    "brown_forsythe_var",
    _BF_ORACLE,
    "Brown-Forsythe robust variance-homogeneity test across the 5 "
    "order priorities: |band - group lower median| deviations on the "
    "$10 value grid, then the anova_f_sources device verbatim (per-"
    "group 1e6-truncated rational terms, GREATEST clamps, mirrored "
    "ROUND(double,6) F on identical integers); group medians from a "
    "pri-KEYED cumulative window over the domain-bounded cell "
    "histogram — the variance companion of anova/kruskal",
    tags=("relational", "stats", "bench"),
)
def q_brown_forsythe_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = checkpoint(
        orders.select(
            F.expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "pri"
            ),
            F.expr(
                f"CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
                f" div {_BF_BAND_CENTS}"
            ).alias("band"),
        )
        .groupBy("pri", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )  # median scan + z fold both read it
    w_cum = (
        Window.partitionBy("pri")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("pri")
    cum = cells.select(
        "pri",
        "band",
        F.sum("cnt").over(w_cum).alias("cumc"),
        F.sum("cnt").over(w_all).alias("m"),
    )
    med = cum.groupBy("pri").agg(
        F.min(
            F.when(F.col("cumc") >= F.expr("(m + 1) div 2"), F.col("band"))
        ).cast("long").alias("med_band")
    )
    z = cells.join(F.broadcast(med), "pri").select(
        "pri",
        F.abs(F.col("band") - F.col("med_band")).alias("z"),
        "cnt",
    )
    dec = "decimal(38,0)"
    g = z.groupBy("pri").agg(
        F.expr(f"CAST(SUM(cnt) AS {dec})").alias("n"),
        F.expr(f"CAST(SUM(CAST(cnt AS {dec}) * z) AS {dec})").alias("s"),
        F.expr(f"CAST(SUM(CAST(cnt AS {dec}) * z * z) AS {dec})").alias("q"),
    )
    t = g.select(
        "n", "s", "q", F.expr(_exact_div("s * s * 1000000", "n")).alias("tg")
    )
    agg = t.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("k"),
        F.expr(f"CAST(SUM(n) AS {dec})").alias("nn"),
        F.expr(f"CAST(SUM(s) AS {dec})").alias("ss"),
        F.expr(f"CAST(SUM(q) AS {dec})").alias("qq"),
        F.expr(f"CAST(SUM(tg) AS {dec})").alias("tt"),
    )
    parts = agg.select(
        "k",
        "nn",
        F.expr(
            f"GREATEST(tt - {_exact_div('ss * ss * 1000000', 'nn')}, "
            f"CAST(0 AS {dec}))"
        ).alias("ssb"),
        F.expr(f"GREATEST(qq * 1000000 - tt, CAST(0 AS {dec}))").alias(
            "ssw"
        ),
    )
    return parts.select(
        F.col("k").alias("k_groups"),
        F.expr("CAST(nn AS BIGINT)").alias("n_orders"),
        F.expr("CAST(ssb AS BIGINT)").alias("ssb_e6"),
        F.expr("CAST(ssw AS BIGINT)").alias("ssw_e6"),
        F.expr(
            "CASE WHEN ssw = 0 OR nn <= k THEN 0 "
            "ELSE ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) "
            "/ (CAST(ssw AS DOUBLE) "
            "/ CAST(CAST(nn AS BIGINT) - k AS DOUBLE)), 6) END"
        ).alias("bf_f_stat"),
    )
