"""Round-11 query wave: pipeline-ops + inference shapes.

Six operators extending the engine's training-data-pipeline and
experimentation surface (no reference counterpart — the reference's
only analytics is the Glue projection kernel, SURVEY.md §3.2):

- ``claim_check_manifest`` — the large-payload claim-check pattern
  audit (externalize oversized payloads, keep a digest manifest);
- ``quantile_sketch_merge`` — mergeable deterministic log-bucket rank
  sketch, the batch companion of ``streaming_median_sketch``: per-type
  partial sketches counter-merge into a global sketch (associative, so
  the oracle can bucketize directly);
- ``page_hinkley_drift`` — sequential mean-drift monitor over the
  daily order-count series (Page-Hinkley with integer 1e-6 scaling);
- ``poisson_bootstrap_ci`` — resample-free cluster bootstrap: 19
  deterministic Poisson(1) replicates via md5 thresholds, 90% CI from
  replicate rank statistics (the md5-relabeling permutation-test
  family);
- ``ordinal_logit_proxy`` — cumulative-odds association between the
  order-priority ordinal and a high-value flag (proportional-odds
  audit on bounded cells);
- ``freq_itemset_pairs`` — A-priori frequent brand pairs with
  support/confidence/lift: frequent-1-itemset pruning BEFORE pairing
  (the scale move vs ``copurchase_pairs``' raw pair counts).

Wave 2 (integrity / diagnostics ops):

- ``merkle_partition_diff`` — order-independent XOR partition
  fingerprints, the cross-replica reconciliation primitive;
- ``durbin_watson_daily`` — exact-integer Durbin-Watson autocorrelation
  diagnostic (scaled centering, no rationals);
- ``theil_u_forecast`` — Theil's U² forecast-skill gate (lag-7 vs
  random-walk SSE, identical evaluation window);
- ``ngram_novelty_rate`` — per-source first-occurrence shingle novelty
  (boilerplate/mirror detector, min-aggregate attribution);
- ``srm_check`` — sample-ratio-mismatch chi-square gate on the md5
  A/B arms (precomputed critical value).

Wave 3 (lakehouse / revenue-curve ops): ``cohort_ltv_curve``,
``compaction_bin_plan``, ``storage_layout_advisor``.

Wave 4 (nonparametric inference + vocabulary): ``mood_median_test``,
``ljung_box_daily``, ``hapax_legomena_rate``.

House rules (module contract, same as queries_stats3): every output
column is integer/decimal-exact (no ln/exp/sqrt), ``div``/``//``
truncates toward zero in BOTH engines (re-verified for the negative
Page-Hinkley deviations this round), every aggregate is keyed unless
the input is provably bounded (daily calendar / 19 replicates), and
both expression trees mirror each other operation for operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# Claim-check manifest audit. At 100 TB the multimodal payload column
# cannot travel through every shuffle: payloads above a size threshold
# are externalized to object storage and replaced by a (digest, size)
# claim check; only the manifest moves. This audit is the governance
# query over that manifest: per source, how much was externalized, how
# many distinct digest shards, worst-case payload. One keyed shuffle;
# md5 runs on the (pruned) text column only.
# --------------------------------------------------------------------------

_CLAIM_THRESHOLD = 256  # chars; stand-in for the byte threshold

_CLAIM_ORACLE = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_chars > {_CLAIM_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_external,
       CAST(SUM(CASE WHEN n_chars > {_CLAIM_THRESHOLD} THEN n_chars
                ELSE 0 END) AS BIGINT) AS external_bytes,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(CASE WHEN n_chars > {_CLAIM_THRESHOLD} THEN 1 ELSE 0 END)
            * 10000 // COUNT(*) AS BIGINT) AS external_bp,
       CAST(COUNT(DISTINCT CASE WHEN n_chars > {_CLAIM_THRESHOLD}
                 THEN substr(md5(text), 1, 2) END) AS BIGINT)
         AS digest_shards
FROM documents
GROUP BY source
ORDER BY source
"""


@query(
    "claim_check_manifest",
    _CLAIM_ORACLE,
    "Claim-check pattern audit: payloads above the externalization "
    "threshold are counted into a per-source manifest profile "
    "(externalized rows/bytes, bp rate, distinct 2-hex digest shards, "
    "max payload) — the governance rollup a 100 TB pipeline runs over "
    "its offloaded-payload manifest; one keyed shuffle",
    tags=("relational", "llm", "audit", "bench"),
)
def q_claim_check_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ext = F.col("n_chars") > _CLAIM_THRESHOLD
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(ext, 1).otherwise(0)).cast("long").alias("n_external"),
            F.sum(F.when(ext, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("external_bytes"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.expr(
                f"CAST(SUM(CASE WHEN n_chars > {_CLAIM_THRESHOLD} THEN 1 "
                f"ELSE 0 END) * 10000 div COUNT(*) AS BIGINT)"
            ).alias("external_bp"),
            F.countDistinct(
                F.when(ext, F.substring(F.md5(F.col("text")), 1, 2))
            )
            .cast("long")
            .alias("digest_shards"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Mergeable quantile sketch (batch). Same deterministic dyadic bucket
# as streaming_median_sketch: per event_type a log-bucket histogram of
# the 1e4-quantized values, then the per-type PARTIAL sketches
# counter-merge into the 'ALL' sketch — associativity is the whole
# point (what a 1000-executor tree-aggregate would do), and it is why
# the oracle may bucketize the union directly. Quartile buckets are
# read at ranks ceil(n*q/4); exact counts mean zero rank error at
# bucket granularity. Windows are keyed by event_type (+'ALL' tag).
# --------------------------------------------------------------------------

_DYADIC_LO_SQL = (
    "CASE WHEN {v} < 16 THEN {v} "
    "ELSE ({v} >> (length(bin({v})) - 4)) << (length(bin({v})) - 4) END"
)

_QSKETCH_ORACLE = f"""
WITH vals AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT) AS v4
  FROM events WHERE value IS NOT NULL
), bucketed AS (
  SELECT event_type, {_DYADIC_LO_SQL.format(v="v4")} AS lo,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY 1, 2
), merged AS (
  SELECT event_type, lo, c FROM bucketed
  UNION ALL
  SELECT 'ALL' AS event_type, lo, CAST(SUM(c) AS BIGINT) AS c
  FROM bucketed GROUP BY lo
), ranked AS (
  SELECT event_type, lo, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY lo) AS cumc,
         SUM(c) OVER (PARTITION BY event_type) AS n,
         COUNT(*) OVER (PARTITION BY event_type) AS nbuckets
  FROM merged
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(MAX(nbuckets) AS BIGINT) AS sketch_size,
       CAST(MIN(CASE WHEN cumc >= (n + 3) // 4 THEN lo END) AS BIGINT)
         AS q25_lo,
       CAST(MIN(CASE WHEN cumc >= (n * 2 + 3) // 4 THEN lo END) AS BIGINT)
         AS q50_lo,
       CAST(MIN(CASE WHEN cumc >= (n * 3 + 3) // 4 THEN lo END) AS BIGINT)
         AS q75_lo
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "quantile_sketch_merge",
    _QSKETCH_ORACLE,
    "Mergeable deterministic log-bucket rank sketch (batch form of "
    "streaming_median_sketch): per-event-type partial histograms "
    "counter-merge into the 'ALL' sketch — the tree-aggregate shape a "
    "1000-executor quantile job uses; quartile buckets read at exact "
    "cumulative ranks (zero rank error at bucket granularity, <=12.5% "
    "value width); keyed windows only",
    tags=("relational", "sketch", "approx", "bench"),
)
def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)").alias(
            "v4"
        ),
    )
    lo_expr = F.expr(
        "CASE WHEN v4 < 16 THEN v4 ELSE shiftleft(shiftright(v4, "
        "length(bin(v4)) - 4), length(bin(v4)) - 4) END"
    )
    # two consumers (per-type + merged ALL): materialize the
    # histogram once — it is the sketch, tiny by construction
    bucketed = checkpoint(
        vals.select("event_type", lo_expr.alias("lo"))
        .groupBy("event_type", "lo")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    merged_all = bucketed.groupBy("lo").agg(
        F.sum("c").cast("long").alias("c")
    ).select(F.lit("ALL").alias("event_type"), "lo", "c")
    merged = bucketed.select("event_type", "lo", "c").unionByName(merged_all)
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("lo")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    ranked = merged.select(
        "event_type",
        "lo",
        F.sum("c").over(w_cum).alias("cumc"),
        F.sum("c").over(w_all).alias("n"),
        F.count(F.lit(1)).over(w_all).alias("nbuckets"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_values"),
            F.max("nbuckets").cast("long").alias("sketch_size"),
            F.min(
                F.when(F.col("cumc") >= F.expr("(n + 3) div 4"), F.col("lo"))
            ).cast("long").alias("q25_lo"),
            F.min(
                F.when(
                    F.col("cumc") >= F.expr("(n * 2 + 3) div 4"), F.col("lo")
                )
            ).cast("long").alias("q50_lo"),
            F.min(
                F.when(
                    F.col("cumc") >= F.expr("(n * 3 + 3) div 4"), F.col("lo")
                )
            ).cast("long").alias("q75_lo"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Page-Hinkley sequential mean-drift monitor over the daily order-count
# series. PH_t = sum_{i<=t} (x_i*1e6 - running_mean_i*1e6); an alarm
# fires when PH_t - min_{s<=t} PH_s >= lambda. All integer: the running
# mean is S_i*1e6 div i (trunc-toward-zero in both engines, verified
# for the negative deviations). Global windows sit on the CALENDAR-
# bounded daily relation (~2.4k rows at any sf) — the bollinger/runs-
# test waiver class.
# --------------------------------------------------------------------------

_PH_LAMBDA_E6 = 5_000_000  # 5 average-units of sustained drift

_PH_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), seq AS (
  SELECT d, x,
         ROW_NUMBER() OVER (ORDER BY d) AS t,
         SUM(x) OVER (ORDER BY d) AS s
  FROM daily
), dev AS (
  SELECT d, x, t, CAST(x * 1000000 - (s * 1000000 // t) AS BIGINT) AS dv
  FROM seq
), ph AS (
  SELECT d, t, SUM(dv) OVER (ORDER BY d) AS ph_t
  FROM dev
), gap AS (
  SELECT t, ph_t,
         ph_t - MIN(ph_t) OVER (ORDER BY t) AS gap_t
  FROM ph
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(CASE WHEN t = (SELECT MAX(t) FROM gap) THEN ph_t END)
            AS BIGINT) AS ph_final,
       CAST(MIN(ph_t) AS BIGINT) AS ph_min,
       CAST(MAX(gap_t) AS BIGINT) AS max_gap,
       CAST(SUM(CASE WHEN gap_t >= {_PH_LAMBDA_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarm_days,
       CAST(COALESCE(MIN(CASE WHEN gap_t >= {_PH_LAMBDA_E6} THEN t END), 0)
            AS BIGINT) AS first_alarm_t
FROM gap
"""


@query(
    "page_hinkley_drift",
    _PH_ORACLE,
    "Page-Hinkley sequential mean-drift monitor on the daily order "
    "count: integer 1e-6-scaled deviations from the running mean, "
    "cumulative PH statistic vs its running minimum, alarm threshold "
    "lambda=5e6 — the streaming-drift shape computed batch-exact; "
    "global windows on the calendar-bounded daily relation",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w_seq = Window.orderBy("d")
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    seq = daily.select(
        "d",
        "x",
        F.row_number().over(w_seq).alias("t"),
        F.sum("x").over(w_cum).alias("s"),
    )
    dev = seq.select(
        "d",
        "t",
        F.expr("CAST(x * 1000000 - (s * 1000000 div t) AS BIGINT)").alias(
            "dv"
        ),
    )
    ph = dev.select("d", "t", F.sum("dv").over(w_cum).alias("ph_t"))
    w_tcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    gap = checkpoint(ph.select(
        "t",
        "ph_t",
        (F.col("ph_t") - F.min("ph_t").over(w_tcum)).alias("gap_t"),
    ))  # summary agg + max-t scalar both read it
    last_t = gap.agg(F.max("t").alias("t_last"))
    alarm = F.col("gap_t") >= _PH_LAMBDA_E6
    return gap.crossJoin(F.broadcast(last_t)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max(F.when(F.col("t") == F.col("t_last"), F.col("ph_t")))
        .cast("long")
        .alias("ph_final"),
        F.min("ph_t").cast("long").alias("ph_min"),
        F.max("gap_t").cast("long").alias("max_gap"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_days"),
        F.coalesce(F.min(F.when(alarm, F.col("t"))), F.lit(0))
        .cast("long")
        .alias("first_alarm_t"),
    )


# --------------------------------------------------------------------------
# Deterministic Poisson cluster bootstrap for the mean per-user spend.
# Replicate r reweights each USER by a Poisson(1) draw derived from
# md5(user:r) against the exact cumulative thresholds (1e6-scaled
# e^-1 ladder, constants precomputed — no runtime transcendentals);
# the 90% CI is the 2nd/18th order statistic of the 19 replicate
# means. Resample-free: no data movement beyond one per-user shuffle
# + a 19-group rollup — the md5-relabeling family (permutation_test_ab
# precedent). Rank selection via the 19x19 self-join, not a global
# window.
# --------------------------------------------------------------------------

_POISSON_THRESHOLDS = (367879, 735759, 919699, 981012, 996340)
_N_REPS = 19

_POIS_W_SQL = (
    "CASE WHEN {h} < 367879 THEN 0 WHEN {h} < 735759 THEN 1 "
    "WHEN {h} < 919699 THEN 2 WHEN {h} < 981012 THEN 3 "
    "WHEN {h} < 996340 THEN 4 ELSE 5 END"
)

_BOOT_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT))
              AS BIGINT) AS spend_cents
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
), reps AS (
  SELECT r.range AS r, u.spend_cents,
         ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':' ||
                             CAST(r.range AS VARCHAR)), 1, 8))::BIGINT
           % 1000000 AS h
  FROM per_user u CROSS JOIN range({_N_REPS}) r
), weighted AS (
  SELECT r, spend_cents, {_POIS_W_SQL.format(h="h")} AS w FROM reps
), rep_means AS (
  SELECT r,
         CAST(SUM(w * spend_cents) // NULLIF(SUM(w), 0) AS BIGINT) AS m
  FROM weighted GROUP BY r
), ranked AS (
  SELECT a.r, a.m,
         CAST(SUM(CASE WHEN b.m < a.m OR (b.m = a.m AND b.r <= a.r)
                  THEN 1 ELSE 0 END) AS BIGINT) AS rnk
  FROM rep_means a CROSS JOIN rep_means b
  GROUP BY a.r, a.m
), base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(spend_cents) // COUNT(*) AS BIGINT) AS base_mean_cents
  FROM per_user
)
SELECT base.n_users, CAST({_N_REPS} AS BIGINT) AS n_reps,
       base.base_mean_cents,
       CAST(MIN(CASE WHEN rnk = 2 THEN m END) AS BIGINT) AS ci_lo_cents,
       CAST(MIN(CASE WHEN rnk = {_N_REPS - 1} THEN m END) AS BIGINT)
         AS ci_hi_cents
FROM ranked CROSS JOIN base
GROUP BY base.n_users, base.base_mean_cents
"""


@query(
    "poisson_bootstrap_ci",
    _BOOT_ORACLE,
    "Deterministic Poisson(1) cluster bootstrap: 19 md5-threshold "
    "replicates reweight per-user spend (exact e^-1 ladder constants, "
    "no runtime transcendentals), 90% CI from the 2nd/18th replicate "
    "order statistics via the bounded 19x19 rank join — resample-free "
    "uncertainty for the mean at one user shuffle + a 19-group rollup",
    tags=("relational", "stats", "sampling", "bench"),
)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = checkpoint(
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT)")
            )
            .cast("long")
            .alias("spend_cents")
        )
    )  # replicate explode + base both read it
    reps = per_user.select(
        F.explode(F.sequence(F.lit(0), F.lit(_N_REPS - 1))).alias("r"),
        "user_id",
        "spend_cents",
    ).select(
        "r",
        "spend_cents",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        ).alias("h"),
    )
    weighted = reps.select(
        "r", "spend_cents", F.expr(_POIS_W_SQL.format(h="h")).alias("w")
    )
    rep_means = weighted.groupBy("r").agg(
        F.expr(
            "CAST(SUM(w * spend_cents) div NULLIF(SUM(w), 0) AS BIGINT)"
        ).alias("m")
    )
    a, b = rep_means.alias("a"), rep_means.alias("b")
    ranked = (
        a.join(F.broadcast(b))
        .groupBy(F.col("a.r").alias("r"), F.col("a.m").alias("m"))
        .agg(
            F.sum(
                F.when(
                    (F.col("b.m") < F.col("a.m"))
                    | (
                        (F.col("b.m") == F.col("a.m"))
                        & (F.col("b.r") <= F.col("a.r"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("rnk")
        )
    )
    base = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.expr("CAST(SUM(spend_cents) div COUNT(*) AS BIGINT)").alias(
            "base_mean_cents"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(base))
        .groupBy("n_users", "base_mean_cents")
        .agg(
            F.min(F.when(F.col("rnk") == 2, F.col("m")))
            .cast("long")
            .alias("ci_lo_cents"),
            F.min(F.when(F.col("rnk") == _N_REPS - 1, F.col("m")))
            .cast("long")
            .alias("ci_hi_cents"),
        )
        .select(
            "n_users",
            F.lit(_N_REPS).cast("long").alias("n_reps"),
            "base_mean_cents",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


# --------------------------------------------------------------------------
# Cumulative-odds (proportional-odds proxy) between the order-priority
# ordinal and the high-value flag. For each cut k of the 5-level
# ordinal: odds ratio of landing at-or-below the cut for high- vs
# low-value orders, in ppm. Proportional odds <=> the four ORs are
# roughly constant — the audit a modeler runs before fitting an
# ordinal logit. One shuffle to the 10 (priority x flag) cells; cuts
# expand broadcast-side.
# --------------------------------------------------------------------------

_HIGH_VALUE = "150000.00"

_ORDINAL_ORACLE = f"""
WITH cells AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pri,
         CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >=
                   CAST({_HIGH_VALUE} AS DECIMAL(12,2))
              THEN 1 ELSE 0 END AS hi,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), cuts AS (
  SELECT r.range + 1 AS k FROM range(4) r
), folded AS (
  SELECT c.k,
         CAST(SUM(CASE WHEN hi = 1 AND pri <= k THEN c ELSE 0 END)
              AS BIGINT) AS a_hi_le,
         CAST(SUM(CASE WHEN hi = 1 AND pri > k THEN c ELSE 0 END)
              AS BIGINT) AS b_hi_gt,
         CAST(SUM(CASE WHEN hi = 0 AND pri <= k THEN c ELSE 0 END)
              AS BIGINT) AS c_lo_le,
         CAST(SUM(CASE WHEN hi = 0 AND pri > k THEN c ELSE 0 END)
              AS BIGINT) AS d_lo_gt
  FROM cells CROSS JOIN cuts c
  GROUP BY c.k
)
SELECT k AS cut_k, a_hi_le, b_hi_gt, c_lo_le, d_lo_gt,
       CASE WHEN b_hi_gt = 0 OR c_lo_le = 0 THEN 0
            ELSE CAST(a_hi_le * d_lo_gt * 1000000
                      // (b_hi_gt * c_lo_le) AS BIGINT)
       END AS cum_or_ppm
FROM folded
ORDER BY cut_k
"""


@query(
    "ordinal_logit_proxy",
    _ORDINAL_ORACLE,
    "Proportional-odds audit: cumulative odds ratio (ppm) of the "
    "high-value flag across the four cuts of the 5-level order-"
    "priority ordinal — the pre-fit diagnostic for an ordinal logit; "
    "one shuffle to 10 bounded cells, cuts fold broadcast-side, "
    "division-guarded like the kappa/gamma family",
    tags=("relational", "stats", "bench"),
)
def q_ordinal_logit_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.expr("CAST(substr(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "pri"
            ),
            F.expr(
                f"CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) >= "
                f"CAST({_HIGH_VALUE} AS DECIMAL(12,2)) THEN 1 ELSE 0 END"
            ).alias("hi"),
        )
        .groupBy("pri", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cuts = spark.range(1, 5).select(F.col("id").alias("k"))
    folded = (
        cells.crossJoin(F.broadcast(cuts))
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("hi") == 1) & (F.col("pri") <= F.col("k")),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("a_hi_le"),
            F.sum(
                F.when((F.col("hi") == 1) & (F.col("pri") > F.col("k")),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("b_hi_gt"),
            F.sum(
                F.when((F.col("hi") == 0) & (F.col("pri") <= F.col("k")),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("c_lo_le"),
            F.sum(
                F.when((F.col("hi") == 0) & (F.col("pri") > F.col("k")),
                       F.col("c")).otherwise(0)
            ).cast("long").alias("d_lo_gt"),
        )
    )
    return folded.select(
        F.col("k").alias("cut_k"),
        "a_hi_le",
        "b_hi_gt",
        "c_lo_le",
        "d_lo_gt",
        F.expr(
            "CASE WHEN b_hi_gt = 0 OR c_lo_le = 0 THEN 0 "
            "ELSE CAST(a_hi_le * d_lo_gt * 1000000 "
            "div (b_hi_gt * c_lo_le) AS BIGINT) END"
        ).alias("cum_or_ppm"),
    ).orderBy("cut_k")


# --------------------------------------------------------------------------
# A-priori frequent brand pairs. The scale move vs copurchase_pairs:
# the frequent-1-itemset filter runs BEFORE pairing, so the self-join
# only sees baskets' frequent brands (A-priori downward closure) —
# at 100 TB this is the difference between a bounded pair space and
# corpus². Support threshold is RELATIVE (1% of baskets, ceil), so
# the query is sf-invariant. Confidence/lift in ppm integer-exact.
# --------------------------------------------------------------------------

_ITEMSET_ORACLE = """
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), nb AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
), minsup AS (
  SELECT n_baskets, (n_baskets + 99) // 100 AS ms FROM nb
), freq1 AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS c1
  FROM items GROUP BY p_brand
  HAVING COUNT(*) >= (SELECT ms FROM minsup)
), pruned AS (
  SELECT i.l_orderkey, i.p_brand
  FROM items i JOIN freq1 f ON f.p_brand = i.p_brand
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM pruned a JOIN pruned b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= (SELECT ms FROM minsup)
)
SELECT p.brand_a, p.brand_b, p.c_ab,
       CAST(p.c_ab * 1000000 // fa.c1 AS BIGINT) AS conf_a_to_b_ppm,
       CAST(p.c_ab * nb.n_baskets * 1000000 // (fa.c1 * fb.c1) AS BIGINT)
         AS lift_ppm
FROM pairs p
JOIN freq1 fa ON fa.p_brand = p.brand_a
JOIN freq1 fb ON fb.p_brand = p.brand_b
CROSS JOIN nb
ORDER BY p.c_ab DESC, p.brand_a, p.brand_b
LIMIT 20
"""


@query(
    "freq_itemset_pairs",
    _ITEMSET_ORACLE,
    "A-priori frequent brand pairs with support/confidence/lift (ppm, "
    "integer-exact): frequent-1-itemset pruning BEFORE the basket "
    "self-join (downward closure — the 100 TB move copurchase_pairs' "
    "raw pair count skips), relative 1%-of-baskets support so the "
    "query is sf-invariant; brand dim broadcasts, pairs bounded by "
    "baskets x frequent-brands²",
    tags=("relational", "warehouse", "llm", "bench"),
)
def q_freq_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import topk

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = checkpoint(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )  # basket count + freq1 + pruning
    nb = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    ).withColumn("ms", F.expr("CAST((n_baskets + 99) div 100 AS BIGINT)"))
    freq1 = checkpoint(
        items.groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c1") >= F.col("ms"))
        .select("p_brand", "c1")
    )  # prune + two confidence joins
    pruned = items.join(
        F.broadcast(freq1.select("p_brand")), "p_brand", "left_semi"
    )
    a = pruned.select(
        F.col("l_orderkey"), F.col("p_brand").alias("brand_a")
    )
    b = pruned.select(
        F.col("l_orderkey"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c_ab") >= F.col("ms"))
    )
    fa = freq1.select(
        F.col("p_brand").alias("brand_a"), F.col("c1").alias("c1_a")
    )
    fb = freq1.select(
        F.col("p_brand").alias("brand_b"), F.col("c1").alias("c1_b")
    )
    scored = (
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "c_ab",
            F.expr("CAST(c_ab * 1000000 div c1_a AS BIGINT)").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr(
                "CAST(c_ab * n_baskets * 1000000 div (c1_a * c1_b) "
                "AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return topk.top_k(
        scored,
        [F.col("c_ab").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()],
        20,
    )


# ==========================================================================
# Wave 2: integrity / diagnostics ops
# ==========================================================================

# --------------------------------------------------------------------------
# Merkle-style partition fingerprint. The cross-replica reconciliation
# primitive at 100 TB: per day-partition, an ORDER-INDEPENDENT XOR fold
# of 60-bit row digests — two clusters (or a pre/post-migration pair)
# compare fingerprints per partition and re-sync only the days that
# differ, never re-scanning equal partitions. XOR is commutative/
# associative, so the fold parallelizes with zero coordination and any
# single-row difference flips the fingerprint. One keyed shuffle of
# (day, digest) partials; days are calendar-bounded.
# --------------------------------------------------------------------------

_MERKLE_ORACLE = """
WITH rows_h AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         ('0x' || substr(md5(
            CAST(event_id AS VARCHAR) || '|' ||
            CAST(user_id AS VARCHAR) || '|' || event_type || '|' ||
            CAST(COALESCE(CAST(CAST(value AS DECIMAL(14,4)) * 10000
                               AS BIGINT), -1) AS VARCHAR) || '|' ||
            CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR)
         ), 1, 15))::BIGINT AS h
  FROM events
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS fingerprint
FROM rows_h GROUP BY day ORDER BY day
"""


@query(
    "merkle_partition_diff",
    _MERKLE_ORACLE,
    "Merkle-style per-day-partition fingerprint: order-independent XOR "
    "fold of 60-bit md5 row digests (event_id|user|type|v4|epoch_us) — "
    "the cross-replica reconciliation primitive that lets two clusters "
    "diff 100 TB by comparing one row per partition; one keyed shuffle "
    "of XOR partials, calendar-bounded output",
    tags=("relational", "audit", "warehouse", "bench"),
)
def q_merkle_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eus = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    row_str = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.coalesce(
            F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)"),
            F.lit(-1),
        ).cast("string"),
        eus.cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  h.alias("h"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("CAST(bit_xor(h) AS BIGINT)").alias("fingerprint"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Durbin-Watson autocorrelation diagnostic on the daily order-count
# series. Exact-integer trick: center by the SCALED mean — c_i = x_i*n
# - S is integer, and successive differences collapse to n*(x_i -
# x_{i-1}) — so DW = n²·Σ(Δx)² / Σc² needs no rational arithmetic at
# all; emitted ×1e6 with mirrored truncation. DW≈2 no autocorrelation,
# <2 positive, >2 negative. The lag window runs on the calendar-
# bounded daily relation behind a checkpoint (page_hinkley pattern).
# --------------------------------------------------------------------------

_DW_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM daily
), lagged AS (
  SELECT d, x, LAG(x) OVER (ORDER BY d) AS xp FROM daily
)
SELECT n AS n_days,
       CAST(SUM(CASE WHEN xp IS NULL THEN 0
                ELSE (x - xp) * (x - xp) END) AS BIGINT) AS sse_diff,
       CAST(SUM((x * n - s) * (x * n - s)) // (n * n) AS BIGINT)
         AS ss_centered,
       CAST(SUM(CASE WHEN xp IS NULL THEN 0
                ELSE (x - xp) * (x - xp) END) * n * n * 1000000
            // SUM((x * n - s) * (x * n - s)) AS BIGINT) AS dw_e6
FROM lagged CROSS JOIN tot
GROUP BY n
"""


@query(
    "durbin_watson_daily",
    _DW_ORACLE,
    "Durbin-Watson first-order autocorrelation diagnostic on the daily "
    "order-count series, exact-integer via scaled centering (c_i = "
    "x_i*n - S, so DW = n^2*sum(dx^2)/sum(c^2) with no rationals), "
    "emitted x1e6; the lag window is calendar-bounded (checkpointed, "
    "page_hinkley pattern)",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("d")
    lagged = checkpoint(daily.select(
        "d", "x", F.lag("x").over(w).alias("xp")
    ))  # calendar-bounded series, two readers
    tot = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    return (
        lagged.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN xp IS NULL THEN 0 "
                "ELSE (x - xp) * (x - xp) END) AS BIGINT)"
            ).alias("sse_diff"),
            F.expr(
                "CAST(SUM((x * n - s) * (x * n - s)) div (n * n) AS BIGINT)"
            ).alias("ss_centered"),
            F.expr(
                "CAST(SUM(CASE WHEN xp IS NULL THEN 0 "
                "ELSE (x - xp) * (x - xp) END) * n * n * 1000000 "
                "div SUM((x * n - s) * (x * n - s)) AS BIGINT)"
            ).alias("dw_e6"),
        )
        .select(F.col("n").alias("n_days"), "sse_diff", "ss_centered", "dw_e6")
    )


# --------------------------------------------------------------------------
# Theil's U² forecast-skill ratio: seasonal-naive (lag-7) squared error
# vs the random-walk (lag-1) benchmark, on the daily order counts.
# U² < 1e6 ppm means weekly seasonality genuinely beats persistence —
# the go/no-go gate before shipping seasonal_naive_backtest's forecast.
# Pure integer (squared count differences); evaluation window starts
# where BOTH lags exist so the two SSEs cover identical days.
# --------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), lagged AS (
  SELECT d, x,
         LAG(x, 1) OVER (ORDER BY d) AS x1,
         LAG(x, 7) OVER (ORDER BY d) AS x7,
         ROW_NUMBER() OVER (ORDER BY d) AS t
  FROM daily
), eval AS (
  SELECT * FROM lagged WHERE t >= 8
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM((x - x7) * (x - x7)) AS BIGINT) AS sse_seasonal7,
       CAST(SUM((x - x1) * (x - x1)) AS BIGINT) AS sse_randomwalk,
       CASE WHEN SUM((x - x1) * (x - x1)) = 0 THEN 0
            ELSE CAST(SUM((x - x7) * (x - x7)) * 1000000
                      // SUM((x - x1) * (x - x1)) AS BIGINT)
       END AS theil_u2_ppm
FROM eval
"""


@query(
    "theil_u_forecast",
    _THEIL_ORACLE,
    "Theil's U² forecast-skill ratio (ppm): seasonal-naive lag-7 SSE "
    "over random-walk lag-1 SSE on the daily series, identical "
    "evaluation window for both — the skill gate for "
    "seasonal_naive_backtest; calendar-bounded windows behind a "
    "checkpoint, division-guarded",
    tags=("relational", "timeseries", "bench"),
)
def q_theil_u_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("d")
    lagged = checkpoint(daily.select(
        "d",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 7).over(w).alias("x7"),
        F.row_number().over(w).alias("t"),
    ))  # calendar-bounded series
    return lagged.filter(F.col("t") >= 8).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.expr("CAST(SUM((x - x7) * (x - x7)) AS BIGINT)").alias(
            "sse_seasonal7"
        ),
        F.expr("CAST(SUM((x - x1) * (x - x1)) AS BIGINT)").alias(
            "sse_randomwalk"
        ),
        F.expr(
            "CASE WHEN SUM((x - x1) * (x - x1)) = 0 THEN 0 "
            "ELSE CAST(SUM((x - x7) * (x - x7)) * 1000000 "
            "div SUM((x - x1) * (x - x1)) AS BIGINT) END"
        ).alias("theil_u2_ppm"),
    )


# --------------------------------------------------------------------------
# n-gram novelty rate per source. Corpus-curation signal: what fraction
# of each source's distinct 3-gram shingles appear there FIRST (by
# doc_id order — the ingestion sequence)? Low novelty = the source
# mostly re-states earlier content (boilerplate/mirror); high = fresh
# text worth keeping. First-occurrence attribution is one min-aggregate
# per shingle — no pairwise comparisons, the same bounded-shuffle
# argument as the dedup family.
# --------------------------------------------------------------------------

from reddit_data_pipeline_engineering_spark.plans.queries_llm import (  # noqa: E402
    _sql_shingles,
    _TOKS,
)

_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(list_distinct({_sql_shingles('toks', 3)})) AS shingle
  FROM toks
), firsts AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.source,
       CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_shingle_pairs,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            * 10000 // COUNT(*) AS BIGINT) AS novelty_bp
FROM sh s JOIN firsts f USING (shingle)
GROUP BY s.source
ORDER BY s.source
"""


@query(
    "ngram_novelty_rate",
    _NOVELTY_ORACLE,
    "Per-source 3-gram novelty: fraction of each source's distinct "
    "shingles whose corpus-wide first occurrence (min doc_id) lands in "
    "that source's doc — the boilerplate/mirror detector; map-only "
    "shingling + one shingle-keyed min aggregate + source rollup, no "
    "pairwise work",
    tags=("llm", "text", "dedup", "bench"),
)
def q_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.text import (
        shingles_of,
        tokens,
    )
    from reddit_data_pipeline_engineering_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", "source", tokens("text").alias("__toks"))
    sh = checkpoint(toked.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles_of("__toks", 3))).alias(
            "shingle"
        ),
    ))  # firsts + the join both read it
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "shingle")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_shingle_pairs"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.expr(
                "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) "
                "* 10000 div COUNT(*) AS BIGINT)"
            ).alias("novelty_bp"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) gate for the md5 A/B assignment. The
# first check every experimentation pipeline runs: with a 50/50
# intended split, chi-square(1) = (n_a - n_b)² / (n_a + n_b); flag
# when it exceeds the 0.05 critical value (3.841459, precomputed —
# no runtime distributions). One distinct-user aggregate.
# --------------------------------------------------------------------------

_SRM_CRIT_E6 = 3_841_459  # chi-square(1) 95th percentile x 1e6

_SRM_ORACLE = f"""
WITH arms AS (
  SELECT DISTINCT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM events
), cnt AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b
  FROM arms
)
SELECT n_a + n_b AS n_users, n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) AS BIGINT)
         AS srm_chi2_e6,
       CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                      >= {_SRM_CRIT_E6} THEN 1 ELSE 0 END AS BIGINT)
         AS srm_flag
FROM cnt
"""


@query(
    "srm_check",
    _SRM_ORACLE,
    "Sample-ratio-mismatch gate on the md5 A/B assignment: chi-"
    "square(1) of the arm counts vs the intended 50/50 split (x1e6, "
    "precomputed 3.841459 critical value — no runtime distributions); "
    "the first-line experiment health check, one distinct-user "
    "aggregate",
    tags=("relational", "stats", "audit", "bench"),
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    ev = load_table(spark, sf_dir, "events")
    arms = ev.select(
        "user_id",
        F.when(md5_bucket("user_id", 2) == 0, 1).otherwise(0).alias("is_a"),
    ).distinct()
    cnt = arms.agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
    )
    return cnt.select(
        (F.col("n_a") + F.col("n_b")).alias("n_users"),
        "n_a",
        "n_b",
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b) "
            "AS BIGINT)"
        ).alias("srm_chi2_e6"),
        F.expr(
            f"CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000000 "
            f"div (n_a + n_b) >= {_SRM_CRIT_E6} THEN 1 ELSE 0 END "
            f"AS BIGINT)"
        ).alias("srm_flag"),
    )




# ==========================================================================
# Wave 3: lakehouse / revenue-curve ops
# ==========================================================================

# --------------------------------------------------------------------------
# Cohort LTV curve. Users are cohorted by the epoch-week of their first
# event; purchase revenue accumulates per (cohort_week, age_week) with
# a cohort-keyed running sum — the standard lifetime-value staircase.
# Weeks are epoch-aligned integers (eus div 604800e6), so both engines
# bucket identically with zero timezone hazards. Output is bounded by
# weeks² regardless of row count.
# --------------------------------------------------------------------------

_WEEK_US = 604_800_000_000

_LTV_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents,
         epoch_us(CAST(ts AS TIMESTAMP)) // {_WEEK_US} AS wk
  FROM events
), cohort AS (
  SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
), sizes AS (
  SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM cohort GROUP BY cohort_wk
), rev AS (
  SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
         CAST(SUM(e.cents) AS BIGINT) AS rev_cents
  FROM ev e JOIN cohort c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.cents IS NOT NULL
  GROUP BY 1, 2
), curve AS (
  SELECT cohort_wk, age_wk, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk)
              AS BIGINT) AS cum_rev_cents
  FROM rev
)
SELECT cv.cohort_wk - (SELECT MIN(cohort_wk) FROM cohort) AS cohort_idx,
       cv.age_wk, s.n_users, cv.rev_cents, cv.cum_rev_cents,
       CAST(cv.cum_rev_cents // s.n_users AS BIGINT) AS ltv_per_user_cents
FROM curve cv JOIN sizes s ON s.cohort_wk = cv.cohort_wk
ORDER BY cohort_idx, cv.age_wk
"""


@query(
    "cohort_ltv_curve",
    _LTV_ORACLE,
    "Cohort lifetime-value staircase: epoch-week cohorts (integer eus "
    "div week — timezone-proof), purchase cents per (cohort, age) "
    "with a cohort-keyed running sum and per-user LTV; output bounded "
    "by weeks² whatever the row count; one user-keyed cohort pass + "
    "one (cohort, age) rollup",
    tags=("relational", "warehouse", "window", "bench"),
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = checkpoint(load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" ts) div {_WEEK_US}"
        ).alias("wk"),
    ))  # cohort pass + revenue pass
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cohort = checkpoint(cohort)  # sizes + join + min
    sizes = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("cents").isNotNull()
        )
        .join(cohort, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk")
        )
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    w_cum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = rev.select(
        "cohort_wk",
        "age_wk",
        "rev_cents",
        F.sum("rev_cents").over(w_cum).cast("long").alias("cum_rev_cents"),
    )
    wk0 = cohort.agg(F.min("cohort_wk").alias("wk0"))
    return (
        curve.join(F.broadcast(sizes), "cohort_wk")
        .crossJoin(F.broadcast(wk0))
        .select(
            (F.col("cohort_wk") - F.col("wk0")).alias("cohort_idx"),
            "age_wk",
            "n_users",
            "rev_cents",
            "cum_rev_cents",
            F.expr("CAST(cum_rev_cents div n_users AS BIGINT)").alias(
                "ltv_per_user_cents"
            ),
        )
        .orderBy("cohort_idx", "age_wk")
    )


# --------------------------------------------------------------------------
# Compaction bin plan. The small-file problem at 100 TB: plan which
# documents co-locate into target-sized output files via a cumulative-
# sum bin assignment (deterministic, order = doc_id — no greedy
# sequential fold, so it parallelizes as one keyed window). Emitted as
# the per-source compaction AUDIT (bins, underfull bins, tail fill) —
# bounded by sources — never the per-bin listing.
# --------------------------------------------------------------------------

_BIN_TARGET = 16_384  # bytes per output file (scaled for the fixture)

_COMPACTION_ORACLE = f"""
WITH sized AS (
  SELECT source, doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM documents
), binned AS (
  SELECT source, doc_id, n_chars,
         cum_before // {_BIN_TARGET} AS bin_id
  FROM sized
), bins AS (
  SELECT source, bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS bytes,
         CAST(SUM(n_chars) * 10000 // {_BIN_TARGET} AS BIGINT) AS fill_bp,
         MAX(bin_id) OVER (PARTITION BY source) AS last_bin
  FROM binned GROUP BY source, bin_id
)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(CASE WHEN fill_bp < 8000 AND bin_id < last_bin
                THEN 1 ELSE 0 END) AS BIGINT) AS underfull_bins,
       CAST(MAX(CASE WHEN bin_id = last_bin THEN fill_bp END) AS BIGINT)
         AS tail_fill_bp
FROM bins
GROUP BY source
ORDER BY source
"""


@query(
    "compaction_bin_plan",
    _COMPACTION_ORACLE,
    "Small-file compaction planner: deterministic cumulative-sum bin "
    "assignment to target-sized output files (one source-keyed window, "
    "no sequential greedy fold), audited per source as bins/underfull/"
    "tail-fill — the lakehouse OPTIMIZE planning pass, output bounded "
    "by sources",
    tags=("relational", "warehouse", "layout", "bench"),
)
def q_compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.select(
        "source",
        "n_chars",
        F.expr(
            f"CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY source "
            f"ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            f"1 PRECEDING), 0) div {_BIN_TARGET} AS BIGINT)"
        ).alias("bin_id"),
    )
    w_src = Window.partitionBy("source")
    bins = (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bytes"),
            F.expr(
                f"CAST(SUM(n_chars) * 10000 div {_BIN_TARGET} AS BIGINT)"
            ).alias("fill_bp"),
        )
        .withColumn("last_bin", F.max("bin_id").over(w_src))
    )
    return (
        bins.groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum(
                F.when(
                    (F.col("fill_bp") < 8000)
                    & (F.col("bin_id") < F.col("last_bin")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("underfull_bins"),
            F.max(
                F.when(F.col("bin_id") == F.col("last_bin"),
                       F.col("fill_bp"))
            ).cast("long").alias("tail_fill_bp"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Storage layout advisor. Per column: exact distinct cardinality, the
# dictionary-encoding call (distinct share < 5%), and Bloom-filter
# sizing for 1% FPP (bits = n_distinct * 9.585, the public formula
# -n·ln(p)/ln(2)² with the constant PRECOMPUTED ×1e3 — no runtime
# transcendentals, the bh_fdr ladder precedent). The advisory pass a
# table-format optimizer runs before choosing encodings.
# --------------------------------------------------------------------------

_BLOOM_BITS_PER_KEY_E3 = 9_585  # -ln(0.01)/ln(2)^2 x 1e3, precomputed

_ADVISOR_ORACLE = f"""
WITH stats AS (
  SELECT 'event_type' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct
  FROM events
  UNION ALL
  SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
  UNION ALL
  SELECT 'event_id', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events
)
SELECT col_name, n_rows, n_distinct,
       CAST(n_distinct * 10000 // n_rows AS BIGINT) AS distinct_bp,
       CAST(CASE WHEN n_distinct * 10000 // n_rows < 500
            THEN 1 ELSE 0 END AS BIGINT) AS dict_recommended,
       CAST(n_distinct * {_BLOOM_BITS_PER_KEY_E3} // 1000 AS BIGINT)
         AS bloom_bits_1pct
FROM stats ORDER BY col_name
"""


@query(
    "storage_layout_advisor",
    _ADVISOR_ORACLE,
    "Storage layout advisor: per-column exact cardinality, dictionary-"
    "encoding recommendation (distinct share < 5%), and 1%-FPP Bloom "
    "sizing from the precomputed 9.585 bits/key constant (no runtime "
    "transcendentals) — the encoding-selection pass of a table-format "
    "optimizer; three count-distinct aggregates unioned",
    tags=("relational", "warehouse", "layout", "audit", "bench"),
)
def q_storage_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = checkpoint(load_table(spark, sf_dir, "events"))

    def col_stats(col: str):
        return ev.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
        )

    stats = (
        col_stats("event_type")
        .unionByName(col_stats("user_id"))
        .unionByName(col_stats("event_id"))
    )
    return stats.select(
        "col_name",
        "n_rows",
        "n_distinct",
        F.expr("CAST(n_distinct * 10000 div n_rows AS BIGINT)").alias(
            "distinct_bp"
        ),
        F.expr(
            "CAST(CASE WHEN n_distinct * 10000 div n_rows < 500 "
            "THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("dict_recommended"),
        F.expr(
            f"CAST(n_distinct * {_BLOOM_BITS_PER_KEY_E3} div 1000 "
            f"AS BIGINT)"
        ).alias("bloom_bits_1pct"),
    ).orderBy("col_name")


# ==========================================================================
# Wave 4: nonparametric inference + corpus vocabulary
# ==========================================================================

# --------------------------------------------------------------------------
# Mood's median test between the md5 A/B arms' purchase values: find
# the POOLED lower median on the cents grid (value-domain-bounded
# histogram — the cvm/skyline waiver class), classify each arm above /
# at-or-below it, and form the 2x2 chi-square (x1e6). The rank-based
# scale-free companion to ab_conversion_ztest: one histogram shuffle,
# one bounded cumulative window, division-guarded. The chi-square's
# numerator and denominator grow with the purchase count (the numerator
# passes 2^63 at sf0.1, the four-count denominator near sf1), so they
# ride DECIMAL(38,0) on the Spark side and HUGEINT in the oracle (the
# ljung_box/cvm device).
# --------------------------------------------------------------------------

_MOOD_ORACLE = """
WITH purch AS (
  SELECT CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), hist AS (
  SELECT cents,
         CAST(SUM(is_a) AS BIGINT) AS ca,
         CAST(SUM(1 - is_a) AS BIGINT) AS cb
  FROM purch GROUP BY cents
), cum AS (
  SELECT cents, ca, cb,
         SUM(ca + cb) OVER (ORDER BY cents) AS cumn,
         SUM(ca + cb) OVER () AS n
  FROM hist
), med AS (
  SELECT CAST(MIN(CASE WHEN cumn >= (n + 1) // 2 THEN cents END)
              AS BIGINT) AS med_cents
  FROM cum
), cells AS (
  SELECT CAST(SUM(CASE WHEN h.cents > m.med_cents THEN ca ELSE 0 END)
              AS BIGINT) AS a_above,
         CAST(SUM(CASE WHEN h.cents > m.med_cents THEN cb ELSE 0 END)
              AS BIGINT) AS b_above,
         CAST(SUM(CASE WHEN h.cents <= m.med_cents THEN ca ELSE 0 END)
              AS BIGINT) AS a_below,
         CAST(SUM(CASE WHEN h.cents <= m.med_cents THEN cb ELSE 0 END)
              AS BIGINT) AS b_below,
         CAST(MIN(m.med_cents) AS BIGINT) AS med_cents
  FROM hist h CROSS JOIN med m
)
SELECT a_above + a_below AS n_a, b_above + b_below AS n_b, med_cents,
       a_above, b_above,
       CASE WHEN (a_above + b_above) = 0 OR (a_below + b_below) = 0
              OR (a_above + a_below) = 0 OR (b_above + b_below) = 0 THEN 0
            ELSE CAST(CAST(a_above + a_below + b_above + b_below AS HUGEINT)
                      * (a_above * b_below - b_above * a_below)
                      * (a_above * b_below - b_above * a_below) * 1000000
                      // (CAST(a_above + b_above AS HUGEINT)
                          * (a_below + b_below)
                          * (a_above + a_below) * (b_above + b_below))
                 AS BIGINT)
       END AS mood_chi2_e6
FROM cells
"""


@query(
    "mood_median_test",
    _MOOD_ORACLE,
    "Mood's median test between md5 A/B arms: pooled lower median off "
    "the cents-grid histogram (value-domain-bounded cumulative window, "
    "cvm waiver class), 2x2 above/at-or-below chi-square x1e6 — the "
    "rank-based scale-free companion to ab_conversion_ztest; one "
    "histogram shuffle, division-guarded",
    tags=("relational", "stats", "bench"),
)
def q_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cb"),
    ))  # median scan + cell fold both read it
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = hist.select(
        "cents",
        F.sum(F.col("ca") + F.col("cb")).over(w_cum).alias("cumn"),
        F.sum(F.col("ca") + F.col("cb")).over(w_all).alias("n"),
    )
    med = cum.agg(
        F.min(
            F.when(F.col("cumn") >= F.expr("(n + 1) div 2"), F.col("cents"))
        ).cast("long").alias("med_cents")
    )
    cells = hist.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when(F.col("cents") > F.col("med_cents"), F.col("ca"))
              .otherwise(0)).cast("long").alias("a_above"),
        F.sum(F.when(F.col("cents") > F.col("med_cents"), F.col("cb"))
              .otherwise(0)).cast("long").alias("b_above"),
        F.sum(F.when(F.col("cents") <= F.col("med_cents"), F.col("ca"))
              .otherwise(0)).cast("long").alias("a_below"),
        F.sum(F.when(F.col("cents") <= F.col("med_cents"), F.col("cb"))
              .otherwise(0)).cast("long").alias("b_below"),
        F.min("med_cents").cast("long").alias("med_cents"),
    )
    return cells.select(
        (F.col("a_above") + F.col("a_below")).alias("n_a"),
        (F.col("b_above") + F.col("b_below")).alias("n_b"),
        "med_cents",
        "a_above",
        "b_above",
        F.expr(
            "CASE WHEN (a_above + b_above) = 0 OR (a_below + b_below) = 0 "
            "OR (a_above + a_below) = 0 OR (b_above + b_below) = 0 THEN 0 "
            "ELSE CAST(CAST(a_above + a_below + b_above + b_below "
            "AS decimal(38,0)) "
            "* (a_above * b_below - b_above * a_below) "
            "* (a_above * b_below - b_above * a_below) * 1000000 "
            "div (CAST(a_above + b_above AS decimal(38,0)) "
            "* (a_below + b_below) "
            "* (a_above + a_below) * (b_above + b_below)) AS BIGINT) END"
        ).alias("mood_chi2_e6"),
    )


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test (lags 1..7) on the daily order counts —
# the multi-lag generalization of durbin_watson_daily. Exact-integer
# scheme: scaled centering c_i = x_i*n - S keeps every autocovariance
# N_k = sum(c_i * c_{i+k}) an integer; Q*1e6 sums the per-lag terms
# n(n+2)*N_k^2*1e6 div ((n-k)*D^2) with truncation mirrored per term.
# The big products ride DECIMAL(38,0) on the Spark side and HUGEINT in
# the oracle (the cvm precedent); the lead window is calendar-bounded
# behind a checkpoint.
# --------------------------------------------------------------------------

_LB_LAGS = 7

_LB_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM daily
), led AS (
  SELECT d, x,
         {", ".join(f"LEAD(x, {k}) OVER (ORDER BY d) AS x{k}"
                    for k in range(1, _LB_LAGS + 1))}
  FROM daily
), cent AS (
  SELECT CAST(x * n - s AS HUGEINT) AS c,
         {", ".join(f"CAST(x{k} * n - s AS HUGEINT) AS c{k}"
                    for k in range(1, _LB_LAGS + 1))},
         n
  FROM led CROSS JOIN tot
), moments AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         SUM(c * c) AS d,
         {", ".join(f"SUM(CASE WHEN c{k} IS NULL THEN 0 ELSE c * c{k} END)"
                    f" AS n{k}" for k in range(1, _LB_LAGS + 1))}
  FROM cent
)
SELECT n AS n_days,
       CAST(d AS BIGINT) AS ss_scaled,
       {" + ".join(
           f"CAST(CAST(n AS HUGEINT) * (n + 2) * n{k} * n{k} * 1000000 "
           f"// (CAST(n - {k} AS HUGEINT) * d * d) AS BIGINT)"
           for k in range(1, _LB_LAGS + 1))}
         AS ljung_box_q_e6
FROM moments
"""


@query(
    "ljung_box_daily",
    _LB_ORACLE,
    "Ljung-Box portmanteau autocorrelation test (lags 1..7) on the "
    "daily order counts: integer autocovariances via scaled centering "
    "(c_i = x_i*n - S), per-lag Q terms truncation-mirrored, products "
    "on DECIMAL(38,0)/HUGEINT (cvm precedent) — the multi-lag "
    "companion to durbin_watson_daily; calendar-bounded lead window "
    "behind a checkpoint",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.orderBy("d")
    led = checkpoint(daily.select(
        "d",
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}")
          for k in range(1, _LB_LAGS + 1)],
    ))  # calendar-bounded series
    tot = led.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dec = "decimal(38,0)"
    cent = led.crossJoin(F.broadcast(tot)).select(
        F.expr(f"CAST(x * n - s AS {dec})").alias("c"),
        *[F.expr(f"CAST(x{k} * n - s AS {dec})").alias(f"c{k}")
          for k in range(1, _LB_LAGS + 1)],
        "n",
    )
    moments = cent.groupBy("n").agg(
        F.expr(f"CAST(SUM(c * c) AS {dec})").alias("d"),
        *[F.expr(
            f"CAST(SUM(CASE WHEN c{k} IS NULL THEN CAST(0 AS {dec}) "
            f"ELSE c * c{k} END) AS {dec})"
          ).alias(f"n{k}") for k in range(1, _LB_LAGS + 1)],
    )
    term = (
        "CAST(CAST(n AS decimal(38,0)) * (n + 2) * n{k} * n{k} * 1000000 "
        "div (CAST(n - {k} AS decimal(38,0)) * d * d) AS BIGINT)"
    )
    q_expr = " + ".join(term.format(k=k) for k in range(1, _LB_LAGS + 1))
    return moments.select(
        F.col("n").alias("n_days"),
        F.expr("CAST(d AS BIGINT)").alias("ss_scaled"),
        F.expr(q_expr).alias("ljung_box_q_e6"),
    )




# --------------------------------------------------------------------------
# Hapax legomena rate per source (+ the corpus-wide 'ALL' row, whose
# token counts pool across sources — a token hapax within one source
# may not be hapax corpus-wide). The vocabulary-freshness signal the
# Heaps-law query summarizes in aggregate: a high hapax share means
# productive vocabulary, a low one means template/boilerplate text.
# One (source, token) count shuffle + a token-level re-aggregate.
# --------------------------------------------------------------------------

_HAPAX_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest({{toks}}) AS tok FROM documents
), per_src AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), src_stats AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM per_src GROUP BY source
), all_tok AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS c FROM per_src GROUP BY tok
), all_stats AS (
  SELECT 'ALL' AS source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM all_tok
), unioned AS (
  SELECT * FROM src_stats UNION ALL SELECT * FROM all_stats
)
SELECT source, vocab, hapax, n_tokens,
       CAST(hapax * 10000 // vocab AS BIGINT) AS hapax_bp
FROM unioned ORDER BY source
"""


@query(
    "hapax_legomena_rate",
    _HAPAX_ORACLE.format(toks=_TOKS),
    "Hapax legomena share per source plus the pooled 'ALL' row (a "
    "within-source hapax may repeat corpus-wide): vocabulary "
    "freshness vs boilerplate signal complementing heaps_vocab_growth; "
    "one (source, token) count shuffle + a token-level re-aggregate, "
    "both key-bounded",
    tags=("llm", "text", "quality", "bench"),
)
def q_hapax_legomena_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.text import tokens
    from reddit_data_pipeline_engineering_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    per_src = checkpoint(toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ))  # source rollup + token re-agg
    src_stats = per_src.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long").alias("hapax"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    all_tok = per_src.groupBy("tok").agg(F.sum("c").cast("long").alias("c"))
    all_stats = all_tok.agg(
        F.lit("ALL").alias("source"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long").alias("hapax"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return (
        src_stats.unionByName(all_stats)
        .select(
            "source", "vocab", "hapax", "n_tokens",
            F.expr("CAST(hapax * 10000 div vocab AS BIGINT)").alias(
                "hapax_bp"
            ),
        )
        .orderBy("source")
    )
