"""Sequential / order-dependent analytics: Pareto skyline, batch CUSUM
drift detection, and sweep-line peak concurrency.

Round-5 additions. Each operator has semantics that a naive translation
would make quadratic or inherently serial; all three are re-expressed as
window compositions with integer-exact arithmetic so the DuckDB oracle
hashes bit-for-bit:

- ``skyline_pareto``: 2-D dominance (skyline) query — O(n^2) as the
  textbook NOT EXISTS anti-join — done in O(n log n) as sort + running
  max, after collapsing to distinct value points.
- ``event_rate_cusum``: the one-sided CUSUM recurrence
  ``s_i = max(0, s_{i-1} + x_i - k)`` looks inherently sequential, but
  has the closed form ``s_i = S_i - min(0, min_{j<=i} S_j)`` over prefix
  sums S — two ordered windows. (Page 1954's CUSUM; the closed form is
  the standard max-drawdown identity.)
- ``peak_concurrency``: max concurrently-open intervals via the
  sweep-line +1/-1 trick — union of start/end points, one running sum.

The batch CUSUM complements the streaming variant
(``streaming_cusum_drift``, streaming/drift.py) the way marts_kernel
pairs with streaming_marts_kernel: same statistic, batch closed form vs
incremental state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table


def _daily_type_counts(ev: DataFrame) -> DataFrame:
    """(event_type, day, n) daily counts — the shared series behind the
    drift trio (event_rate_cusum / seasonal_dow_anomalies /
    cusum_changepoint): one definition so the three complementary
    detectors always score the same series."""
    return ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _conversion_durations(
    spark: SparkSession, sf_dir: str, extra_cols: dict | None = None
) -> DataFrame:
    """Signup-to-next-purchase durations in whole hours, right-censored
    at 72 (the shared construction behind kaplan_meier_conversion and
    logrank_ab_survival — the KM curve and the log-rank test must
    describe the SAME durations). ``extra_cols`` maps output name ->
    signup-side Column to project through (e.g. an A/B arm)."""
    from reddit_data_pipeline_engineering_spark.operators.asof import asof_join
    from reddit_data_pipeline_engineering_spark.operators.dedup import (
        window_dedup,
    )

    extra_cols = extra_cols or {}
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "event_id",
        *[c.alias(n) for n, c in extra_cols.items()],
    )
    purchases = window_dedup(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        ),
        ["user_id", "ts"],
        ["event_id"],
        keep="first",
    )
    j = asof_join(
        signups,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=("event_id",),
        suffix="_np",
        direction="forward",
    )
    dur = (
        F.when(F.col("ts_np").isNull(), F.lit(72))
        .otherwise(
            F.least(
                F.lit(72),
                F.expr("timestampdiff(MICROSECOND, ts, ts_np) div 3600000000"),
            )
        )
        .cast("long")
        .alias("t")
    )
    return checkpoint(j.select(*extra_cols.keys(), dur))

# --------------------------------------------------------------------------
# Pareto skyline over part: minimize price, maximize size. A part point
# is dominated iff another point has price <= AND size >= with at least
# one strict. Plan: collapse to distinct (price, size) points with
# counts (bounded by the value domain, not the row count — the 100 TB
# guard), keep only the max size per price, then one pass ordered by
# price keeping points whose size exceeds the running max of all
# strictly cheaper prices. For unbounded value domains the same operator
# composes hierarchically via skyline(A ∪ B) = skyline(skyline(A) ∪
# skyline(B)) — partition-local skylines first, then this plan on their
# union.
# --------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS size,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
), best AS (
  SELECT price, size, n_parts FROM (
    SELECT pts.*, MAX(size) OVER (PARTITION BY price) AS mx FROM pts
  ) WHERE size = mx
), sky AS (
  SELECT price, size, n_parts,
         MAX(size) OVER (ORDER BY price
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev_max
  FROM best
)
SELECT price, size, n_parts FROM sky
WHERE prev_max IS NULL OR size > prev_max
ORDER BY price
"""


@query(
    "skyline_pareto",
    _SKYLINE_ORACLE,
    "2-D Pareto skyline (min price, max size) in O(n log n): distinct "
    "value points -> per-price max -> running-max dominance pass; "
    "composes hierarchically via skyline-of-skylines for scale-out",
    tags=("relational", "window", "bench"),
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    pts = (
        part.groupBy(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    # Per price keep the max size (everything else at that price is
    # dominated by it).
    w_price = Window.partitionBy("price")
    best = (
        pts.withColumn("mx", F.max("size").over(w_price))
        .filter(F.col("size") == F.col("mx"))
        .drop("mx")
    )
    # One row per distinct price now: a ROWS frame ending 1 preceding is
    # exactly "all strictly cheaper prices". Global window over the
    # distinct-price set (bounded), not the raw rows.
    w_sky = (
        Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        best.withColumn("prev_max", F.max("size").over(w_sky))
        .filter(F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
        .select("price", "size", "n_parts")
        .orderBy("price")
    )


# --------------------------------------------------------------------------
# Batch CUSUM over daily event rates, per event type. Reference level k
# = the type's mean daily count; to keep the oracle hash exact we scale
# by n_days so every term is integer: dev_i = n_i*D - total (= D*(x_i -
# k)), S = integer prefix sum, cusum_num = S - min(0, running min S)
# (= D * CUSUM). Alarm when CUSUM exceeds 5 events of cumulative excess
# (cusum_num > 5*D). All-window plan: one keyed aggregate then three
# windows sharing the event_type partitioning.
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT *, SUM(n) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
), pre AS (
  SELECT *, SUM(n * n_days - total) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM tot
), run AS (
  SELECT *, MIN(s) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM pre
)
SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
       CAST(s - LEAST(0, runmin) AS BIGINT) AS cusum_num,
       (s - LEAST(0, runmin)) > 5 * n_days AS alarm
FROM run ORDER BY event_type, day
"""


@query(
    "event_rate_cusum",
    _CUSUM_ORACLE,
    "Batch one-sided CUSUM drift detection on daily event rates via the "
    "prefix-sum closed form s_i = S_i - min(0, min_j<=i S_j) — the "
    "'inherently sequential' recurrence as two ordered windows, integer-"
    "exact (scaled by n_days); batch twin of streaming_cusum_drift",
    tags=("relational", "window", "stats", "bench"),
)
def q_event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_type_counts(ev)
    w_t = Window.partitionBy("event_type")
    w_o = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = daily.withColumn("total", F.sum("n").over(w_t)).withColumn(
        "n_days", F.count(F.lit(1)).over(w_t)
    )
    pre = tot.withColumn(
        "s", F.sum(F.col("n") * F.col("n_days") - F.col("total")).over(w_o)
    )
    run = pre.withColumn("runmin", F.min("s").over(w_o))
    cusum = F.col("s") - F.least(F.lit(0).cast("long"), F.col("runmin"))
    return run.select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        cusum.alias("cusum_num"),
        (cusum > 5 * F.col("n_days")).alias("alarm"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# Peak concurrency: treat each event as a 15-minute open interval
# [ts, ts+15m) and find, per event type, the maximum number of
# simultaneously open intervals and the earliest instant it is reached.
# Sweep line: +1 at start, -1 at end, running sum ordered by (t, delta)
# — delta ascending processes closings before openings at the same
# instant, matching half-open semantics. Peak and its first timestamp
# are order-stable under ties (the max value attained at any instant is
# the post-run value of its tie group). One shuffle: the union is
# partitioned once by event_type and every window + the final rollup
# reuse that layout.
# --------------------------------------------------------------------------

_PEAK_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 15 MINUTE AS t, -1 AS delta FROM events
), swept AS (
  SELECT event_type, t,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                         ) AS conc
  FROM pts
), peaked AS (
  SELECT *, MAX(conc) OVER (PARTITION BY event_type) AS peak FROM swept
)
SELECT event_type, CAST(peak AS BIGINT) AS peak,
       MIN(t) AS first_peak_ts
FROM peaked WHERE conc = peak
GROUP BY event_type, peak
ORDER BY event_type
"""


@query(
    "peak_concurrency",
    _PEAK_ORACLE,
    "Max concurrently-open 15-min event intervals per type + earliest "
    "peak instant, via the sweep-line +1/-1 union and one running sum; "
    "single event_type shuffle reused by both windows and the rollup",
    tags=("relational", "window", "interval", "bench"),
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends)
    w_sweep = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = pts.withColumn(
        "conc", F.sum("delta").over(w_sweep).cast("long")
    )
    peaked = swept.withColumn(
        "peak", F.max("conc").over(Window.partitionBy("event_type"))
    )
    return (
        peaked.filter(F.col("conc") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.min("t").alias("first_peak_ts"))
        .select("event_type", "peak", "first_peak_ts")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Longest consecutive-day activity streak per user — gaps-and-islands on
# DATES (the classic `date - dense-sequence` island key, here date_sub by
# row_number over deduplicated active days). One distinct + one keyed
# window + bounded per-user rollup; partition size bounded by days in
# range, not events.
# --------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM days
), runs AS (
  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak
FROM runs GROUP BY user_id ORDER BY user_id
"""


@query(
    "user_active_streaks",
    _STREAKS_ORACLE,
    "Longest consecutive-day activity streak per user: gaps-and-islands "
    "on distinct active dates (date minus row_number island key) — one "
    "distinct, one keyed window, per-user rollup; window partitions "
    "bounded by calendar days, not event volume",
    tags=("relational", "window", "bench"),
)
def q_user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.max("len").cast("long").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Last-touch revenue attribution — each order credits the customer's
# most recent event at-or-before the order timestamp, voided beyond a
# 7-day window ('unattributed'). Composition of the engine's as-of join
# (union + keyed window — one shuffle, no inequality-join blowup) with
# a deterministic (user, ts) event dedup; oracle = DuckDB's native ASOF
# JOIN — two independent implementations of the semantics, as with
# asof_last_purchase. Revenue via the decimal-cast sum idiom.
# --------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, MAX(event_type) AS event_type
  FROM events GROUP BY user_id, ts
), j AS (
  SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate,
         e.ts AS ets, e.event_type
  FROM orders o
  ASOF LEFT JOIN ev e
    ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
)
SELECT CASE WHEN ets IS NULL OR ets < o_orderdate - INTERVAL 7 DAY
            THEN 'unattributed' ELSE event_type END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM j GROUP BY 1 ORDER BY channel
"""


@query(
    "order_attribution",
    _ATTRIBUTION_ORACLE,
    "Last-touch attribution: every order credits the customer's most "
    "recent event at-or-before the order time (7-day lookback, else "
    "'unattributed') via the union+window as-of join — one keyed "
    "shuffle, no inequality join; decimal-exact revenue rollup",
    tags=("relational", "asof", "bench"),
)
def q_order_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.asof import asof_join
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        DEC_PRICE,
        _dsum,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id"), F.col("ts"))
        .agg(F.max("event_type").alias("event_type"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.col("o_orderdate").alias("ts"),
    )
    j = asof_join(
        orders,
        ev,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=("event_type",),
        tolerance_seconds=7 * 86400,
    )
    channel = F.coalesce(F.col("event_type_right"), F.lit("unattributed"))
    return (
        j.groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), DEC_PRICE).alias("revenue"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Seasonal (day-of-week) anomaly detection on daily event rates. Each
# day's count is scored against its OWN weekday's distribution — the
# seasonal complement of event_rate_cusum's trend drift. The z² > 4
# test is integer-exact without any division or sqrt:
#   z² > 4  <=>  (n·m − S)² > 4·(m·Σn² − S²)
# with m = days in the (type, weekday) stratum, S = Σ counts,
# Σn² = Σ counts² (the decimal-moment trick, all in BIGINT range).
# Weekday = epoch-day mod 7 — Spark's dayofweek() is 1-based Sunday,
# DuckDB's 0-based, so neither is used.
# --------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), strat AS (
  SELECT *,
         CAST(day - DATE '1970-01-01' AS INTEGER) % 7 AS dow,
         COUNT(*) OVER w AS m,
         SUM(n) OVER w AS s,
         SUM(n * n) OVER w AS ss
  FROM daily
  WINDOW w AS (PARTITION BY event_type,
               CAST(day - DATE '1970-01-01' AS INTEGER) % 7)
)
SELECT event_type, day, n AS n_events,
       CAST(n * m - s AS BIGINT) AS dev_num,
       (n * m - s) * (n * m - s) > 4 * (m * ss - s * s) AS is_anomaly
FROM strat ORDER BY event_type, day
"""


def seasonal_dow_scores(daily: DataFrame) -> DataFrame:
    """Score a (event_type, day, n) daily-count relation against its
    weekday strata. Extracted so the anomaly branch is unit-testable on
    a synthetic spike (the test tables are near-uniform, so the 2-sigma
    flag is legitimately all-False there — max measured z^2 is 3.4)."""
    dow = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
    w = Window.partitionBy("event_type", dow)
    # One projection over one window spec: chained withColumn would give
    # each aggregate its own generated partition alias and Catalyst
    # would plan THREE stacked Window exchanges for the same layout.
    strat = daily.select(
        "*",
        F.count(F.lit(1)).over(w).alias("m"),
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
    )
    dev = F.col("n") * F.col("m") - F.col("s")
    return strat.select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        dev.cast("long").alias("dev_num"),
        (dev * dev > 4 * (F.col("m") * F.col("ss") - F.col("s") * F.col("s"))).alias(
            "is_anomaly"
        ),
    ).orderBy("event_type", "day")


@query(
    "seasonal_dow_anomalies",
    _SEASONAL_ORACLE,
    "Day-of-week seasonal anomaly flags on daily event rates: each day "
    "scored against its own weekday stratum via the division-free "
    "z-square test (n*m - S)^2 > 4*(m*SS - S^2) — one daily aggregate "
    "+ one stratum window, integer-exact; the seasonal complement of "
    "event_rate_cusum",
    tags=("relational", "window", "stats", "bench"),
)
def q_seasonal_dow_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_type_counts(ev)
    return seasonal_dow_scores(daily)


# --------------------------------------------------------------------------
# Time-weighted average (r07) — THE canonical irregular-sensor-series
# aggregation (the reference's OpenAQ domain averages measurements that
# arrive at uneven cadence; a plain mean over-weights chatty periods).
# LOCF semantics per (user, type) series: each observation v_i holds
# until the next one, weight = t_{i+1} - t_i in epoch micros; the final
# observation of a series carries no weight. The type-level TWA
# combines per-user segments by total weighted mass over total covered
# time: TWA = Sum v_i*dt_i / Sum dt_i.
#
# Exactness: dt is exact integer micros (timestamps are micros-grain);
# v*dt sums run in DECIMAL so they are summation-order-independent; the
# single final division is the same IEEE double op on identical inputs
# in both engines. The plain decimal-exact mean rides along — the
# irregular-cadence gap between the two IS the audit value.
#
# Scale: the lead() window partitions by (user_id, event_type) — per-
# series row counts, never a global or per-type sort. One window
# shuffle + one bounded rollup.
# --------------------------------------------------------------------------

_TWA_ORACLE = """
WITH pts AS (
  SELECT event_type, user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         value AS v,
         event_id
  FROM events
),
seg AS (
  SELECT event_type, user_id, t, v,
         LEAD(t) OVER (PARTITION BY user_id, event_type
                       ORDER BY t, event_id) AS t_next
  FROM pts
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CASE WHEN t_next IS NULL THEN 0 ELSE t_next - t END)
              AS BIGINT) AS covered_micros,
         SUM(CASE WHEN t_next IS NULL THEN CAST(0 AS DECIMAL(38,6))
                  ELSE CAST(v AS DECIMAL(18,6)) * (t_next - t) END)
           AS vdt,
         SUM(CAST(v AS DECIMAL(18,6))) AS v_sum
  FROM seg GROUP BY event_type
)
SELECT event_type, n_points, covered_micros,
       ROUND(CAST(CASE WHEN covered_micros = 0 THEN NULL
                 ELSE CAST(vdt AS DOUBLE) / CAST(covered_micros AS DOUBLE)
            END AS DOUBLE), 6) AS twa,
       ROUND(CAST(CAST(v_sum AS DOUBLE) / CAST(n_points AS DOUBLE)
                  AS DOUBLE), 6) AS plain_mean
FROM agg ORDER BY event_type
"""


@query(
    "time_weighted_avg",
    _TWA_ORACLE,
    "Time-weighted average per event type (the canonical irregular "
    "sensor-series aggregation): LOCF weights t_next - t in exact epoch "
    "micros per (user, type) series, decimal-exact v*dt mass, ONE "
    "mirrored IEEE division at the end; the plain mean rides along so "
    "the irregular-cadence bias is the visible output — one per-series "
    "window shuffle + one bounded rollup",
    tags=("relational", "timeseries", "stats", "bench"),
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        "user_id",
        # ts is TIMESTAMP_NTZ: diff against the NTZ epoch is exact
        # integer micros in any session timezone (the r07 streaming
        # staging lesson); unix_micros() only accepts instants.
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("t"),
        F.col("value").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("t", "event_id")
    seg = pts.withColumn("t_next", F.lead("t").over(w))
    agg = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(
            F.when(F.col("t_next").isNull(), F.lit(0)).otherwise(
                F.col("t_next") - F.col("t")
            )
        ).cast("long").alias("covered_micros"),
        F.sum(
            F.when(
                F.col("t_next").isNull(),
                F.lit(0).cast("decimal(38,6)"),
            ).otherwise(
                F.col("v").cast("decimal(18,6)")
                * (F.col("t_next") - F.col("t"))
            )
        ).alias("vdt"),
        F.sum(F.col("v").cast("decimal(18,6)")).alias("v_sum"),
    )
    return agg.select(
        "event_type",
        "n_points",
        "covered_micros",
        # round(6) on both sides absorbs the one-ulp decimal->double
        # conversion divergence between engines (the cosine precedent).
        F.round(
            F.when(
                F.col("covered_micros") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.col("vdt").cast("double")
                / F.col("covered_micros").cast("double")
            ),
            6,
        ).alias("twa"),
        F.round(
            F.col("v_sum").cast("double") / F.col("n_points").cast("double"),
            6,
        ).alias("plain_mean"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# LTTB-style downsampling (r07) — Largest-Triangle-Three-Buckets
# (Steinarsson 2013), THE standard time-series visualization
# downsampler: per event type, B equal time buckets, keep the one point
# per bucket that preserves the series' visual shape. Classic LTTB
# anchors each bucket's triangle on the PREVIOUS SELECTED point — an
# inherently sequential recurrence — so this is the standard parallel
# variant: the triangle anchors on the neighboring buckets' AVERAGE
# points (both anchors are plain aggregates), making selection a single
# per-bucket argmax. First/last buckets keep the series' first/last
# point, as in the original.
#
# Integer-exact: t in epoch seconds, v on the 1e-6 grid; bucket
# averages are flooring integer means (inputs non-negative here; the
# span grid keeps products |2*area| <= ~6e14 — int64 with 4 decades of
# headroom). Argmax is the struct-max pattern with (area, -t, -id)
# tiebreak. Plan: one (type, bucket) aggregate for the anchors
# (broadcast — B x types rows), one argmax aggregate over the bucketed
# points; no sort over raw rows anywhere.
# --------------------------------------------------------------------------

_LTTB_B = 20

_LTTB_ORACLE = f"""
WITH pts AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v,
         event_id
  FROM events
),
span AS (
  SELECT event_type, MIN(t) AS tmin, MAX(t) AS tmax
  FROM pts GROUP BY 1
),
bp AS (
  SELECT p.event_type, p.t, p.v, p.event_id,
         CAST(((p.t - s.tmin) * {_LTTB_B}) // (s.tmax - s.tmin + 1)
              AS BIGINT) AS bucket
  FROM pts p JOIN span s ON s.event_type = p.event_type
),
anchors AS (
  SELECT event_type, bucket,
         CAST(SUM(t) // COUNT(*) AS BIGINT) AS ta,
         CAST(SUM(v) // COUNT(*) AS BIGINT) AS va
  FROM bp GROUP BY 1, 2
),
scored AS (
  SELECT b.event_type, b.bucket, b.t, b.v, b.event_id,
         CASE WHEN ap.ta IS NULL OR an.ta IS NULL THEN NULL
              ELSE ABS((ap.ta - an.ta) * (b.v - ap.va)
                       - (ap.ta - b.t) * (an.va - ap.va)) END AS area2
  FROM bp b
  LEFT JOIN anchors ap
    ON ap.event_type = b.event_type AND ap.bucket = b.bucket - 1
  LEFT JOIN anchors an
    ON an.event_type = b.event_type AND an.bucket = b.bucket + 1
),
sel AS (
  SELECT event_type, bucket, t, v FROM (
    SELECT s.*,
           ROW_NUMBER() OVER (
             PARTITION BY event_type, bucket
             ORDER BY CASE
                 WHEN bucket = 0 THEN t
                 WHEN bucket = {_LTTB_B - 1} THEN -t
                 WHEN area2 IS NULL THEN t
                 ELSE -area2 END,
               CASE WHEN bucket = {_LTTB_B - 1} THEN -event_id
                    ELSE event_id END,
               t, event_id) AS rn
    FROM scored s)
  WHERE rn = 1
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       t AS t_sel, v AS v_sel_scaled
FROM sel ORDER BY event_type, bucket
"""


@query(
    "lttb_downsample",
    _LTTB_ORACLE,
    "LTTB-style visual downsampling (Steinarsson 2013, parallel "
    "average-anchor variant): B=20 equal time buckets per event type, "
    "per-bucket argmax of the triangle area against the neighboring "
    "buckets' average points (first/last buckets keep the endpoints) — "
    "integer-exact areas on the seconds x 1e-6 grid, one anchor "
    "aggregate + one per-bucket selection, no raw-row sort",
    tags=("relational", "timeseries", "bench"),
)
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("t"),
        F.floor(F.col("value") * 1000000.0).cast("long").alias("v"),
        "event_id",
    )
    span = pts.groupBy("event_type").agg(
        F.min("t").alias("tmin"), F.max("t").alias("tmax")
    )
    bp = pts.join(F.broadcast(span), "event_type").select(
        "event_type",
        "t",
        "v",
        "event_id",
        F.expr(
            f"CAST(((t - tmin) * {_LTTB_B}) div (tmax - tmin + 1) AS BIGINT)"
        ).alias("bucket"),
    )
    # bp feeds the anchor aggregate and the scored selection.
    bp = checkpoint(bp)
    anchors = bp.groupBy("event_type", "bucket").agg(
        F.expr("CAST(sum(t) div count(1) AS BIGINT)").alias("ta"),
        F.expr("CAST(sum(v) div count(1) AS BIGINT)").alias("va"),
    )
    ap = F.broadcast(
        anchors.select(
            "event_type",
            (F.col("bucket") + 1).alias("bucket"),
            F.col("ta").alias("ta_p"),
            F.col("va").alias("va_p"),
        )
    )
    an = F.broadcast(
        anchors.select(
            "event_type",
            (F.col("bucket") - 1).alias("bucket"),
            F.col("ta").alias("ta_n"),
            F.col("va").alias("va_n"),
        )
    )
    scored = (
        bp.join(ap, ["event_type", "bucket"], "left")
        .join(an, ["event_type", "bucket"], "left")
        .withColumn(
            "area2",
            F.when(
                F.col("ta_p").isNull() | F.col("ta_n").isNull(),
                F.lit(None).cast("long"),
            ).otherwise(
                F.abs(
                    (F.col("ta_p") - F.col("ta_n")) * (F.col("v") - F.col("va_p"))
                    - (F.col("ta_p") - F.col("t"))
                    * (F.col("va_n") - F.col("va_p"))
                )
            ),
        )
    )
    # Selection is a struct-MAX argmax (maximize the NEGATED ascending
    # sort keys), not a per-bucket row_number sort: partitions here are
    # corpus/(types*B)-sized, and the aggregate gets map-side partials
    # where a window would sort every partition. Tie-break keys make
    # the order total, so the trailing payload fields never decide.
    key1 = F.expr(
        f"-(CASE WHEN bucket = 0 THEN t "
        f"WHEN bucket = {_LTTB_B - 1} THEN -t "
        f"WHEN area2 IS NULL THEN t "
        f"ELSE -area2 END)"
    )
    key2 = F.expr(
        f"-(CASE WHEN bucket = {_LTTB_B - 1} THEN -event_id "
        f"ELSE event_id END)"
    )
    best = F.max(
        F.struct(
            key1.alias("k1"),
            key2.alias("k2"),
            (-F.col("t")).alias("k3"),
            (-F.col("event_id")).alias("k4"),
            F.col("t").alias("t_sel"),
            F.col("v").alias("v_sel"),
        )
    ).alias("s")
    return (
        scored.groupBy("event_type", "bucket")
        .agg(best)
        .select(
            "event_type",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("s.t_sel").alias("t_sel"),
            F.col("s.v_sel").alias("v_sel_scaled"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# CUSUM-argmax changepoint (r08) — the LOCATION complement to
# event_rate_cusum: that query emits the running alarm path; this one
# answers "WHERE did the rate shift?" per event type. The statistic is
# the classic at-most-one-changepoint (AMOC) scan over daily counts:
#
#   cp = argmax_k | n*cum_k - k*total |
#
# i.e. the largest deviation of the empirical cumulative mass from the
# uniform-rate line (a KS-against-uniform over the calendar), with
# denominators cleared so the argmax is integer-exact — no float enters
# the scan. Gap reported as ppm of its n*total ceiling; the segment
# means before/after the changepoint in exact milli-events/day.
#
# Plan shape: ONE corpus-sized shuffle (the daily count aggregate);
# both the per-type totals (unordered window) and the ordered prefix
# scan run over calendar-bounded rows (<= a few thousand days per
# type), and the argmax is a row_number pick with a deterministic
# earliest-day tiebreak. Magnitudes: gap <= n*total ~ 2.6e3 days *
# per-type rows; gap*1e6 crosses 2^63 near total ~ 3.6e9 rows/type, so
# the ppm product runs in DECIMAL(38,0)/HUGEINT (exact to ~1e28
# rows/type); cum*1000 and the means stay far inside that.
# --------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT *, SUM(n) OVER (PARTITION BY event_type) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
), scan AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
         SUM(n) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tot
), gaps AS (
  SELECT *,
         ABS(CAST(n_days AS HUGEINT) * cum - CAST(k AS HUGEINT) * total)
           AS gap,
         ROW_NUMBER() OVER (PARTITION BY event_type
           ORDER BY ABS(CAST(n_days AS HUGEINT) * cum
                        - CAST(k AS HUGEINT) * total) DESC, day ASC) AS pick
  FROM scan
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(total AS BIGINT) AS total_events,
       day AS change_day,
       CAST(gap * 1000000 // (CAST(n_days AS HUGEINT) * total) AS BIGINT)
         AS gap_ppm,
       CAST(cum * 1000 // k AS BIGINT) AS mean_before_milli,
       CAST(CASE WHEN n_days > k
                 THEN (total - cum) * 1000 // (n_days - k) END AS BIGINT)
         AS mean_after_milli
FROM gaps WHERE pick = 1
ORDER BY event_type
"""


@query(
    "cusum_changepoint",
    _CHANGEPOINT_ORACLE,
    "At-most-one-changepoint scan per event type over daily counts: "
    "argmax_k |n*cum_k - k*total| (KS-against-uniform with cleared "
    "denominators, integer-exact argmax, earliest-day tiebreak), gap "
    "in exact ppm plus before/after segment means in milli-events/day; "
    "one corpus shuffle, the scan runs over calendar-bounded rows",
    tags=("relational", "window", "stats", "bench"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_type_counts(ev)
    return changepoint_from_daily(daily)


def changepoint_from_daily(daily: DataFrame) -> DataFrame:
    """AMOC scan over a ``(event_type, day, n)`` daily-count relation —
    factored so the synthetic-step test can pin the detected location
    on a constructed series (see the block comment above)."""
    w_t = Window.partitionBy("event_type")
    w_o = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scan = (
        daily.withColumn("total", F.sum("n").over(w_t))
        .withColumn("n_days", F.count(F.lit(1)).over(w_t))
        .withColumn(
            "k", F.row_number().over(Window.partitionBy("event_type").orderBy("day"))
        )
        .withColumn("cum", F.sum("n").over(w_o))
    )
    gaps = scan.withColumn(
        "gap",
        F.abs(
            F.col("n_days").cast("decimal(38,0)") * F.col("cum")
            - F.col("k").cast("decimal(38,0)") * F.col("total")
        ),
    ).withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("gap").desc(), F.col("day").asc()
            )
        ),
    )
    return (
        gaps.where(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total_events"),
            F.col("day").alias("change_day"),
            F.expr(
                "(gap * CAST(1000000 AS DECIMAL(7,0)))"
                " div (CAST(n_days AS DECIMAL(38,0)) * total)"
            )
            .cast("long")
            .alias("gap_ppm"),
            F.expr("(CAST(cum AS DECIMAL(38,0)) * 1000) div k")
            .cast("long")
            .alias("mean_before_milli"),
            F.when(
                F.col("n_days") > F.col("k"),
                F.expr(
                    "(CAST(total - cum AS DECIMAL(38,0)) * 1000)"
                    " div (n_days - k)"
                ),
            )
            .cast("long")
            .alias("mean_after_milli"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve (r08) — the survival-analysis family:
# time-to-conversion from each signup event to the user's next purchase
# (forward as-of join, the same operator forward_asof_next_purchase
# uses), right-censored at a 72h observation window. Durations are
# exact integer hours (epoch-micros difference div 3600e6 — never
# datediff, whose boundary-crossing semantics differ between engines).
#
#   S(t) = Prod_{t_i <= t, d_i > 0} (1 - d_i / n_i)
#
# The duration table is BOUNDED (73 hour buckets) so the fold runs
# driver-side over the collected rollup — the PCA-pattern split: the
# data pass is one as-of join + one bounded rollup, the estimator is
# driver math. The oracle replays the identical float fold with the
# struct-accumulator list_reduce device (the EMA/TWA precedent) over a
# sentinel-seeded ordered list, so every multiplication happens in the
# same order on both legs. Censored mass (no purchase within 72h)
# reports in its own column; risk sets are exact integers.
# --------------------------------------------------------------------------

_KM_ORACLE = """
WITH signups AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'signup'
), purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'purchase'
), joined AS (
  SELECT s.user_id, s.ts,
         (SELECT MIN(p.ts) FROM purchases p
          WHERE p.user_id = s.user_id AND p.ts >= s.ts) AS np
  FROM signups s
), durs AS (
  SELECT CASE WHEN np IS NULL THEN 72
              ELSE LEAST(72, (epoch_us(np) - epoch_us(ts)) // 3600000000)
         END AS t
  FROM joined
), grouped AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM durs GROUP BY t
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN t = 72 THEN c ELSE 0 END) AS BIGINT) AS cens
  FROM grouped
), deaths AS (
  SELECT t, c,
         (SELECT total FROM tot)
           - COALESCE(SUM(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk,
         ROW_NUMBER() OVER (ORDER BY t) AS rn
  FROM grouped WHERE t < 72
), seq AS (
  SELECT list(struct_pack(d := CAST(c AS DOUBLE),
                          n := CAST(n_risk AS DOUBLE),
                          acc := CAST(1.0 AS DOUBLE))
              ORDER BY t) AS els
  FROM deaths
)
SELECT CAST(d.t AS BIGINT) AS t_hours,
       CAST(d.n_risk AS BIGINT) AS n_risk,
       d.c AS n_deaths,
       (SELECT cens FROM tot) AS n_censored_total,
       ROUND(list_reduce(
               list_prepend(struct_pack(d := CAST(0.0 AS DOUBLE),
                                        n := CAST(1.0 AS DOUBLE),
                                        acc := CAST(1.0 AS DOUBLE)),
                            list_slice(s.els, 1, d.rn)),
               (acc, x) -> struct_pack(d := x.d, n := x.n,
                                       acc := acc.acc * (1.0 - x.d / x.n))
             ).acc, 6) AS km_survival
FROM deaths d CROSS JOIN seq s
ORDER BY t_hours
"""


@query(
    "kaplan_meier_conversion",
    _KM_ORACLE,
    "Kaplan-Meier survival curve of signup-to-purchase latency, "
    "right-censored at 72h: forward as-of join (one keyed window, no "
    "inequality blowup) -> exact integer hour durations -> bounded "
    "73-bucket rollup; the product-limit fold runs driver-side over "
    "the collected bounded table and the oracle replays the identical "
    "float fold via a sentinel-seeded struct list_reduce",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    durs = _conversion_durations(spark, sf_dir)
    grouped = durs.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rows_ = sorted(
        ((int(r["t"]), int(r["c"])) for r in grouped.collect())
    )
    total = sum(c for _, c in rows_)
    cens = sum(c for t, c in rows_ if t == 72)
    out, seen, surv = [], 0, 1.0
    for t, c in rows_:
        if t >= 72:
            break
        n_risk = total - seen
        surv = surv * (1.0 - float(c) / float(n_risk))
        out.append((t, n_risk, c, cens, surv))
        seen += c
    # Final rounding happens IN SPARK (F.round <-> ROUND is the
    # established mirrored device; Python's round() is banker's and
    # must not touch driver-hash-bound floats).
    return (
        spark.createDataFrame(
            out,
            "t_hours long, n_risk long, n_deaths long,"
            " n_censored_total long, km_raw double",
        )
        .select(
            "t_hours",
            "n_risk",
            "n_deaths",
            "n_censored_total",
            F.round("km_raw", 6).alias("km_survival"),
        )
        .orderBy("t_hours")
    )


# --------------------------------------------------------------------------
# Log-rank test (r08) — the hypothesis-test companion to the
# Kaplan-Meier curve: do the A and B arms (the standing md5 user split)
# have the same signup->purchase survival? Per death time t:
#
#   E1_t = d_t * n1_t / n_t
#   V_t  = d_t * n1_t * (n_t - n1_t) * (n_t - d_t) / (n_t^2 * (n_t-1))
#   z    = (O1 - Sum E1_t) / sqrt(Sum V_t),   chi2 = z^2
#
# Unlike the KM fold, the statistic is a pure SUM over buckets, so the
# whole test runs IN PLAN: risk sets are suffix cumulative sums over
# the bounded 73-bucket duration relation, each rational term is
# truncated to a 1e6-scaled integer (the ANOVA order-independence
# device), and z/chi2 are mirrored doubles from the exact integer
# totals. Magnitudes: the V numerator is < n^4 * 1e6, but the REAL
# ceiling is the oracle leg — DuckDB evaluates the product in HUGEINT
# (int128, ~1.7e38), capping n at ~1e8 signups per bucket, and the two
# engines fail ASYMMETRICALLY past it: Spark decimal(38,0) overflow
# yields NULL under ANSI-off while DuckDB raises. Past ~1e8 rows per
# bucket, pre-scale the 1e6 factor down (the permutation-test queries
# show the pattern) before trusting either leg.
# --------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH signups AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
           AS grp
  FROM events WHERE event_type = 'signup'
), purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'purchase'
), joined AS (
  SELECT s.grp, s.ts,
         (SELECT MIN(p.ts) FROM purchases p
          WHERE p.user_id = s.user_id AND p.ts >= s.ts) AS np
  FROM signups s
), durs AS (
  SELECT grp,
         CASE WHEN np IS NULL THEN 72
              ELSE LEAST(72, (epoch_us(np) - epoch_us(ts)) // 3600000000)
         END AS t
  FROM joined
), per AS (
  SELECT t,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
         CAST(COUNT(*) AS HUGEINT) AS c
  FROM durs GROUP BY t
), risk AS (
  SELECT t, c1, c,
         SUM(c1) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
         SUM(c) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
  FROM per
), terms AS (
  SELECT c1, c,
         (c * n1 * 1000000) // nt AS e1_e6,
         CASE WHEN nt > 1 THEN
           (c * n1 * (nt - n1) * (nt - c) * 1000000)
             // (nt * nt * (nt - 1))
         ELSE 0 END AS v_e6
  FROM risk WHERE t < 72 AND c > 0
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS o1,
         CAST(SUM(e1_e6) AS BIGINT) AS e1_e6,
         CAST(SUM(v_e6) AS BIGINT) AS v_e6,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM durs) AS n_signups
  FROM terms
)
SELECT n_signups, o1, e1_e6, v_e6,
       ROUND((CAST(o1 AS DOUBLE) * 1000000.0 - CAST(e1_e6 AS DOUBLE))
             / SQRT(CAST(v_e6 AS DOUBLE) * 1000000.0), 6) AS logrank_z,
       ROUND((CAST(o1 AS DOUBLE) * 1000000.0 - CAST(e1_e6 AS DOUBLE))
             * (CAST(o1 AS DOUBLE) * 1000000.0 - CAST(e1_e6 AS DOUBLE))
             / (CAST(v_e6 AS DOUBLE) * 1000000.0), 6) AS logrank_chi2
FROM agg
"""


@query(
    "logrank_ab_survival",
    _LOGRANK_ORACLE,
    "Log-rank test of signup->purchase survival between the md5 A/B "
    "user arms: suffix-cumulative risk sets over the bounded 73-bucket "
    "duration relation, per-bucket E/V terms truncated to 1e6-scaled "
    "integers (order-independent sums), z and chi2 as mirrored doubles "
    "from the exact totals — the whole test runs in plan, no driver "
    "fold",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_logrank_ab_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    durs = _conversion_durations(
        spark, sf_dir, {"grp": md5_bucket("user_id", 2)}
    )
    per = durs.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c1"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c"),
    )
    wsfx = (
        W.orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    risk = per.select(
        "t",
        "c1",
        "c",
        F.sum("c1").over(wsfx).alias("n1"),
        F.sum("c").over(wsfx).alias("nt"),
    )
    terms = risk.filter((F.col("t") < 72) & (F.col("c") > 0)).select(
        "c1",
        "c",
        F.expr("(c * n1 * 1000000) div nt").alias("e1_e6"),
        F.when(
            F.col("nt") > 1,
            F.expr(
                "(c * n1 * (nt - n1) * (nt - c) * 1000000)"
                " div (nt * nt * (nt - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .alias("v_e6"),
    )
    n_signups = durs.agg(
        F.count(F.lit(1)).cast("long").alias("n_signups")
    )
    agg = terms.agg(
        F.sum("c1").cast("long").alias("o1"),
        F.sum(F.col("e1_e6").cast("decimal(38,0)")).cast("long").alias("e1_e6"),
        F.sum(F.col("v_e6").cast("decimal(38,0)")).cast("long").alias("v_e6"),
    ).crossJoin(F.broadcast(n_signups))
    o1d = F.col("o1").cast("double") * 1000000.0
    e1d = F.col("e1_e6").cast("double")
    vd = F.col("v_e6").cast("double") * 1000000.0
    return agg.select(
        "n_signups",
        "o1",
        "e1_e6",
        "v_e6",
        F.round((o1d - e1d) / F.sqrt(vd), 6).alias("logrank_z"),
        F.round((o1d - e1d) * (o1d - e1d) / vd, 6).alias("logrank_chi2"),
    )


# --------------------------------------------------------------------------
# Markov stationary activity distribution (r08) — the chain-analysis
# companion to session_transitions: bucket each user's WEEKLY activity
# into 5 states (event-count thresholds 8/12/15/19), count week-over-
# week state transitions, and solve for the stationary distribution of
# the empirical chain by exact-integer power iteration (12 rounds) on
# the transposed transition matrix:
#
#   w[s'] = Sum_s (v[s] * T[s][s'] * 1e6) div r[s]   (r = row sums)
#   v'    = (w * 1e6) div Sum(w)                      (renormalize)
#
# Every step is truncated integer arithmetic (per-term, the ANOVA
# order-independence device), so the oracle replays all 12 rounds as
# unrolled CTEs bit-for-bit — the PCA split again: the DATA passes are
# one (user, week) rollup + one week-adjacent self-join; the solve is
# a 5x5 integer iteration (driver math on the collected bounded
# matrix). The empirical occupancy ppm rides along: for an ergodic
# chain the two columns should be close, and the audit shows it.
# --------------------------------------------------------------------------

_MKV_ITERS = 12
_MKV_THRESH = (8, 12, 15, 19)


def _mkv_state_sql(col: str) -> str:
    t = _MKV_THRESH
    return (
        f"CASE WHEN {col} < {t[0]} THEN 0 WHEN {col} < {t[1]} THEN 1 "
        f"WHEN {col} < {t[2]} THEN 2 WHEN {col} < {t[3]} THEN 3 "
        f"ELSE 4 END"
    )


def _mkv_ctes() -> str:
    parts = [
        f"""uw AS MATERIALIZED (
  SELECT user_id,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000) AS wk,
         {_mkv_state_sql("COUNT(*)")} AS s
  FROM events GROUP BY user_id,
       (epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000)
)""",
        """trans AS MATERIALIZED (
  SELECT a.s AS sf, b.s AS st, CAST(COUNT(*) AS HUGEINT) AS c
  FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.wk = a.wk + 1
  GROUP BY 1, 2
)""",
        "rr AS (SELECT sf, SUM(c) AS r FROM trans GROUP BY sf)",
        "states AS (SELECT DISTINCT s FROM uw)",
        """v0 AS (
  SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM states) AS HUGEINT) AS v
  FROM states
)""",
    ]
    for t in range(1, _MKV_ITERS + 1):
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT tr.st AS s, SUM((v.v * tr.c * 1000000) // rr.r) AS w
  FROM trans tr
  JOIN v{t - 1} v ON v.s = tr.sf
  JOIN rr ON rr.sf = tr.sf
  GROUP BY tr.st
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT st.s,
         COALESCE((w.w * 1000000) // (SELECT SUM(w) FROM w{t}),
                  CAST(0 AS HUGEINT)) AS v
  FROM states st LEFT JOIN w{t} w ON w.s = st.s
)"""
        )
    return ",\n".join(parts)


_MKV_ORACLE = f"""
WITH {_mkv_ctes()},
occ AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_occupied FROM uw GROUP BY s
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uw)
SELECT CAST(o.s AS BIGINT) AS state, o.n_occupied,
       CAST(COALESCE(rr.r, 0) AS BIGINT) AS n_from,
       CAST(v.v AS BIGINT) AS stationary_ppm,
       CAST(o.n_occupied * 1000000 // t.n AS BIGINT) AS empirical_ppm
FROM occ o
LEFT JOIN rr ON rr.sf = o.s
JOIN v{_MKV_ITERS} v ON v.s = o.s
CROSS JOIN tot t
ORDER BY state
"""


@query(
    "markov_stationary_activity",
    _MKV_ORACLE,
    "Stationary distribution of the weekly activity-state Markov chain "
    "(5 threshold states, week-over-week transition counts) by "
    "12-round exact-integer power iteration on the collected bounded "
    "matrix — per-term truncated scaled arithmetic, oracle replays "
    "every round as unrolled CTEs; empirical occupancy ppm rides along "
    "as the ergodicity audit",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_markov_stationary_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts) div 604800000000"
    )
    uw = checkpoint(
        ev.groupBy("user_id", wk.alias("wk"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            "wk",
            F.expr(_mkv_state_sql("n")).cast("long").alias("s"),
        )
    )
    a = uw.select("user_id", "wk", F.col("s").alias("sf"))
    b = uw.select(
        F.col("user_id").alias("u2"),
        (F.col("wk") - 1).alias("wk2"),
        F.col("s").alias("st"),
    )
    trans = (
        a.join(b, (F.col("u2") == F.col("user_id")) & (F.col("wk2") == F.col("wk")))
        .groupBy("sf", "st")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cells = [
        (int(r["sf"]), int(r["st"]), int(r["c"])) for r in trans.collect()
    ]
    occ_rows = {
        int(r["s"]): int(r["n"])
        for r in uw.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    states = sorted(occ_rows)
    k = len(states)
    r = {}
    for sf_, _, c in cells:
        r[sf_] = r.get(sf_, 0) + c
    v = {s: 1_000_000 // k for s in states}
    for _ in range(_MKV_ITERS):
        w = {s: 0 for s in states}
        for sf_, st_, c in cells:
            w[st_] += (v[sf_] * c * 1_000_000) // r[sf_]
        tot = sum(w.values())
        v = {s: (w[s] * 1_000_000) // tot if tot else 0 for s in states}
    total_occ = sum(occ_rows.values())
    rows_ = [
        (
            s,
            occ_rows[s],
            r.get(s, 0),
            v[s],
            occ_rows[s] * 1_000_000 // total_occ,
        )
        for s in states
    ]
    return spark.createDataFrame(
        rows_,
        "state long, n_occupied long, n_from long, stationary_ppm long,"
        " empirical_ppm long",
    ).orderBy("state")


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (r09) — the estimator companion to
# kaplan_meier_conversion over the SAME bounded duration relation
# (_conversion_durations): H(t) = SUM over death times s <= t of
# d_s / n_s. Unlike the KM product-limit (a sequential product, folded
# driver-side over the 73-bucket table), the hazard is a plain SUM — so
# the whole estimator runs IN PLAN: per-bucket terms on the exact 1e6
# integer grid (d * 1e6 DIV n_risk, truncating — order-independent),
# cumulated by an ordered window over the calendar-bounded 73-row
# relation (dimension-bounded global frame, the cusum waiver class).
# No exp/log anywhere: the survival transform exp(-H) is left to the
# reader precisely because transcendentals are not engine-mirrorable.
# --------------------------------------------------------------------------

_NA_ORACLE = """
WITH signups AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'signup'
), purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'purchase'
), joined AS (
  SELECT s.user_id, s.ts,
         (SELECT MIN(p.ts) FROM purchases p
          WHERE p.user_id = s.user_id AND p.ts >= s.ts) AS np
  FROM signups s
), durs AS (
  SELECT CASE WHEN np IS NULL THEN 72
              ELSE LEAST(72, (epoch_us(np) - epoch_us(ts)) // 3600000000)
         END AS t
  FROM joined
), grouped AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM durs GROUP BY t
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM grouped),
deaths AS (
  SELECT t, c,
         (SELECT total FROM tot)
           - COALESCE(SUM(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM grouped WHERE t < 72
), terms AS (
  SELECT t, c, n_risk, c * 1000000 // n_risk AS term_e6 FROM deaths
)
SELECT CAST(t AS BIGINT) AS t_hours,
       CAST(n_risk AS BIGINT) AS n_risk,
       c AS n_deaths,
       CAST(term_e6 AS BIGINT) AS hazard_term_e6,
       CAST(SUM(term_e6) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_hazard_e6
FROM terms ORDER BY t_hours
"""


@query(
    "nelson_aalen_hazard",
    _NA_ORACLE,
    "Nelson-Aalen cumulative hazard of signup-to-purchase latency "
    "(right-censored at 72h), fully IN PLAN: per-bucket d*1e6 DIV "
    "n_risk terms on the exact integer grid, cumulated by an ordered "
    "window over the calendar-bounded 73-row duration relation — the "
    "summable companion to the Kaplan-Meier product fold",
    tags=("relational", "stats", "timeseries", "bench"),
)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    durs = _conversion_durations(spark, sf_dir)
    grouped = durs.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = grouped.agg(F.sum("c").cast("long").alias("total"))
    # suffix-cumulative risk set over the bounded bucket relation
    # (dimension-bounded global frames — the cusum waiver class)
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_cum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    deaths = (
        grouped.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            F.col("total") - F.coalesce(F.sum("c").over(w_prev), F.lit(0)),
        )
        .filter(F.col("t") < 72)
        .withColumn("term_e6", F.expr("c * 1000000 DIV n_risk"))
    )
    return deaths.select(
        F.col("t").cast("long").alias("t_hours"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("c").alias("n_deaths"),
        F.col("term_e6").cast("long").alias("hazard_term_e6"),
        F.sum("term_e6").over(w_cum).cast("long").alias("cum_hazard_e6"),
    ).orderBy("t_hours")


# --------------------------------------------------------------------------
# Event-trigram mining (r10 wave 3) — the order-3 sequential-pattern
# companion to session_transitions (order 2) and markov_stationary
# (state chains): the most common length-3 event-type paths users
# take, with total ordering (ts, event_id) per user so reruns are
# bit-stable. One user-keyed window pass (two LEADs share one window
# spec -> one keyed sort), one |types|^3-bounded rollup, top-10 with
# tiebreak via TakeOrderedAndProject.
# --------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), grams AS (
  SELECT event_type || '>' || t2 || '>' || t3 AS trigram
  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY trigram
ORDER BY n_occurrences DESC, trigram
LIMIT 10
"""


@query(
    "event_trigram_topk",
    _TRIGRAM_ORACLE,
    "Top-10 length-3 event-type paths: one user-keyed window pass "
    "(both LEADs share the (ts, event_id)-ordered spec), |types|^3-"
    "bounded trigram rollup, TakeOrderedAndProject top-k — order-3 "
    "sequential pattern mining next to session_transitions",
    tags=("relational", "seq", "bench"),
)
def q_event_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    grams = seq.filter(
        F.col("t2").isNotNull() & F.col("t3").isNotNull()
    ).select(
        F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
    )
    return (
        grams.groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "trigram")
        .limit(10)
    )
