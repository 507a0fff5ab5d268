"""Extended operator coverage: JSON flattening, window lag/lead, rollup,
AQI profile aggregate, BPE-ish tokenization, and the spark.sql surface.

Each entry completes a SURVEY.md §2 line (cited per query) or a
training-data-pipeline extension, with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import release
from reddit_data_pipeline_engineering_spark.plans.queries import (
    DEC_PRICE,
    REGISTRY,
    _davg,
    _dsum,
    query,
)
from reddit_data_pipeline_engineering_spark.sources.tables import (
    load_table,
    register_views,
)

# --------------------------------------------------------------------------
# F7: nested-field flattening — the reference flattens API JSON structs
# (extract_api.py:240-247: m['period']['datetimeFrom']['utc'] etc.). The
# events table's `props` JSON-string column is the testdata analog.
# --------------------------------------------------------------------------

_PROPS_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
GROUP BY CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
ORDER BY k_bucket
"""


@query(
    "props_flatten",
    _PROPS_ORACLE,
    "Nested-JSON field extraction + rollup (F7, extract_api.py:240-247: "
    "dot-path flattening; here get_json_object over a JSON-string column, "
    "evaluated JVM-side in the scan projection)",
    tags=("relational", "json", "bench"),
)
def q_props_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _davg(F.col("value"), "14,4").alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


# --------------------------------------------------------------------------
# Window lag/lead (extension of W1 — the reference has no lag/lead frames;
# SURVEY.md §2.5 "No ranking/lag/lead ... beyond W1")
# --------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       lag(value) OVER w AS prev_value,
       value - lag(value) OVER w AS delta,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query(
    "lag_lead_delta",
    _LAG_ORACLE,
    "Per-entity lag/lead with value deltas (window-frame family beyond the "
    "reference's W1; one shuffle on the partition key)",
    tags=("relational", "window", "bench"),
)
def q_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --------------------------------------------------------------------------
# ROLLUP hierarchy aggregate (OLAP extension; reference has none —
# SURVEY.md §2.4 "No grouping sets / cube / rollup")
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST(month(o_orderdate) AS INTEGER) AS month,
       CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER),
                     CAST(month(o_orderdate) AS INTEGER)) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP(CAST(year(o_orderdate) AS INTEGER),
                CAST(month(o_orderdate) AS INTEGER))
"""


@query(
    "rollup_orders",
    _ROLLUP_ORACLE,
    "Hierarchical ROLLUP (year -> month -> grand total) with grouping-id "
    "disambiguation: one pass, partial aggregation per grouping set",
    tags=("relational", "olap", "bench"),
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").alias("year")
    month = F.month("o_orderdate").alias("month")
    return (
        orders.rollup(year, month)
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), DEC_PRICE).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# CUBE multi-dimensional aggregate (OLAP extension; completes the
# SURVEY.md §2.4 "No grouping sets / cube / rollup" family with ROLLUP)
# --------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT c_mktsegment AS segment,
       o_orderpriority AS priority,
       CAST(GROUPING(c_mktsegment, o_orderpriority) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE(c_mktsegment, o_orderpriority)
"""


@query(
    "cube_segments",
    _CUBE_ORACLE,
    "CUBE over (market segment x order priority): all four grouping sets "
    "in one pass with partial aggregation; the join side is the customer "
    "dim (broadcast) so the only exchange is the aggregate's",
    tags=("relational", "olap", "bench"),
)
def q_cube_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return joined.cube(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice"), DEC_PRICE).alias("total_price"),
    )


# --------------------------------------------------------------------------
# Ranking-window family: ntile quartiles + percent_rank over per-customer
# spend (extension of W1; SURVEY.md §2.5 "No ranking ... beyond W1")
# --------------------------------------------------------------------------

_NTILE_ORACLE = """
WITH spend AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT custkey, total_spend,
       CAST(ntile(4) OVER (ORDER BY total_spend, custkey) AS INTEGER)
         AS spend_quartile,
       percent_rank() OVER (ORDER BY total_spend) AS spend_pctrank
FROM spend
"""


@query(
    "ntile_spend_quartiles",
    _NTILE_ORACLE,
    "Per-customer spend quartiles (ntile) + percent_rank: decimal-exact "
    "spend aggregate, then DISTRIBUTED global ranking (range-partition "
    "+ local sort + broadcast prefix offsets, operators/rank.py) with a "
    "deterministic (spend, custkey) tiebreak — identical output to the "
    "global-sort window, no single-partition exchange",
    tags=("relational", "window", "bench"),
)
def q_ntile_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r07 #4 (shared shape with rfm_segmentation): the r02 form
    # ran two no-partitionBy windows — a single-partition sort of the
    # customer dimension. Exact global positions now come from the
    # range-partitioned rank operator; ntile is pure arithmetic on the
    # position, and percent_rank's ties-by-value resolve through a
    # KEYED min-position window (partitioned by spend value).
    from reddit_data_pipeline_engineering_spark.operators.rank import (
        ntile_from_position,
        with_global_position,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        _dsum(F.col("o_totalprice"), DEC_PRICE).alias("total_spend")
    )
    pos, n = with_global_position(
        spend, ["total_spend", "custkey"], pos_col="_pos"
    )
    # percent_rank = (rank - 1) / (n - 1) with rank counting ties by
    # VALUE only: min position within each spend value, a keyed window.
    w_val = Window.partitionBy("total_spend")
    pr = (
        (F.min("_pos").over(w_val) - F.lit(1)).cast("double")
        / F.lit(float(n - 1))
        if n > 1
        else F.lit(0.0)
    )
    return pos.select(
        "custkey",
        "total_spend",
        ntile_from_position("_pos", n, 4).alias("spend_quartile"),
        pr.alias("spend_pctrank"),
    )


# --------------------------------------------------------------------------
# Deterministic HyperLogLog distinct sketch (scale extension; the
# mergeable-sketch pattern for COUNT DISTINCT at 100 TB). Registers are
# md5-derived, so BOTH engines compute the identical sketch and the result
# is oracle-exact — unlike approx_count_distinct, whose engine-internal
# hashing can't be mirrored. m=64 buckets from hex[1:2]; rank from the
# leading-zero count of the 60-bit value in hex[3:17] (string-length of
# the minimal binary form — integer-exact in both engines); register sums
# go through DECIMAL(38,30) so summation order can't perturb the estimate.
# --------------------------------------------------------------------------

_HLL_M = 64
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007)
_HLL_LC = [266.168517, 221.807098, 195.857331, 177.445678, 163.164491, 151.495911, 141.630268, 133.084259, 125.546144, 118.803071, 112.70322, 107.134492, 102.011758, 97.268848, 92.853304, 88.722839, 84.842863, 81.184725, 77.724423, 74.441652, 71.319081, 68.3418, 65.496888, 62.773072, 60.160465, 57.650339, 55.234958, 52.907429, 50.661584, 48.491885, 46.393336, 44.36142, 42.392033, 40.481444, 38.626241, 36.823305, 35.069771, 33.363003, 31.700572, 30.080232, 28.499905, 26.957662, 25.45171, 23.980381, 22.542118, 21.135468, 19.759071, 18.411653, 17.092018, 15.799045, 14.531677, 13.288919, 12.069835, 10.873538, 9.699193, 8.546009, 7.413236, 6.300165, 5.206121, 4.130465, 3.07259, 2.031917, 1.007895, 0.0]
_HLL_LC_SQL = "[266.168517, 221.807098, 195.857331, 177.445678, 163.164491, 151.495911, 141.630268, 133.084259, 125.546144, 118.803071, 112.70322, 107.134492, 102.011758, 97.268848, 92.853304, 88.722839, 84.842863, 81.184725, 77.724423, 74.441652, 71.319081, 68.3418, 65.496888, 62.773072, 60.160465, 57.650339, 55.234958, 52.907429, 50.661584, 48.491885, 46.393336, 44.36142, 42.392033, 40.481444, 38.626241, 36.823305, 35.069771, 33.363003, 31.700572, 30.080232, 28.499905, 26.957662, 25.45171, 23.980381, 22.542118, 21.135468, 19.759071, 18.411653, 17.092018, 15.799045, 14.531677, 13.288919, 12.069835, 10.873538, 9.699193, 8.546009, 7.413236, 6.300165, 5.206121, 4.130465, 3.07259, 2.031917, 1.007895, 0.0]"

_HLL_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2))::BIGINT
           % {_HLL_M} AS bucket,
         61 - length(bin(
           ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 3, 15))::BIGINT
         )) AS rho
  FROM lineitem
), regs AS (
  SELECT bucket, MAX(rho) AS r FROM h GROUP BY bucket
), s AS (
  SELECT CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM regs
), est AS (
  SELECT zeros, {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom AS raw_est FROM s
), corrected AS (
  SELECT CASE WHEN raw_est <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE raw_est END AS hll_est
  FROM est
), e AS (
  SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
)
SELECT {_HLL_M} AS hll_m,
       ROUND(hll_est, 6) AS hll_estimate,
       exact_distinct,
       ROUND(abs(hll_est - exact_distinct)
             / exact_distinct * 100.0, 4) AS rel_error_pct
FROM corrected, e
"""


@query(
    "hll_distinct_sketch",
    _HLL_ORACLE,
    "Deterministic HyperLogLog COUNT DISTINCT (64 md5-derived registers): "
    "map-side register extraction -> 64-row MAX agg -> one-row estimate. "
    "The sketch is mergeable (MAX over registers), which is the whole "
    "point at 100 TB: partial sketches combine without a distinct shuffle",
    tags=("llm", "sketch", "approx", "bench"),
)
def q_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    regs = _hll_registers(li, "l_orderkey")
    sketch = regs.agg(*_hll_sketch_aggs())
    est = _hll_estimate()
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return (
        sketch.crossJoin(exact)
        .select(
            F.lit(_HLL_M).alias("hll_m"),
            F.round(est, 6).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * F.lit(100.0),
                4,
            ).alias("rel_error_pct"),
        )
    )


# --------------------------------------------------------------------------
# A9: AQI profile aggregate (the reference plan's validation query —
# doc/archive/AQI Calculation Implementation Plan.md:132-137)
# --------------------------------------------------------------------------


def _aqi_profile_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries import _aqi_oracle

    return f"""
WITH aqi_rows AS ({_aqi_oracle()})
SELECT event_date,
       COUNT(*) AS n_rows,
       COUNT(aqi) AS n_aqi,
       CAST(SUM(CAST(aqi AS DECIMAL(12,4))) AS DOUBLE) / COUNT(aqi) AS avg_aqi,
       MIN(aqi) AS min_aqi,
       MAX(aqi) AS max_aqi
FROM aqi_rows
GROUP BY event_date
ORDER BY event_date
"""


@query(
    "aqi_profile",
    _aqi_profile_oracle(),
    "AQI validation profile: COUNT(*)/COUNT(aqi)/AVG/MIN/MAX per day (A9, "
    "AQI plan lines 132-137) over aqi_bundle's SQL-string AQI",
    tags=("relational", "aqi", "bench"),
)
def q_aqi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    aqi_rows = REGISTRY["aqi_bundle"].fn(spark, sf_dir)
    return (
        aqi_rows.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("aqi").alias("n_aqi"),
            _davg(F.col("aqi"), "12,4").alias("avg_aqi"),
            F.min("aqi").alias("min_aqi"),
            F.max("aqi").alias("max_aqi"),
        )
        .orderBy("event_date")
    )


# --------------------------------------------------------------------------
# BPE-ish tokenization (training-data extension: "token counting
# (whitespace + a BPE-ish regex)"); the whitespace family is token_stats.
# --------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, simplified to its character classes: letter
# runs, digit runs, and single non-alphanumeric marks.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# NB: DuckDB string literals don't process backslash escapes, so the
# pattern is embedded verbatim (doubling the backslash would make the
# regex class exclude literal '\' and 's' instead of whitespace).
_BPE_ORACLE = rf"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
  CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS INTEGER) AS n_distinct_bpe,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_number_runs,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct
FROM documents
"""


@query(
    "bpe_token_stats",
    _BPE_ORACLE,
    "BPE-style pre-tokenizer counts per document (letter runs / digit runs "
    "/ punctuation marks via one regexp_extract_all scan projection)",
    tags=("llm", "text", "bench"),
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def n_matches(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_distinct_bpe"),
        n_matches(r"[0-9]+").alias("n_number_runs"),
        n_matches(r"[^A-Za-z0-9\s]").alias("n_punct"),
    )


# --------------------------------------------------------------------------
# As-of + range joins (time-series operators Spark lacks natively; the
# brief's canonical "custom operator" examples — operators/asof.py).
# DuckDB verifies the as-of semantics with its NATIVE ASOF JOIN.
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH views AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
), purchases AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
)
SELECT v.event_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS ts, v.value,
       CAST(p.ts AS TIMESTAMP) AS ts_purchase,
       p.event_id AS purchase_event_id,
       p.value AS purchase_value
FROM views v
ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts >= p.ts
"""


@query(
    "asof_last_purchase",
    _ASOF_ORACLE,
    "Backward as-of join: each view event picks up the user's most recent "
    "purchase at-or-before it. Union + keyed-window composition (one "
    "shuffle, no inequality-join blowup); oracle = DuckDB's native ASOF "
    "JOIN — two independent implementations of the semantics",
    tags=("relational", "timeseries", "bench"),
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.asof import asof_join
    from reddit_data_pipeline_engineering_spark.operators.dedup import window_dedup

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = window_dedup(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        ["user_id", "ts"],
        ["event_id"],
        keep="last",
    )
    joined = asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=("event_id", "value"),
        suffix="_purchase",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "ts_purchase",
        F.col("event_id_purchase").alias("purchase_event_id"),
        F.col("value_purchase").alias("purchase_value"),
    )


_RANGE_JOIN_ORACLE = """
WITH gaps AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE event_type = 'purchase'
), bounds AS (
  SELECT user_id, ts AS session_start,
         COALESCE(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                  TIMESTAMP '2100-01-01 00:00:00') AS session_end
  FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
)
SELECT b.user_id, CAST(b.session_start AS TIMESTAMP) AS session_start,
       COUNT(e.event_id) AS n_follow_events
FROM bounds b
JOIN events e
  ON e.user_id = b.user_id
 AND e.ts >= b.session_start AND e.ts < b.session_end
 AND e.event_type <> 'purchase'
GROUP BY b.user_id, b.session_start
ORDER BY b.user_id, session_start
"""


@query(
    "range_join_windows",
    _RANGE_JOIN_ORACLE,
    "Point-in-interval range join with an equi-key prefix: per-user "
    "purchase-to-purchase windows counted against subsequent activity — "
    "hash join on the key, range predicate as the join residual (never a "
    "nested-loop)",
    tags=("relational", "timeseries", "bench"),
)
def q_range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts")
    bounds = purchases.select(
        "user_id",
        F.col("ts").alias("session_start"),
        F.coalesce(
            F.lead("ts").over(w),
            F.lit("2100-01-01 00:00:00").cast("timestamp"),
        ).alias("session_end"),
    )
    others = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = range_join(
        others, bounds, on="user_id",
        point_ts="ts", interval_start="session_start", interval_end="session_end",
    )
    return (
        joined.groupBy("user_id", "session_start")
        .agg(F.count("event_id").alias("n_follow_events"))
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# Time-bucket rollup (hypertable-style continuous-aggregate shape): the
# engine's generalization of the reference's hourly raw-zone grain.
# --------------------------------------------------------------------------

# floor() before the BIGINT cast: DuckDB rounds double->int while Spark's
# timestamp->long truncates sub-second fractions.
_BUCKET_ORACLE = """
SELECT to_timestamp(CAST(floor(epoch(ts)) AS BIGINT) - (CAST(floor(epoch(ts)) AS BIGINT) % 900))::TIMESTAMP AS bucket_15m,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
WHERE ts < (SELECT MIN(ts) FROM events) + INTERVAL 2 DAY
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query(
    "time_bucket_rollup",
    _BUCKET_ORACLE,
    "15-minute time-bucket rollup per parameter over the stream's first "
    "two days (time_bucket = pure epoch integer arithmetic, codegen'd; "
    "the bucket is the groupBy/shuffle key — hypertable continuous-"
    "aggregate shape)",
    tags=("relational", "timeseries", "bench"),
)
def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.datetime_fns import (
        time_bucket,
    )

    ev = load_table(spark, sf_dir, "events")
    # min(ts) bound folded into the plan as a broadcast 1-row scalar
    # (same device as queries_streaming._with_min_ts) — one Spark job,
    # no driver-side .head() fetch.
    bound = ev.agg((F.min("ts") + F.expr("INTERVAL 2 DAYS")).alias("t_hi"))
    two_days = (
        ev.crossJoin(F.broadcast(bound))
        .filter(F.col("ts") < F.col("t_hi"))
        .drop("t_hi")
    )
    return (
        two_days.groupBy(
            time_bucket("ts", 15).alias("bucket_15m"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _davg(F.col("value"), "14,4").alias("avg_value"),
        )
        .orderBy("bucket_15m", "event_type")
    )


# --------------------------------------------------------------------------
# Unpivot (melt) — the wide->long inverse of the kernel's pivot (A1),
# closing the roundtrip: long -> marts wide -> long again.
# --------------------------------------------------------------------------


def _unpivot_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.config import EVENT_TYPES
    from reddit_data_pipeline_engineering_spark.plans.queries import _pivot_cols_sql

    return f"""
WITH wide AS (
  SELECT user_id, CAST(ts AS DATE) AS event_date,
    {_pivot_cols_sql()}
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, event_date, parameter, value
FROM wide
UNPIVOT (value FOR parameter IN ({", ".join(EVENT_TYPES)}))
WHERE value IS NOT NULL
"""


@query(
    "unpivot_roundtrip",
    _unpivot_oracle(),
    "Wide->long unpivot (melt) of the pivoted marts shape — the built-in "
    "unpivot operator, NULL cells dropped to mirror sparse long form",
    tags=("relational", "bench"),
)
def q_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.config import EVENT_TYPES
    from reddit_data_pipeline_engineering_spark.operators.pivot import (
        pivot_conditional,
        unpivot,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    wide = pivot_conditional(
        ev,
        ["user_id", "event_date"],
        "event_type",
        "value",
        EVENT_TYPES,
        agg="avg",
        exact_decimal="14,4",
    )
    long = unpivot(wide, ["user_id", "event_date"], list(EVENT_TYPES))
    return long.filter(F.col("value").isNotNull())


# --------------------------------------------------------------------------
# Statistical aggregates (OLAP extension): variance / stddev / correlation
# via exact decimal power sums, so both engines derive identical doubles
# from identical exact inputs (built-in stddev/corr stream doubles in
# engine-specific order — not hash-stable across engines).
# --------------------------------------------------------------------------

_STATS_ORACLE = """
WITH sums AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(14,4)) * CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(user_id AS DECIMAL(14,4))) AS DOUBLE) AS t1,
         CAST(SUM(CAST(user_id AS DECIMAL(14,4)) * CAST(user_id AS DECIMAL(14,4))) AS DOUBLE) AS t2,
         CAST(SUM(CAST(value AS DECIMAL(14,4)) * CAST(user_id AS DECIMAL(14,4))) AS DOUBLE) AS st
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       s1 / n AS mean_value,
       (s2 - s1 * s1 / n) / (n - 1) AS var_value,
       sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_value,
       (st - s1 * t1 / n)
         / (sqrt(s2 - s1 * s1 / n) * sqrt(t2 - t1 * t1 / n)) AS corr_value_user
FROM sums
ORDER BY event_type
"""


@query(
    "value_stats",
    _STATS_ORACLE,
    "Per-group mean/variance/stddev/correlation from exact decimal power "
    "sums (one aggregation pass; numerically reproducible across engines, "
    "unlike streaming-order-dependent built-in stddev/corr)",
    tags=("relational", "stats", "bench"),
)
def q_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(14,4)")
    u = F.col("user_id").cast("decimal(14,4)")
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
        F.sum(u).cast("double").alias("t1"),
        F.sum(u * u).cast("double").alias("t2"),
        F.sum(v * u).cast("double").alias("st"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    t1, t2, st = F.col("t1"), F.col("t2"), F.col("st")
    return sums.select(
        "event_type",
        "n",
        (s1 / n).alias("mean_value"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_value"),
        F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("stddev_value"),
        (
            (st - s1 * t1 / n)
            / (F.sqrt(s2 - s1 * s1 / n) * F.sqrt(t2 - t1 * t1 / n))
        ).alias("corr_value_user"),
    ).orderBy("event_type")


_HIST_ORACLE = """
SELECT CAST(floor(value / 25.0) AS INTEGER) AS bucket,
       COUNT(*) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY CAST(floor(value / 25.0) AS INTEGER)
ORDER BY bucket
"""


@query(
    "value_histogram",
    _HIST_ORACLE,
    "Fixed-width histogram binning (floor-divide bucketing): single "
    "hash-aggregate pass, the building block for distribution profiling",
    tags=("relational", "stats", "bench"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(25.0)).cast("int")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Equi-DEPTH histogram (r08) — the data-adaptive twin of value_histogram's
# fixed-width binning: 16 buckets each holding ~n/16 rows, the form query
# optimizers and data-skipping layouts actually want (equal-width bins
# collapse under skew). Edge k is the (k*n div 16)-th smallest value — an
# exact multiset order statistic from the bucket-bisection selection core
# (operators/selection.equi_depth_edges: mergeable conditional aggregates,
# no global sort; the NTILE window form would funnel the whole relation
# through one task). Rows bucket by comparison against the 15 broadcast
# edges — one aggregate pass. Duplicate edges (mass-tied data) legitimately
# starve buckets; both legs bucket as 1 + #{edges < x}, so starved buckets
# vanish identically.
# --------------------------------------------------------------------------

_EDH_B = 16

_EDH_ORACLE = f"""
WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
n AS (SELECT COUNT(*) AS c FROM v),
ranked AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
edges AS (
  SELECT r.x AS e
  FROM ranked r, n, range(1, {_EDH_B}) t(k)
  WHERE r.rn = (t.k * n.c) // {_EDH_B}
),
b AS (
  SELECT v.x,
         1 + (SELECT COUNT(*) FROM edges WHERE edges.e < v.x) AS bucket
  FROM v
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(x) AS lo,
       MAX(x) AS hi
FROM b GROUP BY bucket ORDER BY bucket
"""


@query(
    "equi_depth_histogram",
    _EDH_ORACLE,
    "Equi-depth 16-bucket histogram of lineitem extended price: exact "
    "edges from the distributed bucket-bisection selection core (no "
    "global sort), rows bucketed by comparison against the broadcast "
    "edges in one aggregate pass — the data-adaptive profile that "
    "fixed-width binning loses under skew",
    tags=("relational", "stats", "warehouse", "bench"),
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.selection import (
        equi_depth_edges,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    )
    # No localCheckpoint here (r11): the selection core persists its own
    # projected src for the edge passes, and the final bucket pass reads
    # ONE pushed-down parquet column — a columnar re-scan beats paying a
    # row-format checkpoint write + read at every scale (measured
    # 4.2 s -> 3.5 s warm at sf0.1).
    edges = equi_depth_edges(li, "x", _EDH_B)
    bucket = F.lit(1)
    for e in edges:
        bucket = bucket + (F.col("x") > F.lit(e)).cast("int")
    return (
        li.groupBy(bucket.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .orderBy("bucket")
    )


_PCTL_ORACLE = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "exact_percentiles_scalable",
    _PCTL_ORACLE,
    "Alias of exact_percentiles (same function, same oracle), kept so "
    "the registered name and its bench history stay",
    tags=("relational", "stats", "scale", "bench"),
)
@query(
    "exact_percentiles",
    _PCTL_ORACLE,
    "Exact interpolated percentiles per group (Spark percentile == SQL "
    "quantile_cont semantics). At 100 TB swap for approx_percentile; the "
    "exact form is the correctness baseline",
    tags=("relational", "stats", "bench"),
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            *[
                F.round(F.percentile("value", F.lit(p)), 6).alias(name)
                for p, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
            ]
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# S10: the spark.sql surface itself — prove a reference Athena user can run
# verbatim ANSI SQL against registered views (utils/athena_utils.py:38-175).
# --------------------------------------------------------------------------

_SQL_SURFACE_TEXT = """
SELECT n.n_name AS nation_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n_customers DESC, nation_name
"""


@query(
    "sql_surface",
    _SQL_SURFACE_TEXT,
    "The SQL entry point (S10/A5): verbatim ANSI text through spark.sql "
    "over registered views — the oracle runs the IDENTICAL string on "
    "DuckDB, proving dialect-portable output",
    tags=("relational", "sql", "bench"),
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("customer", "nation"))
    return spark.sql(_SQL_SURFACE_TEXT)


# --------------------------------------------------------------------------
# Gap filling — time-series forward fill per key. A masked value column
# (deterministic nulls) is carried alongside the fill so the oracle
# verifies both the mask and the fill. One window shuffle on the key;
# the running `last(ignorenulls)` is O(1) state per row in the frame.
# --------------------------------------------------------------------------

_FFILL_ORACLE = """
SELECT event_id, user_id,
  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_masked,
  last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
FROM events
"""


@query(
    "forward_fill",
    _FFILL_ORACLE,
    "Per-key forward fill of missing sensor values (deterministically "
    "masked every 7th event): last-non-null window with a unique "
    "tiebreak — the canonical time-series gap repair, one keyed shuffle",
    tags=("window", "ext", "bench"),
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    masked = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        masked.alias("value_masked"),
        F.last(masked, ignorenulls=True).over(w).alias("value_filled"),
    )


# --------------------------------------------------------------------------
# Snapshot diff — the CDC-style audit between two table versions. Both
# versions are deterministic views of `orders` (keys dropped, prices
# bumped) so the oracle replays the same derivation; the diff itself is
# one full-outer join on the key + conditional counts. At scale both
# sides shuffle once on the key (or co-locate for free if the snapshots
# are bucketed by it — catalog.save_bucketed_table).
# --------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS price FROM orders
  WHERE o_orderkey % 89 <> 0
), new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 97 <> 0
)
SELECT
  CAST(SUM(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(SUM(CASE WHEN n.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(SUM(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                 AND o.price <> n.price THEN 1 ELSE 0 END) AS BIGINT)
    AS n_changed,
  CAST(SUM(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                 AND o.price = n.price THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unchanged
FROM old o FULL OUTER JOIN new n ON o.k = n.k
"""


@query(
    "snapshot_diff_counts",
    _SNAPDIFF_ORACLE,
    "Snapshot diff audit (CDC shape): full-outer join of two deterministic "
    "table versions -> added/removed/changed/unchanged counts in one "
    "conditional aggregate",
    tags=("relational", "ext"),
)
def q_snapshot_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k_old"),
        F.col("o_totalprice").alias("price_old"),
    )
    new = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * F.lit(1.1)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price_new"),
    )
    j = old.join(new, old.k_old == new.k_new, "full_outer")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return j.agg(
        flag(F.col("k_old").isNull()).alias("n_added"),
        flag(F.col("k_new").isNull()).alias("n_removed"),
        flag(
            F.col("k_old").isNotNull()
            & F.col("k_new").isNotNull()
            & (F.col("price_old") != F.col("price_new"))
        ).alias("n_changed"),
        flag(
            F.col("k_old").isNotNull()
            & F.col("k_new").isNotNull()
            & (F.col("price_old") == F.col("price_new"))
        ).alias("n_unchanged"),
    )


# --------------------------------------------------------------------------
# Data-quality expectations report — the reference's five separate
# .count() checks generalized to a declarative rule list compiled into
# ONE aggregate pass (operators/expectations.py).
# --------------------------------------------------------------------------

_DQ_ORACLE = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
    CAST(SUM(CASE WHEN value < 0 OR value > 1000000 THEN 1 ELSE 0 END)
         AS BIGINT) AS v1,
    CAST(SUM(CASE WHEN event_type NOT IN
                  ('click','error','purchase','signup','view')
             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v3,
    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM events
)
SELECT 'value_not_null' AS rule, v0 AS n_violations, v0 = 0 AS passed FROM agg
UNION ALL
SELECT 'value_in_range', v1, v1 = 0 FROM agg
UNION ALL
SELECT 'event_type_accepted_values', v2, v2 = 0 FROM agg
UNION ALL
SELECT 'event_id_unique', v3, v3 = 0 FROM agg
UNION ALL
SELECT 'ts_not_null', v4, v4 = 0 FROM agg
"""


@query(
    "dq_expectations",
    _DQ_ORACLE,
    "Declarative data-quality expectations (not-null, range, accepted "
    "values, uniqueness) compiled into ONE aggregate pass over one scan — "
    "vs the reference's five separate count() materializations",
    tags=("relational", "audit"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.config import EVENT_TYPES
    from reddit_data_pipeline_engineering_spark.operators import expectations as ex

    ev = load_table(spark, sf_dir, "events")
    return ex.validate(
        ev,
        [
            ex.not_null("value"),
            ex.in_range("value", 0, 1_000_000),
            ex.accepted_values("event_type", list(EVENT_TYPES)),
            ex.unique("event_id"),
            ex.not_null("ts"),
        ],
    )


# --------------------------------------------------------------------------
# Deterministic count-min sketch (sketch family, next to the HLL): bounded-
# memory frequency estimation for heavy hitters. d*w counters (4*32 here)
# regardless of vocabulary size, built with ONE hash aggregate over the
# exploded token stream; estimates are MIN over the d counters, so the
# sketch only ever OVERcounts — the audit columns report the overcount
# against the exact top-20. Mergeable by cellwise addition, which is the
# scale contract: partial sketches from 100 TB of partitions combine
# without shuffling tokens. All d hash rows are md5-derived (same device
# as the split/bloom queries), so the oracle replays the sketch exactly.
# --------------------------------------------------------------------------

_CM_D = 4   # hash rows
_CM_W = 32  # counters per row — sized so the testdata vocabulary actually
            # collides (5 of the top-20 overcount at sf0.01), keeping the
            # overcount audit column non-trivial; production sizing is
            # w = ceil(e / eps) for an eps*N overcount bound

# DuckDB mirror of functions/text.tokens (same literal as queries_llm._TOKS).
_TOKS_EXT = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"


def _cm_h_sql(i: int) -> str:
    from reddit_data_pipeline_engineering_spark.operators.bloom import (
        salted_md5_pos_sql,
    )

    return salted_md5_pos_sql("token", i, _CM_W)


_CM_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT unnest({_TOKS_EXT}) AS token FROM documents
),
sk AS MATERIALIZED (
  SELECT j, h, COUNT(*) AS cnt FROM (
    {' UNION ALL '.join(f"SELECT {i} AS j, {_cm_h_sql(i)} AS h FROM tok" for i in range(_CM_D))}
  ) GROUP BY j, h
),
exact AS MATERIALIZED (
  SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY token
  ORDER BY n_exact DESC, token LIMIT 20
),
probe AS (
  {' UNION ALL '.join(f"SELECT token, n_exact, {i} AS j, {_cm_h_sql(i)} AS h FROM exact" for i in range(_CM_D))}
)
SELECT p.token, p.n_exact, MIN(sk.cnt) AS cm_estimate,
       MIN(sk.cnt) - p.n_exact AS overcount
FROM probe p JOIN sk USING (j, h)
GROUP BY p.token, p.n_exact
ORDER BY p.n_exact DESC, p.token
"""




@query(
    "countmin_heavy_hitters",
    _CM_ORACLE,
    "Deterministic count-min sketch: d=4 md5 hash rows x w=32 counters "
    "(bounded memory at ANY vocabulary size) built in one hash aggregate "
    "over the token stream; exact top-20 probed back through the sketch "
    "with the guaranteed-nonnegative overcount as an audited column. "
    "Mergeable by cellwise addition — partial sketches combine without "
    "shuffling tokens",
    tags=("llm", "sketch", "approx"),
)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions import text as tx

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokens("text").alias("__t")).select(
        F.explode("__t").alias("token")
    )
    from reddit_data_pipeline_engineering_spark.operators.bloom import (
        bloom_positions,
    )

    hashes = F.array(*bloom_positions(F.col("token"), _CM_W, _CM_D))
    sketch = (
        toks.select(F.posexplode(hashes).alias("j", "h"))
        .groupBy("j", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("token").asc())
        .limit(20)
    )
    probe = exact.select("token", "n_exact", F.posexplode(hashes).alias("j", "h"))
    return (
        probe.join(sketch, ["j", "h"])
        .groupBy("token", "n_exact")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "token",
            "n_exact",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.col("n_exact").desc(), F.col("token").asc())
    )


# --------------------------------------------------------------------------
# Per-group z-score outlier audit (stats family): moments via DECIMAL
# sums (order-independent -> engine-exact), then mean/var/std/z in
# mirrored double expression trees. sqrt is IEEE correctly-rounded in
# both engines, so even std and the per-row z replay bit-identically.
# One keyed window shuffle; the grouped outlier rollup reuses the same
# partitioning (no second exchange).
# --------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT event_type, value,
         COUNT(value) OVER w AS n,
         CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(14,4)) * CAST(value AS DECIMAL(14,4)))
              OVER w AS DOUBLE) AS ss
  FROM events
  WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY event_type)
), z AS (
  SELECT event_type, n, s / n AS mean,
         sqrt(GREATEST(0.0, ss / n - (s / n) * (s / n))) AS std,
         (value - s / n)
           / sqrt(GREATEST(0.0, ss / n - (s / n) * (s / n))) AS zval
  FROM stats
)
SELECT event_type,
       CAST(MIN(n) AS BIGINT) AS n_values,
       ROUND(MIN(mean), 6) AS mean_value,
       ROUND(MIN(std), 6) AS std_value,
       CAST(SUM(CASE WHEN abs(zval) > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(MAX(abs(zval)), 6) AS max_abs_z
FROM z
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "zscore_outliers",
    _ZSCORE_ORACLE,
    "Per-group z-score outlier audit: decimal-exact moments in one keyed "
    "window (order-independent sums), mirrored double mean/std/z trees "
    "(IEEE sqrt is correctly rounded -> bit-identical replay), grouped "
    "outlier rollup reusing the window's partitioning",
    tags=("relational", "stats"),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type")
    dec = F.col("value").cast("decimal(14,4)")
    n = F.count("value").over(w)
    s = F.sum(dec).over(w).cast("double")
    ss = F.sum(dec * dec).over(w).cast("double")
    mean = s / n
    # greatest(0, var): a zero-variance group can round to a tiny negative
    # double, which DuckDB's sqrt hard-errors on (Spark would yield NaN) —
    # clamp in BOTH trees so the mirror stays exact.
    std = F.sqrt(F.greatest(F.lit(0.0), ss / n - (s / n) * (s / n)))
    zval = (F.col("value") - s / n) / std
    z = ev.select(
        "event_type",
        n.alias("n"),
        mean.alias("mean"),
        std.alias("std"),
        zval.alias("zval"),
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.min("n").cast("long").alias("n_values"),
            F.round(F.min("mean"), 6).alias("mean_value"),
            F.round(F.min("std"), 6).alias("std_value"),
            F.sum(F.when(F.abs(F.col("zval")) > 3, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max(F.abs(F.col("zval"))), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Per-group top-N (rank <= N inside each partition) — the window shape
# Spark 3.5+ compiles to WindowGroupLimit: each map task keeps only N
# rows per group BEFORE the shuffle, so the exchange carries O(groups*N)
# rows, not the whole table. Distinct from the global top-k family
# (TakeOrderedAndProject) and pinned by test_plan_shape.
# --------------------------------------------------------------------------

_TOPN_ORACLE = """
WITH ranked AS (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
         rank() OVER (PARTITION BY s_nationkey
                      ORDER BY s_acctbal DESC, s_suppkey) AS rnk
  FROM supplier
)
SELECT s_nationkey, CAST(rnk AS INTEGER) AS rnk, s_suppkey, s_name, s_acctbal
FROM ranked
WHERE rnk <= 3
ORDER BY s_nationkey, rnk
"""


@query(
    "topn_per_group",
    _TOPN_ORACLE,
    "Top-3 suppliers by account balance per nation: rank window + rank<=N "
    "filter, compiled by Spark to WindowGroupLimit — map-side per-group "
    "pruning so the exchange carries O(groups*N) rows, the per-group "
    "counterpart of TakeOrderedAndProject (deterministic suppkey tiebreak)",
    tags=("relational", "window"),
)
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    return (
        sup.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("s_nationkey", "rnk", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_nationkey", "rnk")
    )


# --------------------------------------------------------------------------
# Typed from_json parsing (F7 companion): parse the JSON-string props
# column into a typed struct ONCE, then aggregate on the typed fields —
# the schema-pinned alternative to per-field get_json_object when several
# fields are read (one parse vs one parse per field).
# --------------------------------------------------------------------------

_STRUCT_ORACLE = """
SELECT CAST(props_k AS INTEGER) % 7 AS k_mod,
       COUNT(*) AS n_events,
       CAST(MIN(props_k) AS INTEGER) AS min_k,
       CAST(MAX(props_k) AS INTEGER) AS max_k
FROM (
  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS props_k
  FROM events
)
WHERE props_k IS NOT NULL
GROUP BY CAST(props_k AS INTEGER) % 7
ORDER BY k_mod
"""


@query(
    "props_struct_parse",
    _STRUCT_ORACLE,
    "from_json with a pinned StructType: the props JSON string parses to "
    "a typed struct once per row (vs one get_json_object tree walk per "
    "field), then typed-field aggregation — the schema-contract way to "
    "consume semi-structured columns (F7 companion, extract_api.py:240-247)",
    tags=("relational", "json"),
)
def q_props_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.IntegerType(), True)])
    parsed = ev.select(
        F.from_json("props", schema).alias("p")
    ).select(F.col("p.k").alias("props_k"))
    return (
        parsed.filter(F.col("props_k").isNotNull())
        .groupBy((F.col("props_k") % 7).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("props_k").cast("int").alias("min_k"),
            F.max("props_k").cast("int").alias("max_k"),
        )
        .orderBy("k_mod")
    )


# --------------------------------------------------------------------------
# GROUPED HyperLogLog — the mergeable-sketch pattern in its grouped form:
# one (group, bucket) MAX aggregate builds every group's 64 registers in
# a single pass (vs one COUNT DISTINCT shuffle over the full key set per
# group), estimates ride a 64-row-per-group rollup. Same md5-derived
# registers as the global hll_distinct_sketch, so the replay is exact.
# --------------------------------------------------------------------------

# Linear-counting small-range correction (Flajolet et al. 2007): when the
# raw estimate <= 2.5*m and empty registers exist, estimate = m*ln(m/zeros).
# The 64 possible ln values are PYTHON-COMPUTED literals shared by both
# engines, so the correction never touches engine libm and parity is exact.
def _hll_registers(df, key, group_cols=()):
    """Shared register extraction: md5-derived (bucket, rho) -> per-group
    MAX registers. Single source of truth for all three HLL queries."""
    h = F.md5(F.col(key).cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % _HLL_M
    rho = F.lit(61) - F.length(
        F.conv(F.conv(F.substring(h, 3, 15), 16, 10), 10, 2)
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def _hll_sketch_aggs():
    """Aggregates over a register set: (denom, zeros) for the estimator."""
    denom = (
        F.sum(F.pow(F.lit(2.0), -F.col("r")).cast("decimal(38,30)"))
        .cast("double")
        + (F.lit(_HLL_M) - F.count(F.lit(1))).cast("double")
    )
    zeros = (F.lit(_HLL_M) - F.count(F.lit(1))).cast("int")
    return denom.alias("denom"), zeros.alias("zeros")


def _hll_estimate():
    """Raw estimator + linear-counting small-range correction (shared
    literal table — never engine libm)."""
    raw = F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M)) / F.col("denom")
    return F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("zeros") > 0),
        F.element_at(F.lit(_HLL_LC), F.col("zeros")),
    ).otherwise(raw)



_HLL_GROUPED_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
           % {_HLL_M} AS bucket,
         61 - length(bin(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT
         )) AS rho
  FROM events
), regs AS (
  SELECT event_type, bucket, MAX(rho) AS r FROM h GROUP BY event_type, bucket
), s AS (
  SELECT event_type,
         CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type, zeros,
         {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom AS raw_est
  FROM s
), corrected AS (
  SELECT event_type,
         CASE WHEN raw_est <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE raw_est END AS hll_est
  FROM est
), e AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT c.event_type,
       ROUND(hll_est, 6) AS hll_estimate,
       exact_distinct,
       ROUND(abs(hll_est - exact_distinct)
             / exact_distinct * 100.0, 4) AS rel_error_pct
FROM corrected c JOIN e USING (event_type)
ORDER BY c.event_type
"""


@query(
    "hll_grouped_distinct",
    _HLL_GROUPED_ORACLE,
    "Grouped HyperLogLog distinct-users per event type: all groups' 64 "
    "registers built in ONE (group, bucket) MAX pass — the mergeable "
    "alternative to a per-group COUNT DISTINCT expand at 100 TB; exact "
    "count and realized error reported alongside",
    tags=("llm", "sketch", "approx"),
)
def q_hll_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    regs = _hll_registers(ev, "user_id", group_cols=("event_type",))
    sketch = regs.groupBy("event_type").agg(*_hll_sketch_aggs())
    est = _hll_estimate()
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            F.round(est, 6).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * F.lit(100.0),
                4,
            ).alias("rel_error_pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Cohort retention — the canonical warehouse growth query: users grouped
# by first-activity week, retained share per week offset. Two keyed
# aggregates (per-user first week; distinct (cohort, offset, user)) and
# one rollup; week ids are epoch arithmetic mirrored exactly in SQL.
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH t0 AS (
  SELECT CAST(floor(epoch(MIN(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS sec0
  FROM events
), act AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR((CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                     - sec0) / 604800.0) AS BIGINT) AS week
  FROM events CROSS JOIN t0
), firstw AS (
  SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(a.week - f.cohort_week AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN firstw f USING (user_id)
GROUP BY f.cohort_week, a.week - f.cohort_week
ORDER BY cohort_week, week_offset
"""


@query(
    "cohort_retention",
    _COHORT_ORACLE,
    "Weekly cohort retention in ONE keyed shuffle + one rollup: the "
    "per-user distinct-week set is a single collect_set aggregate "
    "(bounded by the corpus's week count, not its row count), the "
    "cohort week is its array_min, and after explode each (user, "
    "offset) is unique so the rollup is a plain COUNT — no second "
    "distinct pass, no user_id re-join, no count-distinct expansion",
    tags=("relational", "warehouse", "stats", "bench"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    t0 = ev.agg(F.min(sec).alias("sec0"))
    # collect_set partial-aggregates map-side (ObjectHashAggregate), so
    # the one shuffle moves <= |weeks-in-corpus| longs per user — at
    # 100 TB that is ~100s of values, not the user's event count.
    peruser = (
        ev.crossJoin(F.broadcast(t0))
        .select(
            "user_id",
            F.floor((sec - F.col("sec0")) / F.lit(604800.0))
            .cast("long")
            .alias("week"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
    )
    exploded = peruser.select(
        F.array_min("weeks").alias("cohort_week"),
        F.explode("weeks").alias("week"),
    )
    return (
        exploded.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Funnel conversion — the event-analytics staple: for each user, did a
# 'purchase' follow a 'click' within 30 minutes? As-of semantics done
# with ONE keyed window (last click carried forward over the interleaved
# stream), not an inequality join — the same O(n log n)-per-key shape as
# operators/asof.py, reported as a per-step funnel.
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS last_click
  FROM events
), conv AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         MAX(CASE WHEN event_type = 'purchase' AND last_click IS NOT NULL
                   AND ts <= last_click + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END) AS converted
  FROM ordered
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(clicked) AS BIGINT) AS n_clicked,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(SUM(converted) * 1.0 / SUM(clicked), 6) AS conversion_rate
FROM conv
"""


@query(
    "funnel_conversion",
    _FUNNEL_ORACLE,
    "Click->purchase funnel within 30 minutes: last-click carried forward "
    "by ONE keyed window over the interleaved event stream (the as-of "
    "composition, no inequality join), then a per-user flag rollup — "
    "users / clicked / converted / rate",
    tags=("relational", "window", "stats", "bench"),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ts = F.col("ts").cast("timestamp")
    last_click = F.max(
        F.when(F.col("event_type") == "click", ts)
    ).over(w)
    ordered = ev.select(
        "user_id",
        ts.alias("ts"),
        "event_type",
        last_click.alias("last_click"),
    )
    conv = ordered.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("clicked"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("last_click").isNotNull()
                & (F.col("ts") <= F.col("last_click") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0)
        ).alias("converted"),
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("clicked").cast("long").alias("n_clicked"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted") * 1.0 / F.sum("clicked"), 6
        ).alias("conversion_rate"),
    )


# --------------------------------------------------------------------------
# Ratio-to-report — each nation's share of total revenue via an
# unpartitioned window sum over the 25-row aggregate (NOT over the fact
# table: aggregate first, window the tiny result). Decimal-exact
# numerators; the share division is mirrored double ops.
# --------------------------------------------------------------------------

_RATIO_ORACLE = """
WITH rev AS (
  SELECT n_name,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, CAST(rev_dec AS DOUBLE) AS nation_revenue,
       ROUND(CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER () AS DOUBLE) * 100.0, 6)
         AS revenue_share_pct
FROM rev
ORDER BY n_name
"""


@query(
    "ratio_to_report",
    _RATIO_ORACLE,
    "Ratio-to-report: per-nation revenue share via an unpartitioned "
    "window over the ALREADY-AGGREGATED 25-row relation (aggregate "
    "first, window the tiny result — never a global window over the "
    "fact table); broadcast dims, decimal-exact numerators",
    tags=("relational", "window"),
)
def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        # Keep the per-nation sum DECIMAL until after the window total:
        # a double window-sum would be summation-order-dependent (the
        # repo's decimal-sum parity convention).
        .agg(
            F.sum(F.col("l_extendedprice").cast(f"decimal({DEC_PRICE})"))
            .alias("rev_dec")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.col("rev_dec").cast("double").alias("nation_revenue"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double")
            * 100.0,
            6,
        ).alias("revenue_share_pct"),
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# Exact per-group median. The oracle selects the middle one/two values by
# row_number against the group count and averages them; Spark's exact
# `percentile(value, 0.5)` returns the same double (odd n: the middle
# value; even n: 0.5*a + 0.5*b, which rounds exactly like (a+b)/2). It is
# a mergeable partial aggregate (a value->count map per group), so no
# task ever sorts a whole group.
# --------------------------------------------------------------------------

_MEDIAN_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT event_type, CAST(MIN(n) AS BIGINT) AS n_values,
       SUM(value) / COUNT(*) AS median_value
FROM ranked
WHERE rn * 2 = n OR rn * 2 = n + 1 OR rn * 2 = n + 2
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "grouped_median_plan_state",
    _MEDIAN_ORACLE,
    "Alias of grouped_median (same function, same oracle), kept so the "
    "registered name and its bench history stay",
    tags=("relational", "stats", "scale", "bench"),
)
@query(
    "grouped_median_scalable",
    _MEDIAN_ORACLE,
    "Alias of grouped_median (same function, same oracle), kept so the "
    "registered name and its bench history stay",
    tags=("relational", "stats", "scale", "bench"),
)
@query(
    "grouped_median",
    _MEDIAN_ORACLE,
    "Exact per-group median via Spark's percentile(value, 0.5): a "
    "mergeable partial aggregate, one keyed shuffle, no per-group sort; "
    "equals the oracle's mean of the middle one/two rank-selected rows",
    tags=("relational", "stats"),
)
def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.percentile("value", F.lit(0.5)).alias("median_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# HLL register MERGE — the mergeability contract demonstrated: the
# 'click' and 'view' sketches are built INDEPENDENTLY (per-type register
# sets, as a partitioned build would produce), then combined by cellwise
# MAX into the sketch of the union — no rescan of the underlying keys.
# This is exactly how per-partition partial sketches combine at 100 TB.
# --------------------------------------------------------------------------

_HLL_MERGE_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
           % {_HLL_M} AS bucket,
         61 - length(bin(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT
         )) AS rho
  FROM events
  WHERE event_type IN ('click', 'view')
), per_type AS (
  SELECT event_type, bucket, MAX(rho) AS r
  FROM h GROUP BY event_type, bucket
), merged AS (
  SELECT bucket, MAX(r) AS r FROM per_type GROUP BY bucket
), s AS (
  SELECT CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM merged
), est AS (
  SELECT zeros, {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom AS raw_est FROM s
), corrected AS (
  SELECT CASE WHEN raw_est <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE raw_est END AS hll_est
  FROM est
), e AS (
  SELECT COUNT(DISTINCT user_id) AS exact_distinct
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT ROUND(hll_est, 6) AS hll_estimate,
       exact_distinct,
       ROUND(abs(hll_est - exact_distinct) / exact_distinct * 100.0, 4)
         AS rel_error_pct
FROM corrected, e
"""


@query(
    "hll_union_merge",
    _HLL_MERGE_ORACLE,
    "HLL mergeability demonstrated: the click and view sketches are "
    "built independently, then combined by cellwise register MAX into "
    "the union's sketch — the partial-combine step a 100 TB tree "
    "aggregation performs, verified against the exact union distinct",
    tags=("llm", "sketch", "approx", "bench"),
)
def q_hll_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per_type = _hll_registers(ev, "user_id", group_cols=("event_type",))
    merged = per_type.groupBy("bucket").agg(F.max("r").alias("r"))
    s = merged.agg(*_hll_sketch_aggs())
    est = _hll_estimate()
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return s.crossJoin(exact).select(
        F.round(est, 6).alias("hll_estimate"),
        "exact_distinct",
        F.round(
            F.abs(est - F.col("exact_distinct"))
            / F.col("exact_distinct")
            * F.lit(100.0),
            4,
        ).alias("rel_error_pct"),
    )


# --------------------------------------------------------------------------
# Bounded-state approximate order statistics (VERDICT r02 #4). The exact
# variants (grouped_median, exact_percentiles) merge a value->count map
# per group, whose size grows with the group's DISTINCT values. These
# twins use percentile_approx (Greenwald-Khanna sketch: partial-
# aggregated map-side, mergeable, state bounded by the accuracy
# parameter, one ordinary keyed shuffle).
#
# Oracle strategy: a sketch value cannot be mirrored in DuckDB, so the
# oracle pins the sketch's RANK-ERROR CONTRACT instead. The Spark side
# joins the sketch output back to the exact data (broadcast — one row
# per group), computes the returned value's true rank interval, and
# emits `TRUE` iff it lies within the documented eps = 1/accuracy rank
# band. The oracle emits the exact group counts and literal TRUE — so
# the driver's full hash gate stays in force, and it fails if the sketch
# ever violates its accuracy guarantee.
# --------------------------------------------------------------------------

_APPROX_ACC = 10_000  # GK accuracy parameter -> eps = 1/10000 rank error


def _rank_ok(p: float, n, lt, le):
    """True iff the true-rank interval [lt+1, le] of the sketch's answer
    intersects the allowed band [(p-eps)*n - 1, (p+eps)*n + 1] (slack of
    one rank on each side for the floor/ceil conventions)."""
    eps = 1.0 / _APPROX_ACC
    lo = F.floor((F.lit(p) - F.lit(eps)) * n) - F.lit(1)
    hi = F.ceil((F.lit(p) + F.lit(eps)) * n) + F.lit(1)
    return (le >= lo) & ((lt + F.lit(1)) <= hi)


_MEDIAN_APPROX_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       TRUE AS median_within_eps
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "grouped_median_approx",
    _MEDIAN_APPROX_ORACLE,
    "Scale-safe twin of grouped_median: percentile_approx(0.5) sketch "
    "(mergeable partial agg, no per-group global sort) whose rank-error "
    "contract is verified in-plan against the exact data — the oracle "
    "pins the contract, so a sketch regression fails the driver hash",
    tags=("relational", "stats", "approx", "bench"),
)
def q_grouped_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(_APPROX_ACC)).alias("m"),
    )
    counts = (
        ev.join(F.broadcast(apx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("m"), 1).otherwise(0)).alias("lt"),
            F.sum(F.when(F.col("value") <= F.col("m"), 1).otherwise(0)).alias("le"),
        )
    )
    return counts.select(
        "event_type",
        F.col("n").cast("long").alias("n_values"),
        _rank_ok(0.5, F.col("n"), F.col("lt"), F.col("le")).alias(
            "median_within_eps"
        ),
    ).orderBy("event_type")


_PCTL_APPROX_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "percentiles_approx",
    _PCTL_APPROX_ORACLE,
    "Scale-safe twin of exact_percentiles: one percentile_approx sketch "
    "pass for p50/p90/p99 per group, rank-error contract verified "
    "in-plan (broadcast join of the 1-row-per-group sketch output back "
    "to the exact data); oracle pins the contract booleans + exact "
    "group counts",
    tags=("relational", "stats", "approx", "bench"),
)
def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(_APPROX_ACC)
        ).alias("ms"),
    )
    joined = ev.join(F.broadcast(apx), "event_type")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(3):
        m = F.col("ms")[i]
        aggs.append(
            F.sum(F.when(F.col("value") < m, 1).otherwise(0)).alias(f"lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("value") <= m, 1).otherwise(0)).alias(f"le{i}")
        )
    counts = joined.groupBy("event_type").agg(*aggs)
    return counts.select(
        "event_type",
        F.col("n").cast("long").alias("n_values"),
        *[
            _rank_ok(p, F.col("n"), F.col(f"lt{i}"), F.col(f"le{i}")).alias(name)
            for i, (p, name) in enumerate(
                ((0.5, "p50_ok"), (0.9, "p90_ok"), (0.99, "p99_ok"))
            )
        ],
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# HLL set algebra: intersection estimate by inclusion-exclusion over
# three sketches (|A∩B| ≈ est(A) + est(B) - est(A∪B), with the union
# sketch from the cellwise register MAX merge). The sketch-algebra step
# every cross-corpus overlap report runs at 100 TB — no rescan of the
# underlying keys; verified against the exact intersection distinct.
# --------------------------------------------------------------------------

_HLL_INTER_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
           % {_HLL_M} AS bucket,
         61 - length(bin(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT
         )) AS rho
  FROM events
  WHERE event_type IN ('click', 'view')
), per_type AS (
  SELECT event_type, bucket, MAX(rho) AS r
  FROM h GROUP BY event_type, bucket
), st AS (
  SELECT event_type,
         CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM per_type GROUP BY event_type
), ct AS (
  SELECT event_type,
         CASE WHEN {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom
                   <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom END AS est
  FROM st
), typed AS (
  SELECT MAX(CASE WHEN event_type = 'click' THEN est END) AS est_click,
         MAX(CASE WHEN event_type = 'view' THEN est END) AS est_view
  FROM ct
), merged AS (
  SELECT bucket, MAX(r) AS r FROM per_type GROUP BY bucket
), sm AS (
  SELECT CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM merged
), cu AS (
  SELECT CASE WHEN {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom
                   <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom END
           AS est_union
  FROM sm
), e AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
    SELECT user_id FROM (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE event_type IN ('click', 'view'))
    GROUP BY user_id HAVING COUNT(*) = 2)
)
SELECT ROUND(est_click + est_view - est_union, 6)
         AS hll_intersection_estimate,
       exact_intersection,
       ROUND(abs(est_click + est_view - est_union - exact_intersection)
             / exact_intersection * 100.0, 4) AS rel_error_pct
FROM typed, cu, e
"""


@query(
    "hll_intersection_estimate",
    _HLL_INTER_ORACLE,
    "HLL set algebra: |A∩B| by inclusion-exclusion over the click/view "
    "sketches and their register-MAX union merge — the sketch-only "
    "overlap report (no key rescan), verified against the exact "
    "intersection distinct",
    tags=("llm", "sketch", "approx"),
)
def q_hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per_type = _hll_registers(ev, "user_id", group_cols=("event_type",))
    typed_est = (
        per_type.groupBy("event_type")
        .agg(*_hll_sketch_aggs())
        .select("event_type", _hll_estimate().alias("est"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", F.col("est"))
            ).alias("est_click"),
            F.max(
                F.when(F.col("event_type") == "view", F.col("est"))
            ).alias("est_view"),
        )
    )
    union_est = (
        per_type.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .agg(*_hll_sketch_aggs())
        .select(_hll_estimate().alias("est_union"))
    )
    exact = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    inter = F.col("est_click") + F.col("est_view") - F.col("est_union")
    return (
        typed_est.crossJoin(union_est)
        .crossJoin(exact)
        .select(
            F.round(inter, 6).alias("hll_intersection_estimate"),
            "exact_intersection",
            F.round(
                F.abs(inter - F.col("exact_intersection"))
                / F.col("exact_intersection")
                * F.lit(100.0),
                4,
            ).alias("rel_error_pct"),
        )
    )


# --------------------------------------------------------------------------
# Time-series resampling to a regular grid with gap fill — the missing
# half of forward_fill: generate the dense hourly grid per entity
# (sequence + explode between each user's min/max hour), left-join the
# hourly rollup, zero-fill counts and forward-fill the running average.
# Grid size is bounded by the TIME RANGE, not the row count, so the
# explode is model-sized at any corpus scale.
# --------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH t0 AS (
  SELECT MIN(CAST(ts AS TIMESTAMP)) AS start_ts FROM events
), day AS (
  SELECT user_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS hb,
         value
  FROM events CROSS JOIN t0
  WHERE CAST(ts AS TIMESTAMP) < start_ts + INTERVAL 1 DAY
), b AS (
  SELECT user_id, hb,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) / COUNT(value)
           AS avg_v
  FROM day GROUP BY user_id, hb
), bounds AS (
  SELECT user_id, MIN(hb) AS lo, MAX(hb) AS hi FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS hb FROM bounds
)
SELECT g.user_id,
       to_timestamp(g.hb * 3600)::TIMESTAMP AS hour_ts,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events,
       last_value(b.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hb
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
FROM grid g LEFT JOIN b USING (user_id, hb)
"""


@query(
    "resample_hourly_gapfill",
    _RESAMPLE_ORACLE,
    "Resample each user's first-day events onto the dense hourly grid "
    "(sequence/explode between per-user min/max hour — grid bounded by "
    "the time range, not row count), left-join the hourly rollup, "
    "zero-fill counts, forward-fill the decimal-exact hourly average",
    tags=("relational", "timeseries"),
)
def q_resample_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.agg(F.min("ts").alias("start_ts"))
    sec = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    day = (
        ev.crossJoin(F.broadcast(t0))
        .filter(F.col("ts") < F.col("start_ts") + F.expr("INTERVAL 1 DAYS"))
        .select(
            "user_id",
            (sec / 3600).cast("long").alias("hb"),
            "value",
        )
    )
    b = day.groupBy("user_id", "hb").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(14,4)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
    )
    bounds = b.groupBy("user_id").agg(
        F.min("hb").alias("lo"), F.max("hb").alias("hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("hb")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(b, ["user_id", "hb"], "left").select(
        "user_id",
        F.timestamp_seconds(F.col("hb") * 3600).alias("hour_ts"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.last("avg_v", ignorenulls=True).over(w).alias("filled_avg"),
    )


# --------------------------------------------------------------------------
# Per-group OLS trend — closed-form regression of value on time from
# exact-decimal power sums (Sx, Sy, Sxx, Sxy): one aggregate pass,
# fully mergeable, the same numeric device as value_stats. Slope is
# reported per day; x is seconds since the corpus start so the decimal
# magnitudes stay bounded.
# --------------------------------------------------------------------------

_LINREG_ORACLE = """
WITH t0 AS (
  SELECT CAST(floor(epoch(MIN(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS sec0
  FROM events
), d AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) - sec0 AS x,
         value
  FROM events CROSS JOIN t0
  WHERE value IS NOT NULL
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(value AS DECIMAL(14,4)))
              AS DOUBLE) AS sxy
  FROM d GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400.0, 6)
         AS slope_per_day,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM s
ORDER BY event_type
"""


@query(
    "grouped_linreg_trend",
    _LINREG_ORACLE,
    "Closed-form per-group OLS (value ~ time): exact-decimal power sums "
    "in ONE mergeable aggregate pass, slope/intercept from the normal "
    "equations in mirrored double arithmetic — the trend-per-segment "
    "report without any iterative fitting",
    tags=("relational", "stats"),
)
def q_grouped_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sec = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    t0 = ev.agg(F.min(sec).alias("sec0"))
    d = ev.crossJoin(F.broadcast(t0)).select(
        "event_type",
        (sec - F.col("sec0")).alias("x"),
        "value",
    )
    xd = F.col("x").cast("decimal(18,0)")
    vd = F.col("value").cast("decimal(14,4)")
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(vd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(xd * vd).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        n.cast("long").alias("n_points"),
        F.round(slope * F.lit(86400.0), 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Robust outlier audit: median / MAD (median absolute deviation) — the
# skew-immune twin of zscore_outliers. Both medians are LOWER-MIDDLE rank
# selections (rn = (n+1) div 2), so they are actual data values and no
# interpolation formula enters; |x - med| and 3*mad are single mirrored
# IEEE ops. Spark's percentile_disc(0.5) selects exactly that row, as a
# mergeable partial aggregate: one per-group aggregate for med, one for
# the MAD over the broadcast-med deviations, then one broadcast-joined
# rollup. No window, no per-group sort.
# --------------------------------------------------------------------------

_MAD_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY ABS(e.value - m.med), e.event_id) AS rn,
         COUNT(*) OVER (PARTITION BY e.event_type) AS n
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
),
mad AS (
  SELECT event_type, med, adev AS mad FROM dev WHERE rn = (n + 1) // 2
)
SELECT e.event_type, m.med, m.mad,
  CAST(SUM(CASE WHEN ABS(e.value - m.med) > 3 * m.mad THEN 1 ELSE 0 END)
       AS BIGINT) AS n_outliers,
  COUNT(*) AS n_values
FROM events e JOIN mad m USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type, m.med, m.mad
ORDER BY e.event_type
"""


def _lower_median(order_by: str):
    """Lower-middle order statistic (1-based rank (n+1) div 2) of a SQL
    expression: an actual data value, no interpolation."""
    return F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {order_by})")


@query(
    "mad_outliers_scalable",
    _MAD_ORACLE,
    "Alias of mad_outliers (same function, same oracle), kept so the "
    "registered name and its bench history stay",
    tags=("relational", "stats", "scale", "bench"),
)
@query(
    "mad_outliers",
    _MAD_ORACLE,
    "Median/MAD robust outlier audit per event type: two lower-middle "
    "percentile_disc(0.5) aggregates (actual data values, no "
    "interpolation, no per-group sort), broadcast 5-row med/mad dim back "
    "onto the fact scan, |x-med| > 3*MAD flag — the heavy-tail-safe "
    "alternative to z-scores",
    tags=("relational", "stats", "bench"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(_lower_median("value").alias("med"))
    mdim = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(_lower_median("abs(value - med)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(mdim), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Winsorized robust stats — the third robust-stats tool next to
# zscore_outliers and mad_outliers: clamp each value into the exact
# [p10, p90] rank-selected bounds, then a decimal-exact mean of the
# clamped column. Bounds are ACTUAL data values (row_number selection,
# no interpolation); the clamp is least/greatest (exact); the mean is an
# exact decimal sum / count. The rank windows sort each group in one
# task; winsorized_scalable below resolves the same bounds with the
# bisection core.
# --------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
), bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rn = GREATEST(1, (n * 10) // 100) THEN value END)
           AS lo,
         MIN(CASE WHEN rn = LEAST(n, (n * 90) // 100 + 1) THEN value END)
           AS hi
  FROM ranked GROUP BY event_type
)
SELECT e.event_type, b.lo, b.hi,
       COUNT(*) AS n_values,
       CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       CAST(SUM(CAST(LEAST(GREATEST(e.value, b.lo), b.hi)
                     AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*)
         AS winsor_mean
FROM events e JOIN bounds b USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type, b.lo, b.hi
ORDER BY e.event_type
"""


@query(
    "winsorized_stats",
    _WINSOR_ORACLE,
    "Winsorized per-group mean: exact rank-selected [p10, p90] bounds "
    "(actual data values), least/greatest clamp, decimal-exact mean — "
    "the outlier-robust mean with a broadcast 5-row bounds dim",
    tags=("relational", "stats"),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    lo_rn = F.greatest(F.lit(1), F.expr("(n * 10) div 100"))
    hi_rn = F.least(F.col("n"), F.expr("(n * 90) div 100") + 1)
    bounds = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == lo_rn, F.col("value"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_rn, F.col("value"))).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_clamped"),
            (
                F.sum(clamped.cast("decimal(14,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Benford first-significant-digit audit — the classic fraud/anomaly scan
# over a financial column. Digit extraction is a bounded CASE ladder of
# FLOOR-divides (never log10 — libm is engine-specific; and FLOOR is
# explicit because DuckDB CAST(double AS BIGINT) ROUNDS where Spark
# truncates). Map-only projection + 9-row aggregate: nothing to shuffle
# but the digit counts.
# --------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CASE
     WHEN o_totalprice >= 100000 THEN CAST(FLOOR(o_totalprice / 100000) AS BIGINT)
     WHEN o_totalprice >= 10000  THEN CAST(FLOOR(o_totalprice / 10000) AS BIGINT)
     WHEN o_totalprice >= 1000   THEN CAST(FLOOR(o_totalprice / 1000) AS BIGINT)
     WHEN o_totalprice >= 100    THEN CAST(FLOOR(o_totalprice / 100) AS BIGINT)
     WHEN o_totalprice >= 10     THEN CAST(FLOOR(o_totalprice / 10) AS BIGINT)
     ELSE CAST(FLOOR(o_totalprice) AS BIGINT) END AS digit
  FROM orders WHERE o_totalprice >= 1
)
SELECT digit, COUNT(*) AS n,
       CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM d) AS BIGINT)
         AS freq_ppm
FROM d GROUP BY digit ORDER BY digit
"""


@query(
    "benford_first_digit",
    _BENFORD_ORACLE,
    "Benford's-law first-digit audit of order totals: bounded FLOOR-"
    "divide CASE ladder (no log10/libm), map-only projection, 9-row "
    "aggregate with integer ppm frequencies",
    tags=("relational", "audit"),
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    digit = (
        F.when(p >= 100000, F.floor(p / 100000))
        .when(p >= 10000, F.floor(p / 10000))
        .when(p >= 1000, F.floor(p / 1000))
        .when(p >= 100, F.floor(p / 100))
        .when(p >= 10, F.floor(p / 10))
        .otherwise(F.floor(p))
        .cast("long")
    )
    d = orders.filter(p >= 1).select(digit.alias("digit"))
    total = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("(n * 1000000) div total").cast("long").alias("freq_ppm"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Key-skew Gini diagnostic — the number that DECIDES when to salt a join
# (operators/salt.py). Exact Gini normally needs a global per-key rank
# sort (the low-cardinality-window trap); here it is computed from the
# COUNT-OF-COUNTS HISTOGRAM instead: keys with equal count collapse into
# one histogram row, a rank-block contributes x*(m*R + m(m+1)/2) in
# closed form, and the only windows run over the histogram (distinct
# count values — bounded by basket size, not key count). One corpus
# shuffle (per-key count) + one tiny aggregate. All integer, ppm-scaled.
# --------------------------------------------------------------------------

_GINI_ORACLE = """
WITH counts AS (
  SELECT l_orderkey AS k, COUNT(*) AS x FROM lineitem GROUP BY l_orderkey
), hist AS (
  SELECT x, COUNT(*) AS m FROM counts GROUP BY x
), cum AS (
  SELECT x, m,
         COALESCE(SUM(m) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS r,
         SUM(m) OVER () AS n, SUM(x * m) OVER () AS s
  FROM hist
)
SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
       CAST(MAX(s) AS BIGINT) AS n_rows,
       CAST(MAX(x) AS BIGINT) AS max_count,
       CAST((2 * SUM(x * (m * r + m * (m + 1) // 2)) - (MAX(n) + 1) * MAX(s))
            * 1000000 // (MAX(n) * MAX(s)) AS BIGINT) AS gini_ppm
FROM cum
"""


@query(
    "key_skew_gini",
    _GINI_ORACLE,
    "Exact Gini coefficient of the lineitem order-key distribution from "
    "the count-of-counts histogram — rank-block closed form, windows "
    "only over the bounded histogram (never a global per-key sort); the "
    "salt-or-not diagnostic, integer ppm",
    tags=("relational", "audit", "scale"),
)
def q_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("x")
    )
    hist = counts.groupBy("x").agg(F.count(F.lit(1)).alias("m"))
    wprev = (
        Window.partitionBy()
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "x",
        "m",
        F.coalesce(F.sum("m").over(wprev), F.lit(0)).alias("r"),
        F.sum("m").over(wall).alias("n"),
        F.sum(F.col("x") * F.col("m")).over(wall).alias("s"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_keys"),
        F.max("s").cast("long").alias("n_rows"),
        F.max("x").cast("long").alias("max_count"),
        F.expr(
            "CAST((2 * SUM(x * (m * r + (m * (m + 1)) div 2)) - (MAX(n) + 1)"
            " * MAX(s)) * 1000000 div (MAX(n) * MAX(s)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# --------------------------------------------------------------------------
# Sliding-window DISTINCT USERS via HLL — the composition that makes
# sliding distinct affordable at scale: exact sliding distinct pays
# (window/slide) × a distinct shuffle; the register sketch pays the same
# expansion but the per-window state is 64 mergeable registers, and the
# same registers would serve ANY window arithmetic (tumbling rollups of
# register MAX). Exact counts ride along per window, so the sketch's
# error contract is a verified output for every window.
# --------------------------------------------------------------------------

_HLL_SLIDING_ORACLE = f"""
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
  FROM events
), grids AS (
  SELECT user_id, to_timestamp(sec - (sec % 3600))::TIMESTAMP AS window_start
  FROM base
  UNION ALL
  SELECT user_id,
         to_timestamp(sec - (sec % 3600) - 3600)::TIMESTAMP AS window_start
  FROM base
), h AS (
  SELECT window_start,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
           % {_HLL_M} AS bucket,
         61 - length(bin(
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT
         )) AS rho
  FROM grids
), regs AS (
  SELECT window_start, bucket, MAX(rho) AS r FROM h
  GROUP BY window_start, bucket
), s AS (
  SELECT window_start,
         CAST(SUM(CAST(POWER(2.0, -r) AS DECIMAL(38,30))) AS DOUBLE)
         + CAST({_HLL_M} - COUNT(*) AS DOUBLE) AS denom,
         {_HLL_M} - COUNT(*) AS zeros
  FROM regs GROUP BY window_start
), est AS (
  SELECT window_start, zeros,
         {_HLL_ALPHA} * {_HLL_M * _HLL_M}.0 / denom AS raw_est
  FROM s
), corrected AS (
  SELECT window_start,
         CASE WHEN raw_est <= 2.5 * {_HLL_M} AND zeros > 0
              THEN ({_HLL_LC_SQL})[zeros]
              ELSE raw_est END AS hll_est
  FROM est
), exact AS (
  SELECT window_start, COUNT(DISTINCT user_id) AS exact_distinct
  FROM grids GROUP BY window_start
)
SELECT c.window_start,
       ROUND(c.hll_est, 6) AS hll_estimate,
       e.exact_distinct,
       ROUND(abs(c.hll_est - e.exact_distinct)
             / e.exact_distinct * 100.0, 4) AS rel_error_pct
FROM corrected c JOIN exact e USING (window_start)
ORDER BY c.window_start
"""


@query(
    "hll_sliding_distinct",
    _HLL_SLIDING_ORACLE,
    "Distinct users per 2h/1h sliding window via the mergeable HLL "
    "registers: window expansion -> (window, bucket) MAX -> per-window "
    "estimate with the literal linear-counting table; exact distincts "
    "ride along so every window's error contract is verified",
    tags=("relational", "timeseries", "sketch", "approx", "bench"),
)
def q_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour")
    base = ev.select(
        win.alias("w"), "user_id"
    ).select(F.col("w.start").alias("window_start"), "user_id")
    regs = _hll_registers(base, "user_id", group_cols=("window_start",))
    sketch = regs.groupBy("window_start").agg(*_hll_sketch_aggs())
    est = _hll_estimate()
    exact = base.groupBy("window_start").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sketch.join(exact, "window_start")
        .select(
            "window_start",
            F.round(est, 6).alias("hll_estimate"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * F.lit(100.0),
                4,
            ).alias("rel_error_pct"),
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# Ingest-volume drift audit — the pipeline-health check every scheduled
# ingest needs: each day's row count vs its trailing-7-day window, with
# spike (> 1.5x trailing mean) and drop (< 1/3) flags as INTEGER
# cross-multiplications (n*cnt*2 > sum*3 — no float division, no
# NULL-mean edge cases). The unpartitioned window runs over the DAILY
# relation (bounded by calendar days, not rows — same justification as
# ratio_to_report).
# --------------------------------------------------------------------------

_VOLUME_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1
), trail AS (
  SELECT day, n,
         SUM(n) OVER (ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tsum,
         COUNT(n) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tcnt
  FROM daily
)
SELECT day, n,
       CAST(COALESCE(tsum, 0) AS BIGINT) AS trail_sum,
       CAST(tcnt AS BIGINT) AS trail_days,
       (tcnt >= 3 AND n * tcnt * 2 > tsum * 3) AS volume_spike,
       (tcnt >= 3 AND n * tcnt * 3 < tsum) AS volume_drop
FROM trail ORDER BY day
"""


@query(
    "volume_anomaly_days",
    _VOLUME_ORACLE,
    "Ingest-volume drift audit: per-day counts vs the trailing-7-day "
    "window with integer cross-multiplied spike/drop flags (no float "
    "division); window over the bounded daily relation only",
    tags=("relational", "audit", "timeseries"),
)
def q_volume_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("timestamp").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    trail = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("tsum"),
        F.count("n").over(w).alias("tcnt"),
    )
    cnt3 = F.col("tcnt") >= 3
    return trail.select(
        "day",
        "n",
        F.coalesce(F.col("tsum"), F.lit(0)).cast("long").alias("trail_sum"),
        F.col("tcnt").cast("long").alias("trail_days"),
        (cnt3 & (F.col("n") * F.col("tcnt") * 2 > F.col("tsum") * 3)).alias(
            "volume_spike"
        ),
        (cnt3 & (F.col("n") * F.col("tcnt") * 3 < F.col("tsum"))).alias(
            "volume_drop"
        ),
    ).orderBy("day")


# --------------------------------------------------------------------------
# Top-N WITH TIES — the rank-semantics completion of the window family:
# row_number (dedup), ntile (quartiles) and rank/percent_rank exist;
# dense_rank <= N is the "top N distinct VALUES, keep all tied rows"
# contract (SQL:2008 FETCH ... WITH TIES), which no row_number query can
# express without losing ties nondeterministically.
# --------------------------------------------------------------------------

_TIES_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n,
       CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY n DESC)
            AS INTEGER) AS value_rank
FROM daily
QUALIFY dense_rank() OVER (PARTITION BY event_type ORDER BY n DESC) <= 2
ORDER BY event_type, n DESC, day
"""


@query(
    "topn_with_ties",
    _TIES_ORACLE,
    "Top-2 busiest day-counts per event type WITH TIES (dense_rank <= "
    "N keeps every day sharing a top value — the FETCH WITH TIES "
    "contract row_number cannot express deterministically)",
    tags=("relational", "window", "bench"),
)
def q_topn_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("timestamp").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"))
    return (
        daily.withColumn(
            "value_rank", F.dense_rank().over(w).cast("int")
        )
        .filter(F.col("value_rank") <= 2)
        .orderBy("event_type", F.desc("n"), "day")
    )


# --------------------------------------------------------------------------
# Nested-array materialization — denormalize order lines into a sorted
# ARRAY column (the document/struct modeling step before writing nested
# parquet for point-lookup serving) and prove the roundtrip: re-exploded
# line counts must reconcile. One keyed aggregate; array order pinned by
# (line number, part key) — the synthetic lineitem REUSES line numbers
# within an order, so the secondary key is what makes the nested value
# engine-exact.
#
# OUTPUT SHAPE (r04 lesson): the nested array is built internally but the
# returned column is its canonical comma-joined string — the driver's
# pandas canonicalization cannot sort list cells (CORRECTNESS_r04 err:
# "unhashable type: 'list'"), and tests/test_plan_shape.py now rejects
# any top-level array/map/struct output column registry-wide. The
# roundtrip check (size(parts) == n_lines) still runs on the real array.
# --------------------------------------------------------------------------

_NESTED_ORACLE = """
WITH nested AS (
  SELECT l_orderkey, COUNT(*) AS n_lines,
         list(l_partkey ORDER BY l_linenumber, l_partkey) AS parts_arr
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, n_lines,
       array_to_string(parts_arr, ',') AS parts,
       len(parts_arr) = n_lines AS roundtrip_ok
FROM nested ORDER BY l_orderkey
"""


@query(
    "nested_order_lines",
    _NESTED_ORACLE,
    "Denormalize order lines into a line-number-ordered nested array "
    "(nested-parquet modeling for point-lookup serving) with the "
    "explode-roundtrip reconciliation in-query, emitted as a canonical "
    "comma-joined string; one keyed aggregate",
    tags=("relational", "nested", "bench"),
)
def q_nested_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_partkey"))
            ),
            lambda s: s.l_partkey,
        ).alias("parts_arr"),
    )
    return nested.select(
        "l_orderkey",
        "n_lines",
        F.array_join(
            F.transform("parts_arr", lambda x: x.cast("string")), ","
        ).alias("parts"),
        (F.size("parts_arr") == F.col("n_lines")).alias("roundtrip_ok"),
    ).orderBy("l_orderkey")


# --------------------------------------------------------------------------
# Scalable twin of winsorized_stats — SAME oracle, hash-for-hash: the
# [p10, p90] clamp bounds are two rank selections per group, resolved
# together in ONE bisection run (the core tracks every (group, k)
# bracket concurrently), then the identical broadcast clamp rollup.
# --------------------------------------------------------------------------


@query(
    "winsorized_scalable",
    _WINSOR_ORACLE,
    "winsorized_stats computed scale-safe: both clamp bounds resolved "
    "in one bisection run (mergeable conditional counts, no per-group "
    "sort), identical broadcast rollup — same oracle, same hash as the "
    "rank-window variant",
    tags=("relational", "stats", "scale", "bench"),
)
def q_winsorized_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import selection as sel

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    src, prof = sel._profile(ev, "event_type", "value")
    targets = {
        g: [max(1, (n * 10) // 100), min(n, (n * 90) // 100 + 1)]
        for g, (n, _, _) in prof.items()
    }
    got = sel._select_ranks(src, targets, prof, sel.BUCKETS, sel.MAX_ROUNDS)
    release(src)
    rows = [
        (g, got[(g, targets[g][0])], got[(g, targets[g][1])])
        for g in sorted(prof)
    ]
    bounds = spark.createDataFrame(
        rows, "event_type string, lo double, hi double"
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_clamped"),
            (
                F.sum(clamped.cast("decimal(14,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Month-over-month growth — the reporting staple done engine-exact:
# monthly revenue is summed in DECIMAL and carried as INTEGER CENTS, so
# the growth rate is a pure integer cross-multiplication in basis
# points ((cur - prev) * 10000 div prev). The lag window runs over the
# bounded month relation (84 rows at any data size).
# --------------------------------------------------------------------------

_MOM_ORACLE = """
WITH monthly AS (
  SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
           AS month_idx,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
)
SELECT month_idx, rev_cents,
       CAST(lag(rev_cents) OVER (ORDER BY month_idx) AS BIGINT)
         AS prev_cents,
       CAST(CASE WHEN lag(rev_cents) OVER (ORDER BY month_idx) IS NULL
                 THEN NULL
                 ELSE (rev_cents - lag(rev_cents) OVER (ORDER BY month_idx))
                      * 10000 // lag(rev_cents) OVER (ORDER BY month_idx)
            END AS BIGINT) AS growth_bps
FROM monthly ORDER BY month_idx
"""


@query(
    "mom_revenue_growth",
    _MOM_ORACLE,
    "Month-over-month revenue growth: decimal-exact monthly sums carried "
    "as integer cents, growth as an integer basis-point division — the "
    "reporting staple with zero float drift; lag window over the "
    "bounded month relation",
    tags=("relational", "timeseries", "window", "bench"),
)
def q_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month_idx = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate") - F.lit(1)
    )
    monthly = orders.groupBy(month_idx.alias("month_idx")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("month_idx")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month_idx",
        "rev_cents",
        prev.cast("long").alias("prev_cents"),
        F.when(
            prev.isNull(), F.lit(None).cast("long")
        )
        .otherwise(
            F.expr(
                "(rev_cents - lag(rev_cents) OVER (ORDER BY month_idx))"
                " * 10000 div lag(rev_cents) OVER (ORDER BY month_idx)"
            )
        )
        .cast("long")
        .alias("growth_bps"),
    ).orderBy("month_idx")


# --------------------------------------------------------------------------
# One-pass table profiler — the stats backbone of every data-quality /
# query-planning layer: per-column row count, null count, exact distinct
# count, min and max for four measure columns of lineitem, computed in
# ONE aggregate pass (Spark plans the multi-countDistinct via a single
# expand) and unpivoted into a row per column.
# --------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN({c}) AS min_v, MAX({c}) AS max_v
FROM lineitem"""


_TABLE_PROFILE_ORACLE = (
    " UNION ALL ".join(_profile_col_sql(c) for c in _PROFILE_COLS)
    + " ORDER BY column_name"
)


@query(
    "table_profile",
    _TABLE_PROFILE_ORACLE,
    "One-pass multi-column profiler: rows / nulls / exact distincts / "
    "min / max for four lineitem measures in a single aggregate "
    "(one expand, one shuffle), unpivoted to a row per column — the "
    "stats layer planners and DQ checks read",
    tags=("relational", "audit", "bench"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return (
        wide.selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_null, n_distinct, min_v, max_v)"
        )
        .withColumn("n_distinct", F.col("n_distinct").cast("long"))
        .orderBy("column_name")
    )


# --------------------------------------------------------------------------
# Join-cardinality estimator audit — the planner arithmetic made a
# query: predicted |A ⋈ B| on a key = Σ_k n_A(k)·n_B(k); built from the
# FULL per-key histogram the prediction is exact, and the query proves
# it against the materialized join's count. At 100 TB the same formula
# runs over count-min histograms (operators/bloom.py's sibling) with a
# bounded overcount — this is the exactness baseline for that.
# --------------------------------------------------------------------------

_JOINCARD_ORACLE = """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n * n) AS BIGINT) AS predicted_rows,
       (SELECT COUNT(*) FROM events a JOIN events b USING (user_id))
         AS actual_rows,
       CAST(SUM(n * n) AS BIGINT)
         = (SELECT COUNT(*) FROM events a JOIN events b USING (user_id))
         AS estimator_exact
FROM c
"""


@query(
    "join_cardinality_audit",
    _JOINCARD_ORACLE,
    "Join-cardinality estimation audit: predicted self-join size from "
    "the per-key count histogram (sum of n_k^2) proven equal to the "
    "materialized join count — the exactness baseline the sketched "
    "(count-min) estimator degrades from at scale",
    tags=("relational", "audit", "scale", "bench"),
)
def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    pred = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("predicted_rows"),
    )
    a = ev.select("user_id")
    b = ev.select("user_id")
    actual = a.join(b, "user_id").agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return pred.crossJoin(actual).select(
        "n_keys",
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "estimator_exact"
        ),
    )


# --------------------------------------------------------------------------
# Exact interpolated p90 of line price per ship WEEK — hundreds of groups
# (~350 at sf0.1). Spark's exact percentile is a mergeable partial
# aggregate (a value->count map per group), so the cost is one keyed
# shuffle whatever the group count.
# --------------------------------------------------------------------------

_WEEKLY_P90_ORACLE = """
WITH weekly AS (
  SELECT (CAST(l_shipdate AS DATE) - DATE '1992-01-01') // 7 AS week_idx,
         l_extendedprice
  FROM lineitem
)
SELECT week_idx, ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90
FROM weekly GROUP BY week_idx ORDER BY week_idx
"""


@query(
    "weekly_p90_scalable",
    _WEEKLY_P90_ORACLE,
    "Exact interpolated p90 of line price per ship week via Spark's "
    "percentile partial aggregate — hundreds of groups, one keyed "
    "shuffle, no per-group sorts anywhere",
    tags=("relational", "stats", "scale", "bench"),
)
def q_weekly_p90_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    week_idx = F.floor(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date")) / 7
    )
    return (
        li.groupBy(week_idx.alias("week_idx"))
        .agg(F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90"))
        .orderBy("week_idx")
    )


# --------------------------------------------------------------------------
# Session path analysis — the first-order Markov view of behavior:
# within-session event-type transitions (same 30-minute gap rule as
# sessionize) counted and normalized per source state in integer basis
# points. One keyed window (lag over user) + one bounded aggregate over
# the |types|^2 transition matrix.
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         lag(event_type) OVER w AS prev_type,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) >=
                   lag(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), t AS (
  SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
  FROM o WHERE brk = 0 AND prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n * 10000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS share_bps
FROM t ORDER BY from_type, to_type
"""


@query(
    "session_transitions",
    _TRANSITIONS_ORACLE,
    "Within-session event-type transition matrix (30-min gap rule): one "
    "lag window + bounded |types|^2 aggregate, per-source shares in "
    "integer basis points — the first-order Markov behavior view",
    tags=("relational", "window", "timeseries", "bench"),
)
def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    prev_type = F.lag("event_type").over(w)
    prev_ts = F.lag(F.col("ts").cast("timestamp")).over(w)
    brk = F.when(
        prev_ts.isNull()
        | (
            F.col("ts").cast("timestamp")
            >= prev_ts + F.expr("INTERVAL 30 MINUTES")
        ),
        1,
    ).otherwise(0)
    o = ev.select(
        "user_id",
        "event_type",
        prev_type.alias("prev_type"),
        brk.alias("brk"),
    )
    t = (
        o.filter((F.col("brk") == 0) & F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            "CAST((n * 10000) div SUM(n) OVER (PARTITION BY from_type)"
            " AS BIGINT)"
        ).alias("share_bps"),
    ).orderBy("from_type", "to_type")


# --------------------------------------------------------------------------
# Weighted median — the order statistic under a weight measure (price
# weighted by quantity): first value whose cumulative weight covers
# half the total. Weights ride as integer cents (decimal-exact), the
# crossing test is an integer cross-multiplication (cum*2 >= total),
# and ties in (v, wt) cannot move the crossing off the value. Same
# keyed-window regime note as the median family.
# --------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS wt
  FROM lineitem
), c AS (
  SELECT g, v, wt,
         SUM(wt) OVER (PARTITION BY g ORDER BY v, wt
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wt) OVER (PARTITION BY g) AS tot
  FROM w
)
SELECT g AS l_returnflag, CAST(MAX(tot) AS BIGINT) AS total_weight,
       MIN(CASE WHEN cum * 2 >= tot THEN v END) AS weighted_median
FROM c GROUP BY g ORDER BY g
"""


@query(
    "weighted_median_price",
    _WMEDIAN_ORACLE,
    "Quantity-weighted median price per return flag: integer-cent "
    "weights, cumulative-weight crossing by integer cross-"
    "multiplication (cum*2 >= total) — the weighted order statistic "
    "with zero float arithmetic in the selection",
    tags=("relational", "stats", "bench"),
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("wt"),
    )
    wc = (
        Window.partitionBy("g")
        .orderBy("v", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt_all = Window.partitionBy("g")
    c = w.select(
        "g",
        "v",
        F.sum("wt").over(wc).alias("cum"),
        F.sum("wt").over(wt_all).alias("tot"),
    )
    return (
        c.groupBy(F.col("g").alias("l_returnflag"))
        .agg(
            F.max("tot").cast("long").alias("total_weight"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("tot"), F.col("v"))
            ).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Functional-dependency audit — the profiling step schema-inference and
# normalization tools run: A -> B holds iff |distinct A| =
# |distinct (A, B)|. Four candidate pairs over orders checked in ONE
# aggregate pass (multi-countDistinct through a single expand),
# unpivoted to a row per pair — exact integers, no sampling.
# --------------------------------------------------------------------------

_FD_PAIRS = (
    ("o_orderkey", "o_custkey"),     # key -> attribute: holds
    ("o_custkey", "o_orderkey"),     # attribute -> key: fails
    ("o_orderkey", "o_orderstatus"),  # key -> attribute: holds
    ("o_orderdate", "o_orderpriority"),  # unrelated: fails
)


def _fd_sql(a: str, b: str) -> str:
    return f"""
SELECT '{a} -> {b}' AS dependency,
       CAST(COUNT(DISTINCT {a}) AS BIGINT) AS n_distinct_lhs,
       CAST(COUNT(DISTINCT ({a}, {b})) AS BIGINT) AS n_distinct_pair,
       COUNT(DISTINCT {a}) = COUNT(DISTINCT ({a}, {b})) AS holds
FROM orders"""


_FD_ORACLE = (
    " UNION ALL ".join(_fd_sql(a, b) for a, b in _FD_PAIRS)
    + " ORDER BY dependency"
)


@query(
    "functional_dependency_audit",
    _FD_ORACLE,
    "Functional-dependency audit over orders: A -> B iff |distinct A| "
    "= |distinct (A,B)|, four candidate pairs in one aggregate pass "
    "(single expand), exact — the schema-profiling primitive",
    tags=("relational", "audit", "bench"),
)
def q_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for a, b in _FD_PAIRS:
        tag = f"{a}__{b}"
        aggs += [
            F.countDistinct(a).alias(f"{tag}__l"),
            F.countDistinct(a, b).alias(f"{tag}__p"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        f"'{a} -> {b}', {a}__{b}__l, {a}__{b}__p" for a, b in _FD_PAIRS
    )
    return (
        wide.selectExpr(
            f"stack({len(_FD_PAIRS)}, {stack}) AS "
            "(dependency, n_distinct_lhs, n_distinct_pair)"
        )
        .select(
            "dependency",
            F.col("n_distinct_lhs").cast("long").alias("n_distinct_lhs"),
            F.col("n_distinct_pair").cast("long").alias("n_distinct_pair"),
            (F.col("n_distinct_lhs") == F.col("n_distinct_pair")).alias(
                "holds"
            ),
        )
        .orderBy("dependency")
    )


# --------------------------------------------------------------------------
# RANGE-interval window frame (round 3). The rolling-revenue window a
# reporting layer runs: per order priority, the trailing-7-day order
# total where the frame is a VALUE range over the day number — rows
# from absent days contribute nothing and sparse days don't shift the
# frame, which a ROWS frame gets wrong. Pre-aggregating to (priority,
# day) BEFORE the window keeps the window input bounded by days x
# priorities, never order rows; revenue rides as exact integer cents.
# --------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         datediff('day', DATE '1992-01-01', o_orderdate) AS day_no,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT priority, day_no, cents,
       CAST(SUM(cents) OVER (PARTITION BY priority ORDER BY day_no
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cents_7d
FROM daily ORDER BY priority, day_no
"""


@query(
    "rolling_range_frame",
    _RANGE_FRAME_ORACLE,
    "Trailing-7-day revenue per priority with a RANGE-value frame over "
    "the day number (absent days contribute nothing — the frame a ROWS "
    "window gets wrong); window input pre-aggregated to (priority, day) "
    "so it is bounded by days, not orders; exact integer cents",
    tags=("relational", "window", "bench"),
)
def q_rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("c"),
        )
        .groupBy("priority", "day_no")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day_no")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "priority",
        "day_no",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cents_7d"),
    ).orderBy("priority", "day_no")


# --------------------------------------------------------------------------
# Explicit GROUPING SETS (round 3). ROLLUP (`rollup_orders`) and CUBE
# (`cube_segments`) cover the hierarchical and full-lattice cases; this
# is the ARBITRARY subset case — (priority, status), (priority), () but
# NOT (status) — which neither shorthand can express. Same verbatim-SQL
# device as sql_surface: the identical ANSI text runs on both engines,
# and grouping_id() disambiguates NULL-as-subtotal from NULL data. One
# expand + hash aggregate; output bounded by the lattice size.
# --------------------------------------------------------------------------

_GROUPING_SETS_TEXT = """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), ())
ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


@query(
    "grouping_sets_report",
    _GROUPING_SETS_TEXT,
    "Arbitrary-subset GROUPING SETS — the lattice neither ROLLUP nor "
    "CUBE expresses — as verbatim ANSI text through spark.sql (the "
    "sql_surface device): one expand + hash aggregate, grouping_id() "
    "separating subtotal NULLs from data NULLs",
    tags=("relational", "sql", "bench"),
)
def q_grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_GROUPING_SETS_TEXT)


# --------------------------------------------------------------------------
# Forward as-of join (round 3): each view event picks up the user's
# NEXT purchase at-or-after it — merge_asof direction="forward", the
# attribution shape "did a purchase follow this impression". Same
# union + one-keyed-window composition as the backward variant (no
# inequality join anywhere); oracle = DuckDB's native forward ASOF
# (v.ts <= p.ts) — two independent implementations again.
# --------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH views AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
), purchases AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1
)
SELECT v.event_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS ts, v.value,
       CAST(p.ts AS TIMESTAMP) AS ts_next,
       p.event_id AS next_event_id,
       p.value AS next_value
FROM views v
ASOF LEFT JOIN purchases p
  ON v.user_id = p.user_id AND v.ts <= p.ts
"""


@query(
    "forward_asof_next_purchase",
    _ASOF_FWD_ORACLE,
    "Forward as-of join: each view event matched to the user's next "
    "purchase at-or-after it (merge_asof direction='forward'); union + "
    "one keyed window, no inequality-join blowup; oracle = DuckDB's "
    "native forward ASOF JOIN",
    tags=("relational", "timeseries", "bench"),
)
def q_forward_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.asof import asof_join
    from reddit_data_pipeline_engineering_spark.operators.dedup import window_dedup

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = window_dedup(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        ["user_id", "ts"],
        ["event_id"],
        keep="first",
    )
    joined = asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=("event_id", "value"),
        suffix="_next",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "ts_next",
        F.col("event_id_next").alias("next_event_id"),
        F.col("value_next").alias("next_value"),
    )
