"""Warehouse extensions: SCD2 history + point-in-time lookup, Z-order
and Hilbert layouts, Bloom semi-join reduction, market-basket
co-occurrence + item-CF similarity, sliding event-time windows, bitmap
audience index, freshness-bounded attribution.

None has a reference counterpart (the reference materializes
point-in-time snapshots and Hive date partitions only — SURVEY.md §2.2);
these are the canonical next operators a mart layer needs at lake scale.
All are pure Catalyst plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators import bloom
from reddit_data_pipeline_engineering_spark.operators.layout import (
    hilbert_key_2d,
    quantize,
    zorder_key,
)
from reddit_data_pipeline_engineering_spark.operators.scd import scd2
from reddit_data_pipeline_engineering_spark.plans.queries import (
    DEC_PRICE,
    DEC_VALUE,
    REGISTRY,
    _dsum,
    query,
)
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

__all__ = ["REGISTRY"]

# --------------------------------------------------------------------------
# SCD2 dimension build — collapse the event stream into versioned validity
# intervals per user (valid_from / valid_to / is_current). One shuffle on
# user_id: change-detect (lag) + version (running sum) + interval close
# (lead) all share the same keyed window partitioning, and the version
# group-by reuses it (grouping keys ⊇ partition key -> no new exchange).
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM ordered
),
grouped AS (
  SELECT user_id, version, min(event_type) AS event_type,
         min(ts) AS valid_from, COUNT(*) AS n_events
  FROM versioned
  GROUP BY user_id, version
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER wv AS valid_to,
       lead(valid_from) OVER wv IS NULL AS is_current,
       n_events
FROM grouped
WINDOW wv AS (PARTITION BY user_id ORDER BY version)
ORDER BY user_id, version
"""


@query(
    "scd2_dimension",
    _SCD2_ORACLE,
    "Type-2 slowly-changing-dimension build: collapse the per-user event "
    "stream into versioned validity intervals (lag change-detect + running "
    "version + lead close — one shuffle, operators/scd.py). No reference "
    "counterpart (snapshots only); the canonical mart-history operator.",
    tags=("relational", "warehouse", "window", "bench"),
)
def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim = scd2(ev, key="user_id", attr="event_type", ts="ts",
               order_cols=("event_id",))
    return dim.orderBy("user_id", "version")


# --------------------------------------------------------------------------
# Z-order layout audit — Morton-interleave quantized (price, order-month)
# and report per-z-bucket extents. The narrow min/max extents per bucket
# ARE the data-skipping story: written in z-order, a predicate on either
# column prunes most row groups via parquet stats. Key is fixed-literal
# integer arithmetic (operators/layout.py) -> replayable in any engine.
# --------------------------------------------------------------------------

_PRICE_STEP = 40000.0   # o_totalprice < ~600k -> 15 buckets of 40k
_MONTH_STEP = 6.0       # 1992-1998 -> 84 months -> 14 half-year buckets

_ZORDER_ORACLE = """
WITH quantized AS (
  SELECT o_totalprice,
         CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
         GREATEST(0, LEAST(15, CAST(FLOOR((o_totalprice - 0.0) / 40000.0) AS BIGINT))) AS pb,
         GREATEST(0, LEAST(15, CAST(FLOOR((
             (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
           - 0.0) / 6.0) AS BIGINT))) AS db
  FROM orders
),
keyed AS (
  SELECT *,
         (pb % 2) * 1 + (db % 2) * 2
       + ((pb // 2) % 2) * 4 + ((db // 2) % 2) * 8
       + ((pb // 4) % 2) * 16 + ((db // 4) % 2) * 32
       + ((pb // 8) % 2) * 64 + ((db // 8) % 2) * 128 AS zkey
  FROM quantized
)
SELECT CAST(zkey AS BIGINT) AS zkey, COUNT(*) AS n_rows,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
FROM keyed
GROUP BY zkey
ORDER BY zkey
"""


@query(
    "zorder_layout",
    _ZORDER_ORACLE,
    "Z-order layout audit: Morton-interleave quantized (price, order-month) "
    "into a clustering key and report per-bucket min/max extents — the "
    "row-group-pruning profile a z-ordered rewrite would give both "
    "predicates at once (operators/layout.py; no reference counterpart — "
    "its layout story is Hive date partitioning only).",
    tags=("relational", "warehouse", "layout", "bench"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    months = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate") - F.lit(1)
    )
    pb = quantize(F.col("o_totalprice"), lo=0.0, step=_PRICE_STEP, bits=4)
    db = quantize(months, lo=0.0, step=_MONTH_STEP, bits=4)
    return (
        orders.withColumn("zkey", zorder_key([pb, db], bits=4))
        .groupBy("zkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .orderBy("zkey")
    )


# --------------------------------------------------------------------------
# Bloom-filter semi-join reduction — build a compact bit filter over the
# selective dim's keys (distributed bit_or, driver holds only m/8 bytes of
# MODEL), pre-filter the fact map-side, then exact-join to shed the false
# positives. The audited counts (bloom pass vs true match) make the FP
# rate — the filter's scale contract — a verified output, not a claim.
# --------------------------------------------------------------------------

_BLOOM_M = 65536   # bits (1024 longs / 8 KB): kn/m ~ 0.07 at sf0.01
                   # (4 FPs of 5.9k passed) and ~0.69 at sf0.1 (12% FP
                   # probability -> 600k fact rows cut to 125k) —
                   # non-saturated at both gate SFs.
                   # Hashing is md5 so the oracle replays the exact
                   # filter; a production build would swap xxhash64
                   # (cheaper, but engine-internal -> not replayable).
_BLOOM_K = 3
_BLOOM_THR = 450000.0


def _bloom_pos_sql(key: str, i: int) -> str:
    return bloom.salted_md5_pos_sql(key, i, _BLOOM_M)


_BLOOM_ORACLE = f"""
WITH dim AS MATERIALIZED (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_THR}
),
pos AS MATERIALIZED (
  {' UNION '.join(f"SELECT {_bloom_pos_sql('o_orderkey', i)} AS p FROM dim" for i in range(_BLOOM_K))}
),
passed AS MATERIALIZED (
  SELECT l_orderkey, l_extendedprice,
         l_orderkey IN (SELECT o_orderkey FROM dim) AS is_match
  FROM lineitem
  WHERE {' AND '.join(f"({_bloom_pos_sql('l_orderkey', i)}) IN (SELECT p FROM pos)" for i in range(_BLOOM_K))}
)
SELECT CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_dim_keys,
       COUNT(*) AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_match,
       CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)
         AS n_false_positives,
       ROUND(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) * 1.0 / COUNT(*), 4)
         AS fp_rate,
       CAST(SUM(CASE WHEN is_match
                     THEN CAST(l_extendedprice AS DECIMAL(12,2)) END)
            AS DOUBLE) AS matched_revenue
FROM passed
"""


@query(
    "bloom_semijoin_reduction",
    _BLOOM_ORACLE,
    "Bloom-filter semi-join reduction: distributed bit_or build over the "
    "selective dim's keys (operators/bloom.py; driver holds m/8 bytes of "
    "model), literal-array membership test fused into the fact scan "
    "(map-side, pre-shuffle), exact broadcast join sheds the false "
    "positives; outputs the audited pass/match/FP-rate contract. The "
    "pattern Spark's runtime row-level filtering applies internally, "
    "made explicit and verifiable.",
    tags=("relational", "warehouse", "skew", "bench"),
)
def q_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.filter(F.col("o_totalprice") > _BLOOM_THR).select("o_orderkey")
    words = bloom.bloom_build(dim, "o_orderkey", _BLOOM_M, _BLOOM_K)

    # spread (r11): the membership test is 3 salted-MD5 hashes per fact
    # row — CPU-bound map work that ran on the 1-2 tasks a single
    # row-group parquet scan yields at bench scale. The parallelism
    # floor is one narrow exchange of the raw fact rows; at 100 TB the
    # scan already outnumbers cores and spread is a no-op, keeping the
    # filter-before-exchange scale story intact.
    fact = spread(load_table(spark, sf_dir, "lineitem"))
    # Broadcast-relation form of the membership test (r11): the word
    # array travels as data, not as k copies of an m/64-long literal —
    # see bloom.bloom_filter_rows for the measurement.
    passed = bloom.bloom_filter_rows(
        fact, F.col("l_orderkey"), words, _BLOOM_M, _BLOOM_K
    )
    joined = passed.join(
        F.broadcast(dim.withColumn("hit", F.lit(1))),
        passed["l_orderkey"] == dim["o_orderkey"],
        "left",
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.count("hit").cast("long").alias("n_true_match"),
        F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        F.round(
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("fp_rate"),
        _dsum(
            F.when(F.col("hit") == 1, F.col("l_extendedprice")), DEC_PRICE
        ).alias("matched_revenue"),
    )
    n_dim = dim.agg(F.count(F.lit(1)).alias("n_dim_keys"))
    return n_dim.crossJoin(agg).select(
        "n_dim_keys",
        "n_bloom_pass",
        "n_true_match",
        "n_false_positives",
        "fp_rate",
        "matched_revenue",
    )


# --------------------------------------------------------------------------
# Market-basket co-occurrence — part pairs bought in the same order. The
# classic self-join-on-basket shape: pair count per order is bounded by
# basket size (~4 lineitems/order in TPC-H), so the join output is
# O(orders * basket²), never corpus² — the same bounded-blowup argument
# as the LSH band buckets. The (a < b) canonical ordering halves the
# pairs and makes the count well-defined.
# --------------------------------------------------------------------------

_COPURCHASE_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@query(
    "copurchase_pairs",
    _COPURCHASE_ORACLE,
    "Market-basket co-occurrence: self-join on the order key with a "
    "canonical (a < b) pair ordering — output bounded by orders * "
    "basket², never corpus²; one keyed shuffle + hash aggregate + "
    "TakeOrderedAndProject top-20",
    tags=("relational", "warehouse", "bench"),
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distinct (order, part) first: an order holding the same part twice
    # must not double-count its pairs, and the self-join input shrinks.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(
            F.col("n_orders").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# Sliding event-time windows — overlapping 2h windows every 1h via
# F.window(slide): each event lands in exactly two windows, which the SQL
# replay models as a union of two offset tumbling grids. The overlap
# factor (window/slide) multiplies shuffle rows — the documented cost of
# sliding vs tumbling at scale.
# --------------------------------------------------------------------------

_SLIDING_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
         value
  FROM events
), grids AS (
  SELECT event_type, value,
         to_timestamp(sec - (sec % 3600))::TIMESTAMP AS window_start
  FROM base
  UNION ALL
  SELECT event_type, value,
         to_timestamp(sec - (sec % 3600) - 3600)::TIMESTAMP AS window_start
  FROM base
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
FROM grids
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@query(
    "sliding_window_rollup",
    _SLIDING_ORACLE,
    "Sliding event-time windows (2h window, 1h slide, F.window): each "
    "event expands to window/slide = 2 rows before ONE hash aggregate — "
    "the replay models the same assignment as two offset tumbling grids; "
    "decimal-exact sums",
    tags=("relational", "timeseries", "bench"),
)
def q_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value"), DEC_VALUE).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Hilbert-curve layout audit — the locality-tighter twin of
# zorder_layout (same quantization grid, same output shape, directly
# comparable extents). Consecutive Hilbert indices are UNIT-ADJACENT
# cells, so a key range maps to a tighter hyper-rectangle than Morton's
# seam-jumping order; tests/test_warehouse.py quantifies the win. The
# oracle replays the xy2d recurrence round-by-round as chained CTEs (in
# each round's SELECT, hx/hy references bind to the CTE's INPUT columns
# — they exist in the FROM relation, so DuckDB's lateral-alias rule
# never applies).
# --------------------------------------------------------------------------

_HILBERT_BITS = 4


def _hilbert_ctes() -> "tuple[str, int]":
    n = 2**_HILBERT_BITS
    parts = [
        f"""r0 AS (
  SELECT o_totalprice, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
         CAST(0 AS BIGINT) AS d,
         CAST(GREATEST(0, LEAST(15, CAST(FLOOR((o_totalprice - 0.0)
             / {_PRICE_STEP}) AS BIGINT))) AS BIGINT) AS hx,
         CAST(GREATEST(0, LEAST(15, CAST(FLOOR((
             (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
           - 0.0) / {_MONTH_STEP}) AS BIGINT))) AS BIGINT) AS hy
  FROM orders)"""
    ]
    s, t = n // 2, 0
    while s > 0:
        t += 1
        parts.append(f"""b{t} AS (
  SELECT *, CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
  FROM r{t - 1})""")
        parts.append(f"""r{t} AS (
  SELECT o_totalprice, o_orderdate,
         d + {s * s} * xor(3 * rx, ry) AS d,
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {n - 1} - hy ELSE hy END)
              ELSE hx END AS hx,
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {n - 1} - hx ELSE hx END)
              ELSE hy END AS hy
  FROM b{t})""")
        s //= 2
    return ",\n".join(parts), t


_HILBERT_CTES, _HILBERT_LAST = _hilbert_ctes()

_HILBERT_ORACLE = f"""
WITH {_HILBERT_CTES}
SELECT CAST(d AS BIGINT) AS hkey, COUNT(*) AS n_rows,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
FROM r{_HILBERT_LAST}
GROUP BY d
ORDER BY hkey
"""


@query(
    "hilbert_layout",
    _HILBERT_ORACLE,
    "Hilbert-curve layout audit: xy2d recurrence over the same quantized "
    "(price, order-month) grid as zorder_layout, unrolled to pure "
    "integer/conditional codegen (no UDF, no shuffle for the key); "
    "per-bucket extents show the tighter-than-Morton pruning profile. "
    "Oracle replays every recurrence round as chained CTEs.",
    tags=("relational", "warehouse", "layout", "bench"),
)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    months = (
        (F.year("o_orderdate") - F.lit(1992)) * 12
        + F.month("o_orderdate") - F.lit(1)
    )
    pb = quantize(F.col("o_totalprice"), lo=0.0, step=_PRICE_STEP, bits=4)
    db = quantize(months, lo=0.0, step=_MONTH_STEP, bits=4)
    return (
        orders.withColumn("hkey", hilbert_key_2d(pb, db, bits=_HILBERT_BITS))
        .groupBy("hkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .orderBy("hkey")
    )


# --------------------------------------------------------------------------
# Item-item similarity from co-occurrence (the classic item-based
# collaborative-filtering kernel, Sarwar et al. WWW'01): cosine^2 between
# items' basket-membership vectors is co^2 / (n_a * n_b) — all integers
# after a 10^6 scale, so the ranking is engine-exact with no sqrt or
# float division. Co-occurrence reuses the bounded basket self-join
# (output <= orders * basket^2); the per-item frequency dim is |items|-
# sized and broadcast onto the pair relation.
# --------------------------------------------------------------------------

_ITEMSIM_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), freq AS (
  SELECT pk, COUNT(*) AS n FROM baskets GROUP BY pk
), co AS (
  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS co
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
)
SELECT pa, pb, co, fa.n AS na, fb.n AS nb,
       CAST(co * co * 1000000 // (fa.n * fb.n) AS BIGINT) AS cosine2_scaled
FROM co JOIN freq fa ON co.pa = fa.pk JOIN freq fb ON co.pb = fb.pk
QUALIFY row_number()
  OVER (PARTITION BY pa ORDER BY cosine2_scaled DESC, pb) <= 2
ORDER BY pa, cosine2_scaled DESC, pb
"""


@query(
    "item_similarity_topk",
    _ITEMSIM_ORACLE,
    "Item-based collaborative filtering: top-2 most-similar parts per "
    "part by integer-scaled cosine^2 of basket co-occurrence (co^2 * "
    "10^6 div (n_a*n_b) — no sqrt, no float division); bounded basket "
    "self-join + broadcast item-frequency dim",
    tags=("relational", "warehouse", "bench"),
)
def q_item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    freq = baskets.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select("ok", F.col("pk").alias("pa"))
    b = baskets.select("ok", F.col("pk").alias("pb"))
    co = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    fa = freq.select(F.col("pk").alias("pa"), F.col("n").alias("na"))
    fb = freq.select(F.col("pk").alias("pb"), F.col("n").alias("nb"))
    scored = (
        co.join(F.broadcast(fa), "pa")
        .join(F.broadcast(fb), "pb")
        .withColumn(
            "cosine2_scaled",
            F.expr("(co * co * 1000000) div (na * nb)").cast("long"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cosine2_scaled"), "pb")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("pa", "pb", "co", "na", "nb", "cosine2_scaled")
        .orderBy("pa", F.desc("cosine2_scaled"), "pb")
    )


# --------------------------------------------------------------------------
# Distributed bitmap index (roaring-style audience segmentation, dense
# words): each event type's user set becomes a (word = user_id div 64,
# bits = bit_or(1 << user_id mod 64)) bitmap relation — ONE hash
# aggregate builds all types' bitmaps at once. Set algebra then runs on
# 64-user words, not users: intersection = bit_count(a & b), difference
# = bit_count(a & ~b), summed per word. The same query carries the
# exact distinct-intersection audit, so the bitmap algebra is verified
# against the set it encodes. At 100 TB this is how audience overlap is
# computed without ever shuffling raw user ids twice. Words hold 32
# users (shift <= 31): DuckDB range-checks 1 << 63 on BIGINT where the
# JVM wraps, so the sign bit is simply never used.
# --------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH bm AS (
  SELECT event_type, user_id // 32 AS w,
         BIT_OR(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type, user_id // 32
),
c AS (SELECT w, bits FROM bm WHERE event_type = 'click'),
v AS (SELECT w, bits FROM bm WHERE event_type = 'view'),
alg AS (
  -- intersection only: difference comes by subtraction from the totals
  -- (an inner-join bit_count(a & ~b) would drop click words with no
  -- matching view word and undercount)
  SELECT
    CAST(SUM(bit_count(c.bits & v.bits)) AS BIGINT) AS n_both
  FROM c JOIN v USING (w)
),
tot AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click'
                       THEN bit_count(bits) ELSE 0 END) AS BIGINT)
           AS n_click,
         CAST(SUM(CASE WHEN event_type = 'view'
                       THEN bit_count(bits) ELSE 0 END) AS BIGINT)
           AS n_view
  FROM bm
),
exact AS (
  SELECT COUNT(*) AS n_both_exact FROM (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
)
SELECT t.n_click, t.n_view, a.n_both,
       t.n_click - a.n_both AS n_click_only,
       e.n_both_exact,
       a.n_both = e.n_both_exact AS bitmap_exact
FROM alg a, tot t, exact e
"""


@query(
    "bitmap_intersection",
    _BITMAP_ORACLE,
    "Distributed bitmap index: one (type, user-word) bit_or aggregate "
    "builds both audience bitmaps; overlap and difference are "
    "bit_count word algebra (32 users per row of set math), verified "
    "in-query against the exact distinct intersection",
    tags=("relational", "warehouse", "bench"),
)
def q_bitmap_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    bm = (
        ev.groupBy(
            "event_type", F.expr("user_id div 32").alias("w")
        ).agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))"
            ).alias("bits")
        )
    )
    c = bm.filter(F.col("event_type") == "click").select(
        "w", F.col("bits").alias("cb")
    )
    v = bm.filter(F.col("event_type") == "view").select(
        "w", F.col("bits").alias("vb")
    )
    alg = c.join(v, "w").agg(
        F.sum(F.bit_count(F.expr("cb & vb"))).cast("long").alias("n_both")
    )
    tot = bm.agg(
        F.sum(
            F.when(
                F.col("event_type") == "click", F.bit_count("bits")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_click"),
        F.sum(
            F.when(
                F.col("event_type") == "view", F.bit_count("bits")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_view"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id"
    ).distinct()
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id"
    ).distinct()
    exact = clicks.join(views, "user_id").agg(
        F.count(F.lit(1)).alias("n_both_exact")
    )
    return (
        alg.crossJoin(tot)
        .crossJoin(exact)
        .select(
            "n_click",
            "n_view",
            "n_both",
            (F.col("n_click") - F.col("n_both")).alias("n_click_only"),
            "n_both_exact",
            (F.col("n_both") == F.col("n_both_exact")).alias("bitmap_exact"),
        )
    )


# --------------------------------------------------------------------------
# Point-in-time dimension lookup — SCD2 composed with the range join:
# the browsing-state dimension (click/view SCD2 versions) is probed AT
# each purchase's timestamp, i.e. "what state was this user in when
# they bought". Intervals tile each user's timeline half-open
# [valid_from, valid_to), so every probe matches AT MOST one version
# deterministically (same-timestamp version flips leave an empty
# interval that can't match); probes before the first version roll up
# under 'none'. Equi-key hash join + range residual — never a
# broadcast-nested-loop (operators/asof.range_join).
# --------------------------------------------------------------------------

_PIT_ORACLE = """
WITH src AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE event_type IN ('click', 'view')
),
ordered AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM ordered
),
grouped AS (
  SELECT user_id, version, min(event_type) AS state,
         min(ts) AS valid_from
  FROM versioned GROUP BY user_id, version
),
dim AS MATERIALIZED (
  SELECT user_id, state, valid_from,
         COALESCE(lead(valid_from)
                    OVER (PARTITION BY user_id ORDER BY version),
                  TIMESTAMP '2100-01-01') AS valid_to
  FROM grouped
),
probes AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
pit AS (
  SELECT p.user_id, d.state
  FROM probes p LEFT JOIN dim d
    ON p.user_id = d.user_id
   AND p.ts >= d.valid_from AND p.ts < d.valid_to
)
SELECT COALESCE(state, 'none') AS state_at_purchase,
       COUNT(*) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM pit
GROUP BY COALESCE(state, 'none')
ORDER BY state_at_purchase
"""


@query(
    "pit_dimension_lookup",
    _PIT_ORACLE,
    "Point-in-time enrichment: SCD2 browsing-state history (click/view "
    "versions) probed at each purchase timestamp via the half-open "
    "range join — exactly-one-version determinism by interval tiling; "
    "the time-correct alternative to snapshot joins",
    tags=("relational", "warehouse", "bench"),
)
def q_pit_dimension_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import asof

    ev = load_table(spark, sf_dir, "events")
    dim = scd2(
        ev.filter(F.col("event_type").isin("click", "view")),
        key="user_id",
        attr="event_type",
        ts="ts",
        order_cols=("event_id",),
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        F.coalesce(
            "valid_to", F.lit("2100-01-01").cast("timestamp")
        ).alias("valid_to_f"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    pit = asof.range_join(
        probes,
        dim,
        on="user_id",
        point_ts="ts",
        interval_start="valid_from",
        interval_end="valid_to_f",
        how="left",
    )
    return (
        pit.groupBy(
            F.coalesce(F.col("state"), F.lit("none")).alias(
                "state_at_purchase"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("state_at_purchase")
    )


# --------------------------------------------------------------------------
# Attribution with a freshness bound — the as-of join's TOLERANCE path:
# a purchase converts only if the user's latest click is at most 1 hour
# old. Same union+window as-of plan (one keyed shuffle, no inequality
# join); the tolerance is a post-match void, so stale matches cost
# nothing extra. Latency mass in exact integer microseconds; conversion
# rate integer-scaled to basis points.
# --------------------------------------------------------------------------

_CONV_ORACLE = """
WITH clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
  FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT p.event_id, p.pts, MAX(c.cts) AS click_ts
  FROM purch p LEFT JOIN clicks c
    ON c.user_id = p.user_id
   AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 1 HOUR
  GROUP BY p.event_id, p.pts
)
SELECT COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       CAST(SUM(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END)
            * 10000 // COUNT(*) AS BIGINT) AS conversion_bps,
       CAST(COALESCE(SUM(epoch_us(pts) - epoch_us(click_ts)), 0) AS BIGINT)
         AS total_latency_us
FROM matched
"""


@query(
    "conversion_within_hour",
    _CONV_ORACLE,
    "Freshness-bounded attribution: purchase converts iff the user's "
    "latest click is <= 1 hour old — the as-of join's tolerance path "
    "(union + keyed window, stale matches voided post-hoc, zero "
    "inequality-join blowup); exact integer latency mass + basis-point "
    "rate",
    tags=("relational", "warehouse", "timeseries"),
)
def q_conversion_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import asof

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    m = asof.asof_join(
        purch,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=(),
        tolerance_seconds=3600,
    )
    conv = F.col("ts_right").isNotNull()
    return m.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(conv, 1).otherwise(0)).alias("n_converted"),
        F.expr(
            "CAST(SUM(CASE WHEN ts_right IS NOT NULL THEN 1 ELSE 0 END)"
            " * 10000 div COUNT(*) AS BIGINT)"
        ).alias("conversion_bps"),
        F.coalesce(
            F.sum(F.unix_micros("ts") - F.unix_micros("ts_right")), F.lit(0)
        )
        .cast("long")
        .alias("total_latency_us"),
    )


# --------------------------------------------------------------------------
# Zone-map (min/max data-skipping) pruning audit — the mechanism that
# makes the Z-order/Hilbert layout queries MATTER: a scan can skip a
# file iff the predicate's range misses the file's min/max zone. Two
# layouts are simulated from pure column expressions (no global sort,
# no real write): 'month_clustered' assigns rows to files by calendar
# month (what ingestion-partitioned parquet produces — tight date
# zones, wide key zones) and 'hash_unclustered' by md5 of the order key
# (every zone spans the full domain). Per (layout, file): min/max
# zones for the two audited columns in ONE aggregate; per (layout,
# predicate): files/rows scanned under min/max skipping plus true
# matching rows, so read amplification is an audited output. The whole
# audit is two keyed aggregates over a unioned map-only assignment —
# at 100 TB this is exactly the footprint of reading the parquet
# footer statistics.
# --------------------------------------------------------------------------

_ZM_DATE_LO, _ZM_DATE_HI = "1995-03-01", "1995-03-31"
_ZM_KEY_LO, _ZM_KEY_HI = 100, 199
_ZM_HASH_FILES = 80  # ~ the month-file count over TPC-H's 7-year range

_ZONEMAP_ORACLE = f"""
WITH assign AS (
  SELECT 'month_clustered' AS layout,
         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS file,
         o_orderdate, o_custkey
  FROM orders
  UNION ALL
  SELECT 'hash_unclustered' AS layout,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % {_ZM_HASH_FILES} AS file,
         o_orderdate, o_custkey
  FROM orders
),
zones AS (
  SELECT layout, file, COUNT(*) AS n_rows,
         MIN(o_orderdate) AS min_d, MAX(o_orderdate) AS max_d,
         MIN(o_custkey) AS min_c, MAX(o_custkey) AS max_c,
         CAST(SUM(CASE WHEN o_orderdate BETWEEN DATE '{_ZM_DATE_LO}'
                        AND DATE '{_ZM_DATE_HI}' THEN 1 ELSE 0 END)
              AS BIGINT) AS match_date,
         CAST(SUM(CASE WHEN o_custkey BETWEEN {_ZM_KEY_LO} AND {_ZM_KEY_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS match_key
  FROM assign GROUP BY layout, file
),
per_layout AS (
  SELECT layout,
         COUNT(*) AS files_total, CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         COUNT(*) FILTER (NOT (max_d < DATE '{_ZM_DATE_LO}'
                               OR min_d > DATE '{_ZM_DATE_HI}'))
           AS date_files,
         CAST(COALESCE(SUM(n_rows) FILTER (NOT (max_d < DATE '{_ZM_DATE_LO}'
                               OR min_d > DATE '{_ZM_DATE_HI}')), 0)
           AS BIGINT) AS date_rows,
         CAST(SUM(match_date) AS BIGINT) AS date_match,
         COUNT(*) FILTER (NOT (max_c < {_ZM_KEY_LO} OR min_c > {_ZM_KEY_HI}))
           AS key_files,
         CAST(COALESCE(SUM(n_rows) FILTER (NOT (max_c < {_ZM_KEY_LO}
                               OR min_c > {_ZM_KEY_HI})), 0)
           AS BIGINT) AS key_rows,
         CAST(SUM(match_key) AS BIGINT) AS key_match
  FROM zones GROUP BY layout
)
SELECT layout, predicate, files_total, files_scanned, rows_scanned,
       rows_matching,
       rows_scanned * 10000 // rows_total AS scan_bps
FROM (
  SELECT layout, 'date_month' AS predicate, files_total, rows_total,
         date_files AS files_scanned, date_rows AS rows_scanned,
         date_match AS rows_matching
  FROM per_layout
  UNION ALL
  SELECT layout, 'custkey_range', files_total, rows_total,
         key_files, key_rows, key_match
  FROM per_layout
)
ORDER BY layout, predicate
"""


@query(
    "zonemap_pruning_audit",
    _ZONEMAP_ORACLE,
    "Min/max zone-map data-skipping audit: month-clustered vs "
    "hash-unclustered file layouts, per-file zones in one aggregate, "
    "files/rows scanned + read amplification per predicate — the "
    "footer-statistics footprint that justifies clustered layouts",
    tags=("warehouse", "layout", "bench"),
)
def q_zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    month_file = (
        (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    hash_file = F.expr(
        "conv(substr(md5(cast(o_orderkey as string)), 1, 8), 16, 10)"
    ).cast("long") % _ZM_HASH_FILES
    assign = o.select(
        F.lit("month_clustered").alias("layout"), month_file.alias("file"),
        "o_orderdate", "o_custkey",
    ).unionAll(
        o.select(
            F.lit("hash_unclustered").alias("layout"), hash_file.alias("file"),
            "o_orderdate", "o_custkey",
        )
    )
    in_date = F.col("o_orderdate").between(_ZM_DATE_LO, _ZM_DATE_HI)
    in_key = F.col("o_custkey").between(_ZM_KEY_LO, _ZM_KEY_HI)
    zones = assign.groupBy("layout", "file").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderdate").alias("min_d"),
        F.max("o_orderdate").alias("max_d"),
        F.min("o_custkey").alias("min_c"),
        F.max("o_custkey").alias("max_c"),
        F.sum(F.when(in_date, 1).otherwise(0)).alias("match_date"),
        F.sum(F.when(in_key, 1).otherwise(0)).alias("match_key"),
    )
    date_hit = ~(
        (F.col("max_d") < F.lit(_ZM_DATE_LO))
        | (F.col("min_d") > F.lit(_ZM_DATE_HI))
    )
    key_hit = ~(
        (F.col("max_c") < _ZM_KEY_LO) | (F.col("min_c") > _ZM_KEY_HI)
    )
    per_layout = zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(date_hit, 1).otherwise(0)).alias("date_files"),
        F.sum(F.when(date_hit, F.col("n_rows")).otherwise(0)).alias("date_rows"),
        F.sum("match_date").alias("date_match"),
        F.sum(F.when(key_hit, 1).otherwise(0)).alias("key_files"),
        F.sum(F.when(key_hit, F.col("n_rows")).otherwise(0)).alias("key_rows"),
        F.sum("match_key").alias("key_match"),
    )
    unp = per_layout.selectExpr(
        "layout",
        "files_total",
        "rows_total",
        """stack(2,
             'date_month', date_files, date_rows, date_match,
             'custkey_range', key_files, key_rows, key_match)
           AS (predicate, files_scanned, rows_scanned, rows_matching)""",
    )
    return unp.select(
        "layout",
        "predicate",
        F.col("files_total").cast("long"),
        F.col("files_scanned").cast("long"),
        F.col("rows_scanned").cast("long"),
        F.col("rows_matching").cast("long"),
        F.expr("rows_scanned * 10000 div rows_total")
        .cast("long")
        .alias("scan_bps"),
    ).orderBy("layout", "predicate")


# --------------------------------------------------------------------------
# k-anonymity audit — the privacy-side profiling primitive a training-
# data release runs next to PII scrubbing (functions/text.scrub_pii):
# how many rows sit in quasi-identifier equivalence classes smaller
# than k and would need suppression or generalization. Three
# generalization levels of the customer QI tuple are audited in one
# query; each level is one hash aggregate on the QI key followed by a
# bounded rollup — uniform keys, no skew hazard, and the class-size
# histogram shape mirrors key_skew_gini's count-of-counts device.
# --------------------------------------------------------------------------

_KANON_K = 5

_KANON_ORACLE = f"""
WITH fine AS (
  SELECT 'nation+segment+balbucket' AS level, COUNT(*) AS sz
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000)
),
mid AS (
  SELECT 'nation+segment' AS level, COUNT(*) AS sz
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
coarse AS (
  SELECT 'segment' AS level, COUNT(*) AS sz
  FROM customer GROUP BY c_mktsegment
),
classes AS (
  SELECT * FROM fine UNION ALL SELECT * FROM mid UNION ALL
  SELECT * FROM coarse
)
SELECT level,
       COUNT(*) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(MIN(sz) AS BIGINT) AS k_anonymity,
       CAST(COALESCE(SUM(sz) FILTER (sz < {_KANON_K}), 0) AS BIGINT)
         AS rows_below_k,
       CAST(COALESCE(SUM(sz) FILTER (sz < {_KANON_K}), 0) * 10000
            // SUM(sz) AS BIGINT) AS suppressed_bps
FROM classes GROUP BY level ORDER BY level
"""


@query(
    "k_anonymity_audit",
    _KANON_ORACLE,
    "k-anonymity audit over three quasi-identifier generalization "
    "levels: per-level class-size aggregate + bounded rollup — the "
    "suppression-rate number a privacy release gate needs, computed "
    "next to the PII scrub",
    tags=("llm", "audit", "bench"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")

    def level(name: str, *keys) -> DataFrame:
        return (
            c.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("sz"))
            .select(F.lit(name).alias("level"), "sz")
        )

    classes = (
        level(
            "nation+segment+balbucket",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).alias("balbucket"),
        )
        .unionAll(level("nation+segment", "c_nationkey", "c_mktsegment"))
        .unionAll(level("segment", "c_mktsegment"))
    )
    below = F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0)
    return (
        classes.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.min("sz").cast("long").alias("k_anonymity"),
            F.sum(below).cast("long").alias("rows_below_k"),
        )
        .withColumn(
            "suppressed_bps",
            F.expr("rows_below_k * 10000 div n_rows").cast("long"),
        )
        .orderBy("level")
    )


# --------------------------------------------------------------------------
# l-diversity audit — k-anonymity's necessary complement (Machanavajjhala
# et al., ICDE'06): a class can be k-large yet still leak the sensitive
# attribute if every member SHARES it (homogeneity attack). Here the
# sensitive attribute is the market segment; quasi-identifiers are two
# generalization levels of (nation, account-balance bucket). Distinct
# l-diversity per class is computed WITHOUT count(distinct) expansion:
# one (QI, segment) aggregate collapses duplicates, then the per-class
# rollup counts rows (= distinct segments) and sums sizes — two
# mergeable hash aggregates per level, uniform keys, bounded output.
# --------------------------------------------------------------------------

_LDIV_L = 2  # classes with l < 2 are fully homogeneous → disclosure

_LDIV_ORACLE = f"""
WITH fine_cells AS (
  SELECT c_nationkey AS qi1, FLOOR(c_acctbal / 1000) AS qi2,
         c_mktsegment AS sens, COUNT(*) AS n
  FROM customer GROUP BY 1, 2, 3
), fine AS (
  SELECT 'nation+balbucket' AS level, COUNT(*) AS l, SUM(n) AS sz
  FROM fine_cells GROUP BY qi1, qi2
), coarse_cells AS (
  SELECT c_nationkey AS qi1, c_mktsegment AS sens, COUNT(*) AS n
  FROM customer GROUP BY 1, 2
), coarse AS (
  SELECT 'nation' AS level, COUNT(*) AS l, SUM(n) AS sz
  FROM coarse_cells GROUP BY qi1
), classes AS (
  SELECT * FROM fine UNION ALL SELECT * FROM coarse
)
SELECT level,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(MIN(l) AS BIGINT) AS l_diversity,
       CAST(COALESCE(COUNT(*) FILTER (l < {_LDIV_L}), 0) AS BIGINT)
         AS homogeneous_classes,
       CAST(COALESCE(SUM(sz) FILTER (l < {_LDIV_L}), 0) AS BIGINT)
         AS rows_at_risk,
       CAST(COALESCE(SUM(sz) FILTER (l < {_LDIV_L}), 0) * 10000
            // SUM(sz) AS BIGINT) AS at_risk_bps
FROM classes GROUP BY level ORDER BY level
"""


@query(
    "l_diversity_audit",
    _LDIV_ORACLE,
    "l-diversity audit (Machanavajjhala ICDE'06) over two QI "
    "generalization levels with market segment as the sensitive "
    "attribute: distinct-l per class via a (QI, segment) pre-aggregate "
    "(no count-distinct expansion), homogeneous-class and rows-at-risk "
    "rollups — the disclosure check k-anonymity alone misses",
    tags=("llm", "audit", "bench"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")

    def level(name: str, keys: list) -> DataFrame:
        # keys: (expr, out_name) pairs — the second aggregate groups on
        # the FIRST aggregate's output columns by name.
        cells = c.groupBy(
            *[e.alias(n) for e, n in keys], F.col("c_mktsegment")
        ).agg(F.count(F.lit(1)).alias("n"))
        return (
            cells.groupBy(*[n for _, n in keys])
            .agg(F.count(F.lit(1)).alias("l"), F.sum("n").alias("sz"))
            .select(F.lit(name).alias("level"), "l", "sz")
        )

    fine = level(
        "nation+balbucket",
        [
            (F.col("c_nationkey"), "qi1"),
            (F.floor(F.col("c_acctbal") / 1000), "qi2"),
        ],
    )
    coarse = level("nation", [(F.col("c_nationkey"), "qi1")])
    classes = fine.unionAll(coarse)
    risk = F.when(F.col("l") < _LDIV_L, F.col("sz")).otherwise(0)
    homog = F.when(F.col("l") < _LDIV_L, 1).otherwise(0)
    return (
        classes.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.min("l").cast("long").alias("l_diversity"),
            F.sum(homog).cast("long").alias("homogeneous_classes"),
            F.sum(risk).cast("long").alias("rows_at_risk"),
        )
        .withColumn(
            "at_risk_bps",
            F.expr("rows_at_risk * 10000 div n_rows").cast("long"),
        )
        .orderBy("level")
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (r07) — the classic marketing-warehouse
# rollup: per customer Recency (days since last order, vs the global
# max order date), Frequency (order count) and Monetary (decimal-exact
# spend in cents), each scored into quartiles by ntile(4) with a
# deterministic (metric, custkey) tiebreak oriented so score 4 = best
# (most recent / most frequent / top spend); the output is the
# 64-cell-bounded segment rollup with per-segment customer counts and
# monetary mass.
#
# Scale shape (VERDICT r07 #4): the r07 form ran THREE global
# no-partitionBy ntile(4) windows — each a single-partition sort of the
# customer dimension, billions of rows through one task at 100x. The
# quartile boundaries are now computed by the distributed exact-
# selection operator (operators/selection.ntile_boundary_pairs: bucket-
# bisection over mergeable conditional aggregates, extended to the
# (metric, custkey) tiebreak by resolving the boundary PAIR), then the
# 9 boundary pairs broadcast and every customer scores by lexicographic
# comparison — identical output to the window formulation (the oracle
# still replays NTILE), no single-partition exchange anywhere
# (asserted in tests/test_plan_shape.py). The global max date is a
# broadcast scalar.
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS f,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS m_cents
  FROM orders GROUP BY 1
),
mx AS (SELECT MAX(last_day) AS maxd FROM cust),
scored AS (
  SELECT c.custkey,
         date_diff('day', c.last_day, m.maxd) AS r_days,
         c.f, c.m_cents,
         NTILE(4) OVER (ORDER BY c.last_day, c.custkey) AS r_q,
         NTILE(4) OVER (ORDER BY c.f, c.custkey) AS f_q,
         NTILE(4) OVER (ORDER BY c.m_cents, c.custkey) AS m_q
  FROM cust c CROSS JOIN mx m
)
SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
       CAST(m_q AS INTEGER) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(m_cents) AS BIGINT) AS segment_cents,
       CAST(MIN(r_days) AS BIGINT) AS min_r_days,
       CAST(MAX(r_days) AS BIGINT) AS max_r_days
FROM scored GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
"""


@query(
    "rfm_segmentation",
    _RFM_ORACLE,
    "RFM customer segmentation: per-customer recency/frequency/decimal-"
    "exact monetary, ntile(4) quartile scores with deterministic "
    "(metric, custkey) tiebreaks (4 = best), 64-cell-bounded segment "
    "rollup with counts and monetary mass — quartile boundary pairs "
    "come from the distributed selection operator and broadcast, so no "
    "single-partition window sort touches the customer dimension",
    tags=("relational", "warehouse", "window", "bench"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.selection import (
        ntile_boundary_pairs,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("f"),
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("long")
        .alias("m_cents"),
    )
    # last_day as epoch days: exact in double for the selection core.
    cust = cust.withColumn(
        "ld", F.datediff("last_day", F.lit("1970-01-01")).cast("long")
    )
    # cust feeds the scalar max, the boundary selection passes (each a
    # mergeable conditional aggregate) and the final scoring pass.
    cust = checkpoint(cust)
    mx = cust.agg(F.max("last_day").alias("maxd"))
    bnds = ntile_boundary_pairs(cust, ["ld", "f", "m_cents"], "custkey", 4)

    def score(col: str, pairs) -> F.Column:
        # bucket = 1 + #{boundary pairs < (metric, custkey)}, pairs
        # compared lexicographically — identical to
        # ntile(4) OVER (ORDER BY metric, custkey).
        e = F.lit(1)
        for bv, bt in pairs:
            e = e + (
                (F.col(col) > F.lit(bv))
                | ((F.col(col) == F.lit(bv)) & (F.col("custkey") > F.lit(bt)))
            ).cast("int")
        return e

    scored = cust.crossJoin(F.broadcast(mx)).select(
        "custkey",
        F.datediff("maxd", "last_day").cast("long").alias("r_days"),
        "f",
        "m_cents",
        score("ld", bnds["ld"]).alias("r_q"),
        score("f", bnds["f"]).alias("f_q"),
        score("m_cents", bnds["m_cents"]).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_cents").cast("long").alias("segment_cents"),
            F.min("r_days").cast("long").alias("min_r_days"),
            F.max("r_days").cast("long").alias("max_r_days"),
        )
        .select(
            F.col("r_q").cast("int"),
            F.col("f_q").cast("int"),
            F.col("m_q").cast("int"),
            "n_customers",
            "segment_cents",
            "min_r_days",
            "max_r_days",
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (r08) — the algebraic mart-merge
# path every lake deployment runs nightly: a compact base mart
# (month x priority partial aggregates, built before the cutoff) is
# MERGED with a delta batch's partial aggregates by re-aggregating the
# union — sum-of-sums and sum-of-counts, exact in DECIMAL cents — and
# the result must equal a full recompute over all of history. The
# oracle IS that full recompute, so the driver hash certifies the
# algebraic identity, not just plumbing.
#
# Why it matters at 100 TB: the full-recompute form re-scans every
# order partition nightly; the merge form scans ONLY the delta
# partitions (o_orderdate >= cutoff prunes at the parquet scan — the
# filter is in the plan) plus a mart whose cardinality is months x
# priorities, thousands of rows regardless of fact-table size. All
# three shuffles (two partial aggregates + the merge) move mart-sized
# rows. The same identity is what maintenance.merge_upsert exploits
# key-level; this query certifies it value-exactly for the additive
# aggregate pair (COUNT, SUM) that every rollup mart is built from.
# --------------------------------------------------------------------------

# Mid-month on purpose: a month-aligned cutoff would put every ym key
# in exactly one leg and the "merge" would never combine two partials
# for the same key — the identity being certified would be vacuous.
# With 1997-03-15, ym=199703 holds a partial in BOTH legs (pinned by
# test_incremental_mart_merge_actually_merges).
_INCR_MERGE_CUTOFF = "1997-03-15"

_INCR_MERGE_ORACLE = f"""
SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY 1, 2
ORDER BY ym, o_orderpriority
"""


def _mart_partial(orders: DataFrame) -> DataFrame:
    """Partial (month, priority) rollup — the additive mart grain."""
    return (
        orders.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("ym"),
            "o_orderpriority",
            (F.col("o_totalprice").cast(f"decimal({DEC_PRICE})") * 100).alias(
                "cents"
            ),
        )
        .groupBy("ym", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
    )


@query(
    "incremental_mart_merge",
    _INCR_MERGE_ORACLE,
    "Incremental aggregate maintenance: a pre-cutoff base mart (month x "
    "priority COUNT/SUM partials) merged with a delta batch's partials "
    "by re-aggregating the union — sum-of-sums in exact DECIMAL cents — "
    "certified equal to a full recompute (the oracle); the delta leg's "
    "date filter prunes at the scan, every shuffle is mart-sized",
    tags=("warehouse", "bench"),
)
def q_incremental_mart_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_INCR_MERGE_CUTOFF).cast("date")
    base = _mart_partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = _mart_partial(orders.where(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("ym", "o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_merged"),
            F.sum("cents").alias("cents"),
        )
    )
    return merged.select(
        "ym",
        "o_orderpriority",
        F.col("n_merged").cast("long").alias("n_orders"),
        F.col("cents").cast("long").alias("total_cents"),
    ).orderBy("ym", "o_orderpriority")


# --------------------------------------------------------------------------
# Revenue-concentration Lorenz profile (r08) — customer spend split
# into 10 equal-count deciles by exact global rank, with each decile's
# share and cumulative share of total revenue in exact ppm. The "top
# 10% of customers hold X% of revenue" curve (and its Gini complement,
# key_skew_gini) that decides mart denormalization and cache sizing.
#
# Plan shape: the customer spend rollup is the only fact-table
# shuffle; ranking the CUSTOMER DIMENSION uses
# operators/rank.with_global_position (range repartition + local sort
# + broadcast prefix offsets — the r08 machinery that replaced
# single-partition NTILE windows), so no task ever holds the whole
# dimension. Decile assignment is pure arithmetic on the exact
# position; the rollup shuffles 10 rows. Shares are exact:
# spend in DECIMAL cents end to end, ppm = cents*1e6 div total_cents
# (HUGEINT/DECIMAL(38,0) product — exact to ~1e24 total cents).
# The oracle's NTILE over the same (spend, custkey) total order is
# bit-identical because NTILE(10) of rank r among n rows IS the
# closed-form bucket ntile_from_position computes.
# --------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, cents,
         NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM spend
),
rolled AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS spend_cents
  FROM ranked GROUP BY decile
),
tot AS (SELECT SUM(CAST(spend_cents AS HUGEINT)) AS total FROM rolled)
SELECT r.decile, r.n_customers, r.spend_cents,
       CAST(CAST(r.spend_cents AS HUGEINT) * 1000000 // t.total AS BIGINT)
         AS share_ppm,
       CAST(SUM(CAST(r.spend_cents AS HUGEINT))
              OVER (ORDER BY r.decile) * 1000000 // t.total AS BIGINT)
         AS cum_share_ppm
FROM rolled r, tot t
ORDER BY r.decile
"""


@query(
    "spend_lorenz_deciles",
    _LORENZ_ORACLE,
    "Lorenz revenue-concentration profile: customer spend ranked into "
    "10 equal-count deciles by exact global position (range-partitioned "
    "ranking, no single-partition window), per-decile and cumulative "
    "revenue share in exact ppm from DECIMAL-cents arithmetic",
    tags=("warehouse", "stats", "bench"),
)
def q_spend_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.rank import (
        ntile_from_position,
        with_global_position,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(f"decimal({DEC_PRICE})") * 100).alias(
            "cents"
        )
    )
    ranked, total_rows = with_global_position(
        spend, ["cents", "o_custkey"], pos_col="pos"
    )
    rolled = (
        ranked.withColumn(
            "decile", ntile_from_position("pos", total_rows, 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").alias("cents_d"),
        )
    )
    tot = rolled.agg(F.sum("cents_d").alias("total_d"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rolled.crossJoin(F.broadcast(tot))
        .withColumn("cum_d", F.sum("cents_d").over(w))
        .select(
            "decile",
            "n_customers",
            F.col("cents_d").cast("long").alias("spend_cents"),
            F.expr(
                "(cents_d * CAST(1000000 AS DECIMAL(7,0))) div total_d"
            )
            .cast("long")
            .alias("share_ppm"),
            F.expr(
                "(cum_d * CAST(1000000 AS DECIMAL(7,0))) div total_d"
            )
            .cast("long")
            .alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# t-closeness audit (r08) — the third rung of the privacy-release
# ladder (Li et al., ICDE'07) after k_anonymity_audit (classes big
# enough?) and l_diversity_audit (sensitive values diverse enough?):
# even a diverse class leaks if its sensitive-value DISTRIBUTION sits
# far from the global one. For the ORDERED sensitive attribute
# (account-balance bucket) the distance is the Earth Mover's Distance
# over the ordered buckets,
#
#   EMD(P, Q) = (1/(m-1)) * Sum_i | Sum_{j<=i} (p_j - q_j) |
#
# computed integer-exactly on the common denominator n*N: the inner
# cumulative is Sum_{j<=i} (c_j*N - g_j*n) (class counts c, global
# counts g), so emd_bp = Sum|cum| * 10000 div ((m-1)*n*N). The grid is
# (QI classes x buckets), both dimension-bounded; the cumulative is a
# bucket-ordered window per class. Top-20 least-close classes emitted
# with deterministic tiebreaks. Magnitudes: |cum| <= n*N, so the
# decimal(38,0) scaled sum holds to n*N*m*1e4 < 1e38 — n, N to ~1e15
# rows; the div result is <= 1e4, always int64.
# --------------------------------------------------------------------------

_TCLOSE_ORACLE = """
WITH rows_ AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS b
  FROM customer
), cells AS (
  SELECT nat, seg, b, CAST(COUNT(*) AS HUGEINT) AS c
  FROM rows_ GROUP BY 1, 2, 3
), cls AS (
  SELECT nat, seg, SUM(c) AS n FROM cells GROUP BY 1, 2
), gdist AS (
  SELECT b, SUM(c) AS g FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(c) AS nn, CAST(COUNT(DISTINCT b) AS HUGEINT) AS m FROM cells
), grid AS (
  SELECT cls.nat, cls.seg, cls.n, gdist.b, gdist.g, COALESCE(cells.c, 0) AS c
  FROM cls CROSS JOIN gdist
  LEFT JOIN cells ON cells.nat = cls.nat AND cells.seg = cls.seg
                 AND cells.b = gdist.b
), cum AS (
  SELECT nat, seg, n, b,
         SUM(c * t.nn - g * n) OVER (
           PARTITION BY nat, seg ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
  FROM grid CROSS JOIN tot t
), emd AS (
  SELECT nat, seg, CAST(MAX(n) AS BIGINT) AS class_n,
         CAST(SUM(ABS(cd)) * 10000
              // ((SELECT (m - 1) FROM tot)
                  * MAX(n) * (SELECT nn FROM tot)) AS BIGINT) AS emd_bp
  FROM cum GROUP BY nat, seg
)
SELECT CAST(nat AS BIGINT) AS nat, seg, class_n, emd_bp
FROM emd
ORDER BY emd_bp DESC, nat, seg
LIMIT 20
"""


@query(
    "t_closeness_audit",
    _TCLOSE_ORACLE,
    "t-closeness audit (the distribution rung of the privacy ladder "
    "after k-anonymity and l-diversity): per (nation, segment) QI "
    "class, the ordered-EMD between the class's account-balance-bucket "
    "distribution and the global one, integer-exact on the common "
    "denominator n*N via a bucket-ordered cumulative window over the "
    "dimension-bounded class x bucket grid; top-20 least-close classes",
    tags=("llm", "audit", "bench"),
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    rows_ = c.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("b"),
    )
    cells = rows_.groupBy("nat", "seg", "b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    cells = checkpoint(cells)
    cls = cells.groupBy("nat", "seg").agg(F.sum("c").alias("n"))
    glob = cells.groupBy("b").agg(F.sum("c").alias("g"))
    tot = cells.agg(
        F.sum("c").alias("nn"),
        F.countDistinct("b").cast("decimal(38,0)").alias("m"),
    )
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(cells, ["nat", "seg", "b"], "left")
        .select(
            "nat",
            "seg",
            "n",
            "b",
            "g",
            F.coalesce(F.col("c"), F.lit(0).cast("decimal(38,0)")).alias("c"),
        )
        .crossJoin(F.broadcast(tot))
    )
    w = (
        Window.partitionBy("nat", "seg")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "nat",
        "seg",
        "n",
        "nn",
        "m",
        F.sum(F.col("c") * F.col("nn") - F.col("g") * F.col("n"))
        .over(w)
        .alias("cd"),
    )
    emd = cum.groupBy("nat", "seg").agg(
        F.max("n").cast("long").alias("class_n"),
        F.expr(
            "cast(sum(abs(cd)) * 10000 div ((max(m) - 1) * max(n) * max(nn))"
            " as long)"
        ).alias("emd_bp"),
    )
    return (
        emd.orderBy(
            F.col("emd_bp").desc(), F.col("nat").asc(), F.col("seg").asc()
        )
        .limit(20)
        .select(F.col("nat").cast("long").alias("nat"), "seg", "class_n", "emd_bp")
    )


# --------------------------------------------------------------------------
# SCD2 interval-integrity audit (r08) — the dimension-contract checks a
# warehouse runs after every SCD2 load, as ONE query over the build
# (the dbt-test companion to fk_coverage_audit / dq_expectations):
#
#   one_current_per_key    exactly one open (is_current) version per key
#   no_gap_no_overlap      valid_to of version v equals valid_from of
#                          v+1 exactly (closed-open intervals tile time)
#   dense_versions         versions run 1..m with no holes
#   current_is_last        the open version is the max version
#
# Each rule reports violation counts over the keyed dimension; the
# engine's own scd2 build satisfies all four BY CONSTRUCTION, so the
# baseline values are zeros — the audit exists to catch hand-edited or
# merged dimensions that broke the contract. One extra keyed window
# over the dimension-sized (not fact-sized) relation.
# --------------------------------------------------------------------------

_SCD2_AUDIT_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM ordered
),
grouped AS (
  SELECT user_id, version, min(ts) AS valid_from
  FROM versioned GROUP BY user_id, version
),
dim AS (
  SELECT user_id, version, valid_from,
         lead(valid_from) OVER wv AS valid_to,
         lead(valid_from) OVER wv IS NULL AS is_current,
         lead(version) OVER wv AS next_version
  FROM grouped
  WINDOW wv AS (PARTITION BY user_id ORDER BY version)
),
per_key AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_versions,
         CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
           AS n_open,
         CAST(SUM(CASE WHEN next_version IS NOT NULL
                        AND next_version <> version + 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_holes,
         CAST(MIN(version) AS BIGINT) AS min_v,
         CAST(MAX(version) AS BIGINT) AS max_v,
         CAST(SUM(CASE WHEN is_current AND version <> (
                SELECT MAX(d2.version) FROM dim d2
                WHERE d2.user_id = dim.user_id)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_open_not_last
  FROM dim GROUP BY user_id
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n_versions) AS BIGINT) AS n_versions,
         CAST(SUM(CASE WHEN n_open <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(n_holes) AS BIGINT) AS v2,
         CAST(SUM(CASE WHEN min_v <> 1 THEN 1 ELSE 0 END)
              + SUM(CASE WHEN max_v <> n_versions THEN 1 ELSE 0 END)
              AS BIGINT) AS v3,
         CAST(SUM(n_open_not_last) AS BIGINT) AS v4
  FROM per_key
)
SELECT 'one_current_per_key' AS rule, n_keys, n_versions,
       v1 AS n_violations, v1 = 0 AS passed FROM agg
UNION ALL
SELECT 'no_version_holes', n_keys, n_versions, v2, v2 = 0 FROM agg
UNION ALL
SELECT 'dense_from_one', n_keys, n_versions, v3, v3 = 0 FROM agg
UNION ALL
SELECT 'current_is_last', n_keys, n_versions, v4, v4 = 0 FROM agg
ORDER BY rule
"""


@query(
    "scd2_interval_audit",
    _SCD2_AUDIT_ORACLE,
    "SCD2 dimension-contract audit as ONE query over the versioned "
    "build: exactly-one-open-version, no version holes, dense 1..m "
    "numbering, open-version-is-last — per-key window + rollup over "
    "the dimension-sized relation; the engine's own scd2 build passes "
    "all four by construction (the audit catches hand-edited or "
    "badly merged dimensions)",
    tags=("relational", "warehouse", "audit", "bench"),
)
def q_scd2_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = Window
    ev = load_table(spark, sf_dir, "events")
    dim = scd2(ev, key="user_id", attr="event_type", ts="ts",
               order_cols=("event_id",))
    wv = W.partitionBy("user_id").orderBy("version")
    d = dim.select(
        "user_id",
        "version",
        "is_current",
        F.lead("version").over(wv).alias("next_version"),
        F.max("version").over(W.partitionBy("user_id")).alias("last_v"),
    )
    per_key = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("is_current"), 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
        F.sum(
            F.when(
                F.col("next_version").isNotNull()
                & (F.col("next_version") != F.col("version") + 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_holes"),
        F.min("version").cast("long").alias("min_v"),
        F.max("version").cast("long").alias("max_v"),
        F.sum(
            F.when(
                F.col("is_current") & (F.col("version") != F.col("last_v")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_open_not_last"),
    )
    agg = checkpoint(per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_versions").cast("long").alias("n_versions"),
        F.sum(F.when(F.col("n_open") != 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
        F.sum("n_holes").cast("long").alias("v2"),
        (
            F.sum(F.when(F.col("min_v") != 1, 1).otherwise(0))
            + F.sum(
                F.when(F.col("max_v") != F.col("n_versions"), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("v3"),
        F.sum("n_open_not_last").cast("long").alias("v4"),
    ))
    rules = (
        ("one_current_per_key", "v1"),
        ("no_version_holes", "v2"),
        ("dense_from_one", "v3"),
        ("current_is_last", "v4"),
    )
    out = None
    for rule, col in rules:
        r = agg.select(
            F.lit(rule).alias("rule"),
            "n_keys",
            "n_versions",
            F.col(col).alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("rule")


# --------------------------------------------------------------------------
# Time-decayed popularity top-k (r08) — the "trending items" rollup
# with EXACT integer decay: exponential decay needs no exp() when the
# half-life is a power-of-two grid — weight(age) = 2^(H - age_weeks)
# is integer for ages inside the horizon (H = 6 weeks here, 1-week
# half-life), so the decayed score
#
#   score = Sum_events 2^(H - age_weeks)
#
# is an exact BIGINT, order-independent, and mergeable (the decay
# factor depends only on the event's age bucket, not on arrival order
# — re-running tomorrow just shifts the reference week). One
# conditional-weight aggregate per part over the order lineitems; the
# undecayed count rides along to show WHAT decay changes: the output
# ranks recent-heavy parts above raw-volume parts. Anchor = max
# orderdate (data-derived, deterministic).
# --------------------------------------------------------------------------

_DECAY_H = 6  # horizon weeks; weight = 2^(H - age_w), age_w in [0, H]

_DECAY_ORACLE = f"""
WITH anchor AS (
  SELECT MAX(o_orderdate) AS mx FROM orders
), ev AS (
  SELECT l.l_partkey AS partkey,
         (epoch_us(CAST(a.mx AS TIMESTAMP))
          - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)))
           // 604800000000 AS age_w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  CROSS JOIN anchor a
), recent AS (
  SELECT partkey, age_w FROM ev WHERE age_w <= {_DECAY_H}
)
SELECT partkey,
       CAST(COUNT(*) AS BIGINT) AS n_recent,
       CAST(SUM(1 << ({_DECAY_H} - age_w)) AS BIGINT) AS decayed_score
FROM recent
GROUP BY partkey
ORDER BY decayed_score DESC, partkey
LIMIT 20
"""


@query(
    "decayed_popularity_topk",
    _DECAY_ORACLE,
    "Trending parts: exponential time decay with a 1-week half-life as "
    "EXACT integer weights (2^(H-age_weeks) — power-of-two decay needs "
    "no exp and stays order-independent/mergeable), one weighted "
    "aggregate over the recent-horizon lineitems + "
    "TakeOrderedAndProject top-20",
    tags=("relational", "warehouse", "timeseries", "bench"),
)
def q_decayed_popularity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    ev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.expr(
                "timestampdiff(MICROSECOND, cast(o_orderdate as timestamp),"
                " cast(mx as timestamp)) div 604800000000L"
            ).alias("age_w"),
        )
    )
    recent = ev.filter(F.col("age_w") <= _DECAY_H)
    return (
        recent.groupBy("partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_recent"),
            F.sum(
                F.expr(f"shiftleft(1L, cast({_DECAY_H} - age_w as int))")
            )
            .cast("long")
            .alias("decayed_score"),
        )
        .orderBy(F.desc("decayed_score"), "partkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Order-total reconciliation audit (r10) — the cross-table consistency
# check a warehouse runs before trusting a denormalized column: does
# orders.o_totalprice equal the recomputed
# sum(extendedprice * (1-discount) * (1+tax)) over its lineitems?
# All arithmetic is INTEGER CENTS/BP (line value = cents * (1e4-d_bp) *
# (1e4+t_bp) div 1e8, truncating — identical in both engines; peak
# magnitude ~2e15 per line, long-safe), so no float tree is mirrored at
# all. One data-sized keyed aggregate (lineitem by orderkey), one join
# to orders, then a bounded 6-bucket histogram of the relative diff.
# The synthetic generator draws o_totalprice independently, so the
# audit's job here is to REPORT the disagreement distribution, not to
# certify zeros — exactly what it would surface on a real drifted mart.
# --------------------------------------------------------------------------

_RECON_ORACLE = """
WITH recomp AS (
  SELECT l_orderkey AS ok,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
             * (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT))
             * (10000 + CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000 AS BIGINT))
             // 100000000) AS rc
  FROM lineitem GROUP BY 1
), j AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS tot_c,
         rc
  FROM orders LEFT JOIN recomp ON o_orderkey = ok
), labeled AS (
  SELECT CASE
           WHEN rc IS NULL THEN 'no_lineitems'
           WHEN rc = tot_c THEN 'exact'
           WHEN ABS(rc - tot_c) * 10000 // tot_c < 100 THEN 'lt_1pct'
           WHEN ABS(rc - tot_c) * 10000 // tot_c < 1000 THEN 'lt_10pct'
           WHEN ABS(rc - tot_c) * 10000 // tot_c < 10000 THEN 'lt_100pct'
           ELSE 'gte_100pct'
         END AS bucket,
         COALESCE(ABS(rc - tot_c), 0) AS diff_c
  FROM j
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(diff_c) // 100 AS BIGINT) AS sum_abs_diff_dollars
FROM labeled GROUP BY bucket ORDER BY bucket
"""


@query(
    "order_total_reconciliation",
    _RECON_ORACLE,
    "Cross-table consistency audit: o_totalprice vs the recomputed "
    "lineitem sum in pure integer cents/bp (no float tree anywhere), "
    "one keyed aggregate + broadcast-eligible join, bounded 6-bucket "
    "relative-diff histogram — the denormalization drift report",
    tags=("relational", "audit", "bench"),
)
def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    recomp = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sum(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
                " * (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT))"
                " * (10000 + CAST(CAST(l_tax AS DECIMAL(6,4)) * 10000 AS BIGINT))"
                " div 100000000"
            )
        ).alias("rc")
    )
    j = orders.select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("tot_c"),
        F.col("o_orderkey"),
    ).join(recomp, F.col("o_orderkey") == F.col("ok"), "left")
    labeled = j.select(
        F.expr(
            "CASE"
            " WHEN rc IS NULL THEN 'no_lineitems'"
            " WHEN rc = tot_c THEN 'exact'"
            " WHEN ABS(rc - tot_c) * 10000 div tot_c < 100 THEN 'lt_1pct'"
            " WHEN ABS(rc - tot_c) * 10000 div tot_c < 1000 THEN 'lt_10pct'"
            " WHEN ABS(rc - tot_c) * 10000 div tot_c < 10000 THEN 'lt_100pct'"
            " ELSE 'gte_100pct' END"
        ).alias("bucket"),
        F.coalesce(F.abs(F.col("rc") - F.col("tot_c")), F.lit(0)).alias("diff_c"),
    )
    return (
        labeled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("CAST(SUM(diff_c) div 100 AS BIGINT)").alias(
                "sum_abs_diff_dollars"
            ),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Market-concentration HHI (r10 wave 2) — per-nation Herfindahl-
# Hirschman index of supplier revenue shares: HHI = sum(share^2),
# emitted in bp as sum(s_c^2) * 1e4 DIV (sum s_c)^2 over exact
# integer cents, plus the top-supplier share. One broadcast-enriched
# (nation, supplier) revenue aggregate, then a nation rollup — the
# antitrust-style concentration audit next to spend_lorenz_deciles
# (which profiles customers; this profiles the supply side).
# --------------------------------------------------------------------------

_HHI_ORACLE = """
WITH per_supp AS (
  SELECT s.s_nationkey AS nk, l.l_suppkey,
         SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
           AS s_c
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), nat AS (
  SELECT nk, CAST(COUNT(*) AS HUGEINT) AS n_suppliers,
         CAST(SUM(s_c) AS HUGEINT) AS tot,
         CAST(SUM(CAST(s_c AS HUGEINT) * CAST(s_c AS HUGEINT)) AS HUGEINT)
           AS ss2,
         CAST(MAX(s_c) AS HUGEINT) AS mx
  FROM per_supp GROUP BY nk
)
SELECT n.n_name AS nation,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(ss2 * 10000 // (tot * tot) AS BIGINT) AS hhi_bp,
       CAST(mx * 10000 // tot AS BIGINT) AS top_share_bp
FROM nat JOIN nation n ON n.n_nationkey = nat.nk
ORDER BY nation
"""


@query(
    "market_hhi_concentration",
    _HHI_ORACLE,
    "Per-nation Herfindahl-Hirschman supplier-revenue concentration: "
    "one broadcast-enriched (nation, supplier) cents aggregate + "
    "nation rollup, HHI and top-share integer-exact in bp — the "
    "supply-side concentration audit",
    tags=("relational", "audit", "bench"),
)
def q_market_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_supp = (
        li.join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("nk"), "l_suppkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100"
                    " AS BIGINT)"
                )
            ).alias("s_c")
        )
    )
    nat = per_supp.groupBy("nk").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_suppliers"),
        F.sum("s_c").cast("decimal(38,0)").alias("tot"),
        F.sum(
            F.col("s_c").cast("decimal(38,0)") * F.col("s_c").cast("decimal(38,0)")
        ).alias("ss2"),
        F.max("s_c").cast("decimal(38,0)").alias("mx"),
    )
    return (
        nat.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("nk") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            F.expr("CAST(ss2 * 10000 div (tot * tot) AS BIGINT)").alias("hhi_bp"),
            F.expr("CAST(mx * 10000 div tot AS BIGINT)").alias("top_share_bp"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# Lift/gains by score band (r10 wave 2) — the model-evaluation table:
# does account balance (the "score") separate converters (customers
# with >= 1 order) from non-converters? Bands are FIXED 1000-dollar
# ranges (value-domain-bounded, ~102 bands — never an equal-count
# ntile over the data-sized dimension; that's the rfm lesson), so the
# only data-sized work is the semi-join + one banded aggregate. Per
# band: conversion in bp, lift vs overall, and the top-down cumulative
# conversion (descending-score bounded window — allowlist class).
# --------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH scored AS (
  SELECT (CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000)
           // 100000 AS band,
         CASE WHEN c_custkey IN (SELECT o_custkey FROM orders)
              THEN 1 ELSE 0 END AS conv
  FROM customer
), bands AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(conv) AS BIGINT) AS n_converted
  FROM scored GROUP BY band
), tot AS (
  SELECT SUM(n_customers) AS tn, SUM(n_converted) AS tc FROM bands
)
SELECT CAST(band AS BIGINT) AS band,
       n_customers, n_converted,
       CAST(n_converted * 10000 // n_customers AS BIGINT) AS conv_bp,
       CASE WHEN tc = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(n_converted * tn * 10000 // (n_customers * tc)
                      AS BIGINT)
       END AS lift_bp,
       CAST(SUM(n_converted) OVER (ORDER BY band DESC) * 10000
            // SUM(n_customers) OVER (ORDER BY band DESC) AS BIGINT)
         AS cum_conv_bp
FROM bands, tot
ORDER BY band
"""


@query(
    "lift_by_score_band",
    _LIFT_ORACLE,
    "Gains/lift table over fixed 1000-dollar account-balance bands: "
    "orders semi-join + one banded aggregate (value-domain-bounded, "
    "~102 bands — no data-sized ntile), per-band conversion, lift vs "
    "overall, and top-down cumulative conversion, all integer bp",
    tags=("relational", "stats", "bench"),
)
def q_lift_by_score_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    conv_keys = orders.select(F.col("o_custkey").alias("ck")).distinct()
    scored = (
        cust.join(conv_keys, cust["c_custkey"] == F.col("ck"), "left")
        .select(
            F.expr(
                "(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"
                " + 100000) div 100000"
            ).alias("band"),
            F.when(F.col("ck").isNotNull(), 1).otherwise(0).alias("conv"),
        )
    )
    bands = scored.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    tot = bands.agg(
        F.sum("n_customers").alias("tn"), F.sum("n_converted").alias("tc")
    )
    # bounded global window: ~102 fixed value bands
    w_cum = W.orderBy(F.col("band").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        bands.crossJoin(F.broadcast(tot))
        .select(
            F.col("band").cast("long").alias("band"),
            "n_customers", "n_converted",
            F.expr(
                "CAST(n_converted * 10000 div n_customers AS BIGINT)"
            ).alias("conv_bp"),
            F.expr(
                "CASE WHEN tc = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(n_converted * tn * 10000 div (n_customers * tc)"
                " AS BIGINT) END"
            ).alias("lift_bp"),
            (
                F.sum("n_converted").over(w_cum) * 10000
            ).cast("long").alias("__cum_num"),
            F.sum("n_customers").over(w_cum).cast("long").alias("__cum_den"),
        )
        .select(
            "band", "n_customers", "n_converted", "conv_bp", "lift_bp",
            F.expr("CAST(__cum_num div __cum_den AS BIGINT)").alias(
                "cum_conv_bp"
            ),
        )
        .orderBy("band")
    )
