"""Warehouse / sketch additions, wave 2 (r08): the KMV sketch family
(cardinality, union merge, pairwise Jaccard), a capture-recapture
population estimator, and a referential-integrity coverage audit.

- ``kmv_distinct_sketch``: the K-Minimum-Values distinct-count sketch
  (Bar-Yossef et al. 2002) next to the engine's HLL family — per
  event_type, the k smallest md5-derived 48-bit hashes of the distinct
  user set give est = (k-1) * 2^48 / h_(k); an 'ALL' row merges the
  per-type sketches (union the survivor sets, re-take the k smallest)
  to estimate the union cardinality, the property that makes KMV a
  distributed-aggregation-friendly sketch. Every hash is the standing
  md5 device, so the DuckDB oracle replays the sketch bit-for-bit.
- ``fk_coverage_audit``: per foreign-key edge of the warehouse schema
  (+ the events->customer linkage), child rows / distinct child keys /
  matched keys / orphan rows — the dbt-style relationship test as ONE
  query instead of per-edge assertions.
- ``capture_recapture_estimate``: Chapman two-sample population
  estimate from md5-salted sparse event samples.
- ``kmv_jaccard_types``: pairwise set similarity from the k-minimum
  survivor sets alone (Beyer et al.), exact Jaccard riding along.

House rules as everywhere: integer-exact arithmetic (the KMV estimate
is an integer division of exact integers), mirrored oracles, no
row-at-a-time UDFs, documented scale shapes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]

# --------------------------------------------------------------------------
# KMV (k minimum values) distinct sketch per event_type + merged union.
#
# h(user) = first 12 md5 hex digits -> uniform 48-bit integer. With n
# distinct users, the k-th smallest distinct hash h_(k) sits near
# k * 2^48 / n, so est = (k-1) * 2^48 div h_(k) (the unbiased KMV form);
# when n <= k the sketch holds the whole set and est = n exactly.
#
# Scale shape: the candidate set entering the per-type top-k window is
# pre-filtered IN PLAN by h < (k * 8 * 2^48) div n_exact — 8x the
# expected h_(k) quantile, so the window sorts O(k) rows per type
# instead of the full distinct-user dimension (the exact distinct count
# n is computed anyway for the audit columns, so the threshold is free
# and the oracle replays it; at n <= k the threshold saturates past
# 2^48 and keeps everything). The merged 'ALL' row uses ONLY the
# per-type survivor sets — union, distinct, re-take k smallest — the
# sketch-merge path a 1000-executor rollup would ship between nodes,
# NOT a rescan of the fact table; its exact companion count is one
# countDistinct. err_ppm = |est - exact| * 1e6 div exact audits the
# estimator (k=8 -> ~1/sqrt(8-2) ~ 40% RMSE: honest sketch noise, kept
# small here so the audit columns are non-trivial at test scale).
# --------------------------------------------------------------------------

_KMV_K = 8
_KMV_SPACE = 1 << 48  # 12 md5 hex digits

_KMV_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events
), n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM du GROUP BY 1
), cand AS (
  SELECT du.event_type, du.h, n.exact_distinct
  FROM du JOIN n USING (event_type)
  WHERE du.h < ({_KMV_K} * 8 * CAST({_KMV_SPACE} AS HUGEINT))
                // n.exact_distinct
), ranked AS (
  SELECT event_type, h, exact_distinct,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM cand
), per_type AS (
  SELECT event_type, exact_distinct,
         CASE WHEN exact_distinct <= {_KMV_K} THEN exact_distinct
              ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_SPACE} AS HUGEINT)
                        // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                        AS BIGINT)
         END AS kmv_est
  FROM ranked WHERE rn <= {_KMV_K}
  GROUP BY event_type, exact_distinct
), merged AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
  FROM (SELECT DISTINCT h FROM ranked WHERE rn <= {_KMV_K})
), alln AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events
), allrow AS (
  SELECT 'ALL' AS event_type, a.exact_distinct,
         CASE WHEN a.exact_distinct <= {_KMV_K} THEN a.exact_distinct
              ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_SPACE} AS HUGEINT)
                        // (SELECT MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                            FROM merged WHERE rn <= {_KMV_K})
                        AS BIGINT)
         END AS kmv_est
  FROM alln a
), unioned AS (
  SELECT * FROM per_type UNION ALL SELECT * FROM allrow
)
SELECT event_type, exact_distinct, kmv_est,
       CAST(ABS(kmv_est - exact_distinct) * CAST(1000000 AS HUGEINT)
            // exact_distinct AS BIGINT) AS err_ppm
FROM unioned ORDER BY event_type
"""


def _h48(col) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 12), 16, 10
    ).cast("long")


@query(
    "kmv_distinct_sketch",
    _KMV_ORACLE,
    "KMV (k minimum values) distinct-count sketch per event_type plus a "
    "merged-union 'ALL' row built from the per-type survivor sets only "
    "(the sketch-merge path, never a fact rescan): md5-derived 48-bit "
    "hashes, candidates pre-filtered in plan to ~8k rows per type by an "
    "exact-count-derived threshold, est = (k-1)*2^48 div h_(k), "
    "err_ppm audit vs exact countDistinct",
    tags=("relational", "sketch", "bench"),
)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, space = _KMV_K, _KMV_SPACE
    ev = load_table(spark, sf_dir, "events")
    du = checkpoint(ev.select(
        "event_type", _h48("user_id").alias("h")
    ).distinct())
    n = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    cand = du.join(F.broadcast(n), "event_type").filter(
        F.col("h")
        < F.expr(
            f"cast(({k} * 8 * cast({space} as decimal(38,0)))"
            " div exact_distinct as long)"
        )
    )
    ranked = cand.withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    ).filter(F.col("rn") <= k)
    ranked = checkpoint(ranked)
    est = F.when(
        F.col("exact_distinct") <= k, F.col("exact_distinct")
    ).otherwise(
        F.expr(
            f"cast(({k} - 1) * cast({space} as decimal(38,0))"
            " div hk as long)"
        )
    )
    per_type = (
        ranked.groupBy("event_type", "exact_distinct")
        .agg(F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"))
        .select("event_type", "exact_distinct", est.alias("kmv_est"))
    )
    # k smallest of the merged survivor sets via orderBy+limit — compiles
    # to TakeOrderedAndProject (distributed partial top-k), never a
    # single-partition Window; max over those k IS h_(k). When the merged
    # set has < k rows, n_all < k holds too (survivor sets are complete
    # below k), so the exact branch renders hk moot.
    merged_hk = (
        ranked.select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("hk"))
    )
    alln = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    allrow = (
        alln.crossJoin(F.broadcast(merged_hk))
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_distinct",
            est.alias("kmv_est"),
        )
    )
    out = per_type.unionByName(allrow)
    return out.select(
        "event_type",
        "exact_distinct",
        "kmv_est",
        F.expr(
            "cast(abs(kmv_est - exact_distinct) * cast(1000000 as"
            " decimal(38,0)) div exact_distinct as long)"
        ).alias("err_ppm"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Referential-integrity coverage audit over every FK edge.
#
# Per edge: child rows, distinct child keys, child keys present in the
# parent, and orphan ROWS (child rows whose key has no parent). The
# dbt 'relationships' test generalized to one result set. Plan shape:
# each edge aggregates the child to its key dimension FIRST (count per
# key), then LEFT-joins the parent's distinct-key dimension — both
# sides key-dimension-sized, so the join never touches fact-row width;
# the 8 single-row branches union into one 8-row result. The
# events->customer edge is the only one expected to be able to orphan
# in practice (app ids vs dimension load); the TPC-H edges document
# the clean baseline.
# --------------------------------------------------------------------------

_FK_EDGES = [
    # (edge label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


def _fk_edge_sql(label, child, ckey, parent, pkey) -> str:
    return f"""
SELECT '{label}' AS fk_edge,
       CAST(SUM(g.c) AS BIGINT) AS child_rows,
       CAST(COUNT(*) AS BIGINT) AS child_keys,
       CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS matched_keys,
       CAST(SUM(CASE WHEN p.k IS NULL THEN g.c ELSE 0 END) AS BIGINT)
         AS orphan_rows
FROM (SELECT {ckey} AS k, COUNT(*) AS c FROM {child} GROUP BY 1) g
LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}) p USING (k)
"""


_FK_ORACLE = (
    "\nUNION ALL\n".join(_fk_edge_sql(*e) for e in _FK_EDGES)
    + "\nORDER BY fk_edge"
)


@query(
    "fk_coverage_audit",
    _FK_ORACLE,
    "Referential-integrity coverage over all 8 FK edges of the schema "
    "(dbt relationship tests as ONE query): per edge, child rows / "
    "distinct child keys / parent-matched keys / orphan rows — each "
    "edge joins key DIMENSIONS (child pre-aggregated to its key), "
    "never fact-width rows",
    tags=("relational", "audit", "bench"),
)
def q_fk_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, child, ckey, parent, pkey in _FK_EDGES:
        g = (
            load_table(spark, sf_dir, child)
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        row = (
            g.join(p, "k", "left")
            .agg(
                F.sum("c").cast("long").alias("child_rows"),
                F.count(F.lit(1)).cast("long").alias("child_keys"),
                F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("matched_keys"),
                F.sum(F.when(F.col("hit").isNull(), F.col("c")).otherwise(0))
                .cast("long")
                .alias("orphan_rows"),
            )
            .select(F.lit(label).alias("fk_edge"), "*")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk_edge")


# --------------------------------------------------------------------------
# Chapman capture-recapture estimate of the distinct-user population —
# the two-sample companion to the KMV sketch: draw two independent
# md5-salted 0.5% event samples (sparse enough that per-user capture is
# partial — each user has ~265 events at any SF of this corpus, so the
# capture probability is well inside (0,1)), count users captured in each
# and in both,
#
#   N_hat = (n1 + 1) * (n2 + 1) div (m + 1) - 1     (Chapman 1951)
#
# All counts exact (distinct users per capture set); the estimator is
# one integer division. Two conditional distincts + one intersection
# distinct over ONE scan-shaped relation (the per-user capture flags
# aggregate); err_ppm audits against the exact distinct. The ecology
# estimator, useful in pipelines for estimating population size from
# two independent log streams that each miss events.
# --------------------------------------------------------------------------

_CR_ORACLE = """
WITH flags AS (
  SELECT user_id,
         MAX(CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                       || '#s1'), 1, 8))::BIGINT % 1000 < 5
                  THEN 1 ELSE 0 END) AS c1,
         MAX(CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                       || '#s2'), 1, 8))::BIGINT % 1000 < 5
                  THEN 1 ELSE 0 END) AS c2
  FROM events GROUP BY user_id
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * c2) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM flags
)
SELECT n1, n2, m, exact_distinct,
       CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_est,
       CAST(ABS((n1 + 1) * (n2 + 1) // (m + 1) - 1 - exact_distinct)
            * 1000000 // exact_distinct AS BIGINT) AS err_ppm
FROM agg
"""


@query(
    "capture_recapture_estimate",
    _CR_ORACLE,
    "Chapman capture-recapture population estimate of distinct users "
    "from two independent md5-salted 0.5% event samples: per-user "
    "capture flags in ONE user-keyed aggregate, N_hat = "
    "(n1+1)(n2+1) div (m+1) - 1, err_ppm vs the exact distinct — the "
    "two-lossy-log-streams population estimator next to KMV",
    tags=("relational", "sketch", "stats", "bench"),
)
def q_capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Salted-hash device mirrors operators/bloom.salted_md5_pos_sql.
    ev = load_table(spark, sf_dir, "events")

    def cap(salt: str) -> F.Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return F.max(F.when(h % 1000 < 5, 1).otherwise(0))

    flags = ev.groupBy("user_id").agg(
        cap("#s1").alias("c1"), cap("#s2").alias("c2")
    )
    agg = flags.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("exact_distinct"),
    )
    est = F.expr(
        "cast(cast(n1 + 1 as decimal(38,0)) * (n2 + 1)"
        " div (m + 1) as long) - 1"
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        "exact_distinct",
        est.alias("chapman_est"),
        F.expr(
            "cast(abs(cast(cast(n1 + 1 as decimal(38,0)) * (n2 + 1)"
            " div (m + 1) as long) - 1 - exact_distinct)"
            " * cast(1000000 as decimal(38,0)) div exact_distinct as long)"
        ).alias("err_ppm"),
    )


# --------------------------------------------------------------------------
# Split-conformal prediction intervals (r08) — the distribution-free
# uncertainty wrapper every deployed predictor needs: calibrate on one
# md5 half, guarantee coverage on the other.
#
# Per event_type: the predictor is the CALIBRATION half's exact mean
# value (integer e4 sum / count); nonconformity = |value - mean| on the
# calibration half, quantized to integer cents (e2); q_hat = the
# ceil(0.9 * (n_cal + 1))-th smallest calibration residual — an exact
# order statistic over the (type, residual_e2) count grid (value-domain
# bounded, the median_ci device: cumulative window per type, min
# residual with cum >= k). Coverage on the held-out half = share of
# test rows with residual <= q_hat, in ppm — split conformal guarantees
# >= 90% in expectation, and the audit column shows it.
#
# The mean enters residuals as a DOUBLE; to keep the e2 quantization
# engine-exact both legs compute residual_e2 = |value_e4 - mean_e4|
# div 100 in INTEGER space (mean_e4 = exact integer div of e4 sums —
# no float touches any ranked value). One calibration aggregate + one
# count-grid window + one test-side conditional aggregate.
# --------------------------------------------------------------------------

_CONF_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT)
           AS v_e4,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#cal'), 1, 8))
           ::BIGINT % 2 AS half
  FROM events WHERE value IS NOT NULL
), mu AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_cal,
         CAST(CASE WHEN SUM(v_e4) >= 0 THEN 1 ELSE -1 END
              * (ABS(SUM(v_e4)) // COUNT(*)) AS BIGINT) AS mean_e4
  FROM ev WHERE half = 0 GROUP BY event_type
), calres AS (
  SELECT e.event_type, ABS(e.v_e4 - m.mean_e4) // 100 AS r_e2
  FROM ev e JOIN mu m USING (event_type) WHERE e.half = 0
), grid AS (
  SELECT event_type, r_e2, CAST(COUNT(*) AS BIGINT) AS c
  FROM calres GROUP BY 1, 2
), cum AS (
  SELECT event_type, r_e2,
         SUM(c) OVER (PARTITION BY event_type ORDER BY r_e2
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cm
  FROM grid
), qhat AS (
  SELECT c.event_type, m.n_cal, m.mean_e4,
         MIN(CASE WHEN c.cm >= (9 * (m.n_cal + 1) + 9) // 10
                  THEN c.r_e2 END) AS q_e2
  FROM cum c JOIN mu m USING (event_type)
  GROUP BY c.event_type, m.n_cal, m.mean_e4
), test AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(e.v_e4 - q.mean_e4) // 100 <= q.q_e2
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM ev e JOIN qhat q USING (event_type)
  WHERE e.half = 1
  GROUP BY e.event_type
)
SELECT q.event_type, q.n_cal, t.n_test,
       CAST(q.q_e2 AS BIGINT) AS qhat_cents,
       CAST(t.n_covered * CAST(1000000 AS HUGEINT) // t.n_test AS BIGINT)
         AS coverage_ppm
FROM qhat q JOIN test t USING (event_type)
ORDER BY q.event_type
"""


@query(
    "split_conformal_interval",
    _CONF_ORACLE,
    "Split-conformal 90% prediction interval per event_type: md5 "
    "calibration/test halves, exact integer mean predictor, "
    "nonconformity quantile as an exact order statistic over the "
    "value-domain-bounded (type, residual-cents) count grid (the "
    "median_ci device), held-out coverage in ppm — the "
    "distribution-free >=90% guarantee, audited",
    tags=("relational", "stats", "sampling", "bench"),
)
def q_split_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = checkpoint(
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value").cast("decimal(14,4)") * 10000)
            .cast("long")
            .alias("v_e4"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("event_id").cast("string"),
                                F.lit("#cal"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("half"),
        )
    )
    mu = (
        ev.filter(F.col("half") == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cal"),
            F.expr(
                "cast((case when sum(v_e4) >= 0 then 1 else -1 end)"
                " * (abs(sum(v_e4)) div count(1)) as long)"
            ).alias("mean_e4"),
        )
    )
    calres = (
        ev.filter(F.col("half") == 0)
        .join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            F.expr("abs(v_e4 - mean_e4) div 100").alias("r_e2"),
        )
    )
    grid = calres.groupBy("event_type", "r_e2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("r_e2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select("event_type", "r_e2", F.sum("c").over(w).alias("cm"))
    qhat = (
        cum.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", "n_cal", "mean_e4")
        .agg(
            F.min(
                F.when(
                    F.col("cm")
                    >= F.expr("(9 * (n_cal + 1) + 9) div 10"),
                    F.col("r_e2"),
                )
            ).alias("q_e2")
        )
    )
    test = (
        ev.filter(F.col("half") == 1)
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.expr("abs(v_e4 - mean_e4) div 100") <= F.col("q_e2"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        qhat.join(test, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            F.col("q_e2").cast("long").alias("qhat_cents"),
            F.expr(
                "cast(n_covered * cast(1000000 as decimal(38,0))"
                " div n_test as long)"
            ).alias("coverage_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# KMV pairwise Jaccard estimates (r08) — the SET-OPERATION face of the
# KMV sketch (kmv_distinct_sketch covers cardinality + union merge):
# for every pair of event types, estimate the Jaccard similarity of
# their user sets from the k-minimum-values survivor sets alone,
#
#   J_hat(A,B) = |K_k(A u B) n K(A) n K(B)| / k      (Beyer, SIGMOD'07)
#
# where K_k(A u B) = the k smallest hashes of the two merged survivor
# sets. All pair work runs on k-bounded relations (pairs x k rows) —
# never a rescan of the fact table — and the md5 device makes the
# oracle replay exact. The exact Jaccard (one (type,user)-keyed
# self-join, types^2-bounded per user) rides along with err_ppm, so
# the audit shows what a k=32 sketch buys at this overlap structure.
# Sets are the HIGH-ENGAGEMENT users per type (value > 90) so overlaps
# genuinely vary (every user touches every type in this corpus; the
# unrestricted sets would all be identical).
# --------------------------------------------------------------------------

_KJ_K = 32

_KJ_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events WHERE value > 90
), sk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM du
), kept AS (
  SELECT event_type, h FROM sk WHERE rn <= {_KJ_K}
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM du) a
  JOIN (SELECT DISTINCT event_type FROM du) b
    ON a.event_type < b.event_type
), mh AS (
  SELECT DISTINCT p.ta, p.tb, k.h
  FROM pairs p JOIN kept k ON k.event_type IN (p.ta, p.tb)
), merged AS (
  SELECT ta, tb, h,
         ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
  FROM mh
), inter AS (
  SELECT m.ta, m.tb,
         CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(SUM(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_both
  FROM merged m
  LEFT JOIN kept ka ON ka.event_type = m.ta AND ka.h = m.h
  LEFT JOIN kept kb ON kb.event_type = m.tb AND kb.h = m.h
  WHERE m.rn <= {_KJ_K}
  GROUP BY m.ta, m.tb
), sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY 1
), einter AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.ta, i.tb, i.k_used, i.n_both,
       CAST(i.n_both * 1000000 // i.k_used AS BIGINT) AS jaccard_est_ppm,
       CAST(COALESCE(e.n_inter, 0) * 1000000
            // (sa.n + sb.n - COALESCE(e.n_inter, 0)) AS BIGINT)
         AS jaccard_exact_ppm,
       CAST(ABS(i.n_both * 1000000 // i.k_used
                - COALESCE(e.n_inter, 0) * 1000000
                  // (sa.n + sb.n - COALESCE(e.n_inter, 0))) AS BIGINT)
         AS err_ppm
FROM inter i
LEFT JOIN einter e ON e.ta = i.ta AND e.tb = i.tb
JOIN sizes sa ON sa.event_type = i.ta
JOIN sizes sb ON sb.event_type = i.tb
ORDER BY i.ta, i.tb
"""


@query(
    "kmv_jaccard_types",
    _KJ_ORACLE,
    "Pairwise Jaccard similarity of event-type user sets estimated "
    "from k=32 KMV survivor sets alone (J = |K_k(AuB) n K(A) n K(B)|/k"
    " — set operations on k-bounded sketches, never a fact rescan), "
    "with the exact Jaccard and err_ppm riding along as the audit",
    tags=("relational", "sketch", "bench"),
)
def q_kmv_jaccard_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _KJ_K
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 90)
    du = checkpoint(ev.select(
        "event_type", "user_id", _h48("user_id").alias("h")
    ).distinct())
    kept = checkpoint(
        du.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h")
            ),
        )
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
    )
    types = du.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(
            types.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
    )
    mh = (
        F.broadcast(pairs)
        .join(
            kept,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .select("ta", "tb", "h")
        .distinct()
    )
    merged = mh.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("ta", "tb").orderBy("h")),
    ).filter(F.col("rn") <= k)
    ka = kept.select(F.col("event_type").alias("ea"), F.col("h").alias("h"))
    kb = kept.select(F.col("event_type").alias("eb"), F.col("h").alias("h"))
    inter = (
        merged.join(
            F.broadcast(ka.withColumnRenamed("h", "hh").withColumn(
                "ina", F.lit(1))),
            (F.col("ea") == F.col("ta")) & (F.col("hh") == F.col("h")),
            "left",
        )
        .drop("ea", "hh")
        .join(
            F.broadcast(kb.withColumnRenamed("h", "hh2").withColumn(
                "inb", F.lit(1))),
            (F.col("eb") == F.col("tb")) & (F.col("hh2") == F.col("h")),
            "left",
        )
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(
                F.when(
                    F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_both"),
        )
    )
    sizes = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = du.select(F.col("event_type").alias("ta"), "user_id")
    b = du.select(F.col("event_type").alias("tb"), "user_id")
    einter = (
        a.join(b, ["user_id"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    est = F.expr("cast(n_both * 1000000 div k_used as long)")
    exact = F.expr(
        "cast(coalesce(n_inter, 0L) * 1000000"
        " div (na + nb - coalesce(n_inter, 0L)) as long)"
    )
    return (
        inter.join(einter, ["ta", "tb"], "left")
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("ta"),
                                     F.col("n").alias("na"))),
            "ta",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("tb"),
                                     F.col("n").alias("nb"))),
            "tb",
        )
        .select(
            "ta",
            "tb",
            "k_used",
            "n_both",
            est.alias("jaccard_est_ppm"),
            exact.alias("jaccard_exact_ppm"),
            F.abs(est - exact).alias("err_ppm"),
        )
        .orderBy("ta", "tb")
    )
