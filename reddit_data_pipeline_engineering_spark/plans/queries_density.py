"""Density-based clustering over the embedding space (grid-blocked
DBSCAN) — the clustering family k-means cannot express: no k, arbitrary
cluster shapes, explicit noise. See `operators/density.py` for the
distributed reformulation (9-cell grid blocking -> exact eps
verification -> core-core connected components -> deterministic border
attachment).

The registry query clusters the first two embedding coordinates on the
exact 1e-6 integer grid (the same quantization contract as
embedding_dim_profile), eps = 15000 grid units (0.015), min_pts = 4 —
probed on the fixture to yield a non-trivial mix (27 clusters + border
+ noise at sf0.001 AND sf0.1, so the driver gate and the bench both
exercise real cluster structure). The oracle replays grid cells, the
3x3 candidate join, core election, a recursive-CTE transitive closure
of the core-core graph, and the min-component border attachment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators import density
from reddit_data_pipeline_engineering_spark.plans.queries import query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

_EPS = 15_000
# Hot-cell guard (VERDICT r07 #6): measured densest-cell occupancy at
# eps=15000 is 5 (sf0.01) / 10 (sf0.1) / 78 (sf1.0) and ~700
# extrapolated at sf10 — where the §9g addendum measured the exact pair
# relation going 62x for 10x points. 256 clears every production scale
# with >3x headroom and REFUSES the measured-superlinear configuration
# loudly (pointing at kdist recalibration) instead of running it.
_MAX_CELL_OCC = 256
_MIN_PTS = 4


def _sql_floor_div(name: str, k: int) -> str:
    # DuckDB's // already floors, but mirror the engine's CASE verbatim
    # so both sides execute the same arithmetic tree.
    return (
        f"CASE WHEN {name} >= 0 THEN {name} // {k} "
        f"ELSE -(((-{name}) + {k} - 1) // {k}) END"
    )


_DBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT vec_id AS id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
  FROM embeddings
),
cells AS MATERIALIZED (
  SELECT id, x, y,
         {_sql_floor_div('x', _EPS)} AS cx,
         {_sql_floor_div('y', _EPS)} AS cy
  FROM pts
),
offs AS (
  SELECT o1.dx, o2.dy
  FROM (VALUES (-1), (0), (1)) o1(dx), (VALUES (-1), (0), (1)) o2(dy)
),
pairs AS MATERIALIZED (
  SELECT r.id AS a, b.id AS b
  FROM (SELECT c.id, c.x, c.y, c.cx + o.dx AS jx, c.cy + o.dy AS jy
        FROM cells c CROSS JOIN offs o) r
  JOIN cells b ON b.cx = r.jx AND b.cy = r.jy AND b.id <> r.id
  WHERE (r.x - b.x) * (r.x - b.x) + (r.y - b.y) * (r.y - b.y)
        <= {_EPS * _EPS}
),
nb AS (SELECT a, COUNT(*) AS c FROM pairs GROUP BY a),
core AS MATERIALIZED (
  SELECT c.id FROM cells c LEFT JOIN nb ON nb.a = c.id
  WHERE COALESCE(nb.c, 0) + 1 >= {_MIN_PTS}
),
eedges AS MATERIALIZED (
  SELECT p.a, p.b FROM pairs p
  JOIN core ca ON ca.id = p.a
  JOIN core cb ON cb.id = p.b
),
reach AS (
  SELECT a AS id, a AS lbl FROM eedges
  UNION
  SELECT e.a AS id, r.lbl FROM eedges e JOIN reach r ON e.b = r.id
),
comp0 AS MATERIALIZED (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
comp AS MATERIALIZED (
  SELECT id, component FROM comp0
  UNION ALL
  SELECT c.id, c.id FROM core c WHERE c.id NOT IN (SELECT id FROM comp0)
),
border AS MATERIALIZED (
  SELECT p.a AS id, MIN(cm.component) AS component
  FROM pairs p
  JOIN core cb ON cb.id = p.b
  JOIN comp cm ON cm.id = p.b
  WHERE p.a NOT IN (SELECT id FROM core)
  GROUP BY p.a
),
ncore AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_core FROM comp GROUP BY 1
),
nbord AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_border FROM border GROUP BY 1
)
SELECT nc.component AS cluster, nc.n_core,
       CAST(COALESCE(nb2.n_border, 0) AS BIGINT) AS n_border
FROM ncore nc LEFT JOIN nbord nb2 ON nb2.component = nc.component
UNION ALL
SELECT CAST(-1 AS BIGINT) AS cluster, CAST(0 AS BIGINT) AS n_core,
       CAST(COUNT(*) AS BIGINT) AS n_border
FROM cells c
WHERE c.id NOT IN (SELECT id FROM core)
  AND c.id NOT IN (SELECT id FROM border)
ORDER BY cluster
"""


@query(
    "dbscan_grid_clusters",
    _DBSCAN_ORACLE,
    "Grid-blocked DBSCAN over the first two embedding coordinates on "
    "the 1e-6 integer grid (eps=15000, min_pts=4): map-side x9 cell "
    "replication -> ONE cell equi-join for exact eps-neighbor pairs -> "
    "core election -> core-core connected components (star "
    "contraction — O(log n) rounds whatever the core graph's "
    "diameter) -> deterministic min-component border "
    "attachment; per-cluster core/border counts plus the -1 noise "
    "bucket. Oracle replays the closure as a recursive CTE.",
    tags=("llm", "similarity", "clustering", "iterative", "bench"),
)
def q_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000000.0)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000000.0)
        .cast("long")
        .alias("y"),
    )
    return density.dbscan_grid(
        pts, "vec_id", "x", "y", eps=_EPS, min_pts=_MIN_PTS,
        max_cell_occupancy=_MAX_CELL_OCC,
    )


# --------------------------------------------------------------------------
# k-distance eps calibration (the DBSCAN "knee plot", Ester et al. §4.2).
#
# For each point, the distance to its k-th nearest neighbor (k =
# min_pts - 1 = 3) WITHIN a probe radius R = 3*eps; the profile of
# those k-distances is how eps is chosen in practice (the knee of the
# sorted k-dist curve). Distributed shape: same grid machinery as the
# clustering query with cell side R, but the pair LEFT side is a 25%
# md5-bucket ANCHOR SAMPLE measured against the FULL corpus — the
# k-dist distribution is a per-point statistic, so sampling anchors is
# unbiased while bounding the pair volume to |sample| x density (the
# all-anchors first cut measured 24 s at sf1.0 where the sampled form
# is the production shape); the per-anchor k-th selection is a
# row_number window over the pair relation — partitions bounded by
# in-cell density, never corpus rows. The output is a FIXED 11-bucket
# CDF-style profile: bucket i (1..10) counts points whose k-dist lands
# in (R*(i-1)/10, R*i/10] — compared sqrt-free as kd2*100 <= R^2*i^2 —
# and bucket 11 counts censored points (< k neighbors within R, the
# "eps would have to exceed R" mass). Bounded output, one bounded
# rollup; no global sort of the k-distances is ever performed.
# --------------------------------------------------------------------------

_KD_R = 45_000
_KD_K = 3
# Anchor sampling: at most 25% of points, and at most ~_KD_MAX_ANCHORS
# in expectation at ANY corpus size (the retrieval-eval-kit id-cap
# lesson, SCALE.md §9f: fraction-based diagnostic sets scale with the
# corpus and wedge). The threshold is computed IN-PLAN from the point
# count over a 1e6 md5-bucket space: thr = min(250000, ceil(2000*1e6/n))
# — 25% at fixture scales (n <= 8000), a fixed ~2000-anchor budget
# beyond. The sf10 probe measured the uncapped 25% form at 70x bytes
# for 10x points (anchors x density both grew); with the cap, anchor
# growth is flat and the remaining growth is the measured density
# itself.
_KD_MAX_ANCHORS = 2_000
_KD_BUCKETS = 1_000_000
_KD_THR_SQL = (
    f"LEAST({_KD_BUCKETS // 4}, "
    f"({_KD_MAX_ANCHORS} * {_KD_BUCKETS} + n - 1) // n)"
)
_KD_ANCHOR_SQL = (
    "('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {_KD_BUCKETS} < t.thr"
)


def _bucket_ladder_sql(kd2: str) -> str:
    # Thresholds precomputed to ONE literal each: a `R^2 * i^2` product
    # of int32 literals overflows Spark's ANSI int multiply at i >= 2.
    conds = " ".join(
        f"WHEN {kd2} * 100 <= {_KD_R * _KD_R * i * i} THEN {i}"
        for i in range(1, 11)
    )
    return f"CASE {conds} END"


_KDIST_ORACLE = f"""
WITH pts AS MATERIALIZED (
  SELECT vec_id AS id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000000.0) AS BIGINT) AS y
  FROM embeddings
),
cells AS MATERIALIZED (
  SELECT id, x, y,
         {_sql_floor_div('x', _KD_R)} AS cx,
         {_sql_floor_div('y', _KD_R)} AS cy
  FROM pts
),
thr AS (
  SELECT {_KD_THR_SQL} AS thr FROM (SELECT COUNT(*) AS n FROM cells)
),
anchors AS MATERIALIZED (
  SELECT c.* FROM cells c, thr t WHERE {_KD_ANCHOR_SQL}
),
offs AS (
  SELECT o1.dx, o2.dy
  FROM (VALUES (-1), (0), (1)) o1(dx), (VALUES (-1), (0), (1)) o2(dy)
),
pairs AS MATERIALIZED (
  SELECT r.id AS a,
         (r.x - b.x) * (r.x - b.x) + (r.y - b.y) * (r.y - b.y) AS d2,
         b.id AS b
  FROM (SELECT c.id, c.x, c.y, c.cx + o.dx AS jx, c.cy + o.dy AS jy
        FROM anchors c CROSS JOIN offs o) r
  JOIN cells b ON b.cx = r.jx AND b.cy = r.jy AND b.id <> r.id
  WHERE (r.x - b.x) * (r.x - b.x) + (r.y - b.y) * (r.y - b.y)
        <= {_KD_R * _KD_R}
),
kth AS (
  SELECT a, d2 AS kd2 FROM (
    SELECT a, d2,
           ROW_NUMBER() OVER (PARTITION BY a ORDER BY d2, b) AS rn
    FROM pairs)
  WHERE rn = {_KD_K}
),
bucketed AS (
  SELECT {_bucket_ladder_sql('kd2')} AS bucket FROM kth
),
hist AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_points
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT COUNT(*) AS n FROM anchors),
kn AS (SELECT COUNT(*) AS n FROM kth)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(bucket * 1000 AS BIGINT) AS r_frac_bp, n_points
FROM hist
UNION ALL
SELECT 11 AS bucket, CAST(-1 AS BIGINT) AS r_frac_bp,
       CAST(t.n - k.n AS BIGINT) AS n_points
FROM tot t, kn k
ORDER BY bucket
"""


@query(
    "kdist_eps_calibration",
    _KDIST_ORACLE,
    "DBSCAN eps calibration: k-th-NN distance (k=3) within probe "
    "radius R=3*eps for a count-capped md5-anchor sample (<= 25% and "
    "<= ~2000 anchors at any corpus size, threshold computed in-plan) "
    "measured against the FULL corpus — unbiased per-point statistic, "
    "pair volume bounded by anchor budget x density; fixed 11-bucket "
    "sqrt-free profile (kd2*100 <= R^2*i^2 ladder) with the censored "
    "<k-neighbors mass in bucket 11 — no global k-dist sort",
    tags=("llm", "similarity", "clustering", "bench"),
)
def q_kdist_eps_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000000.0)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000000.0)
        .cast("long")
        .alias("y"),
    )
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    base = density.grid_cells(pts, "vec_id", "x", "y", _KD_R)
    base = checkpoint(base)
    thr = base.agg(F.count(F.lit(1)).alias("n")).select(
        F.least(
            F.lit(_KD_BUCKETS // 4),
            F.expr(f"({_KD_MAX_ANCHORS} * {_KD_BUCKETS} + n - 1) div n"),
        ).alias("thr")
    )
    # anchors feeds the pair LEFT side and the censored-count total.
    anchors = checkpoint(
        base.crossJoin(F.broadcast(thr))
        .filter(md5_bucket("id", _KD_BUCKETS) < F.col("thr"))
        .drop("thr")
    )
    pairs = density.neighbor_pairs(base, _KD_R, anchors=anchors)
    w = Window.partitionBy("a").orderBy("d2", "b")
    kth = (
        pairs.select("a", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == _KD_K)
        .select("a", F.col("d2").alias("kd2"))
    )
    # kth feeds the histogram AND the censored count; bounded by points.
    kth = checkpoint(kth)
    bucket = F.expr("CASE " + " ".join(
        f"WHEN kd2 * 100 <= {_KD_R * _KD_R * i * i} THEN {i}"
        for i in range(1, 11)
    ) + " END")
    hist = (
        kth.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            (F.col("bucket") * 1000).cast("long").alias("r_frac_bp"),
            "n_points",
        )
    )
    tot = anchors.agg(F.count(F.lit(1)).alias("nt"))
    kn = kth.agg(F.count(F.lit(1)).alias("nk"))
    censored = (
        tot.crossJoin(kn)
        .select(
            F.lit(11).cast("int").alias("bucket"),
            F.lit(-1).cast("long").alias("r_frac_bp"),
            (F.col("nt") - F.col("nk")).cast("long").alias("n_points"),
        )
    )
    return hist.unionByName(censored).orderBy("bucket")


# --------------------------------------------------------------------------
# K-means cluster-separation audit (simplified silhouette on squared
# distances): for every vector, d2_1 = squared distance to its nearest
# final centroid and d2_2 to the second-nearest (same deterministic
# integer-grid fit as ivf_kmeans_topk — k=8, 2 Lloyd iterations over
# the 25% md5 fit sample); the per-point separation score is
# (d2_2 - d2_1) * 1e4 div d2_2 in [0, 1e4] (0 = on the boundary,
# 1e4 = on top of its centroid), and the audit reports the per-cluster
# mean — the "are these clusters real" number a curator checks before
# trusting k-means buckets for IVF routing or topic mixing. All exact
# integer: d2 <= 64*(2^20)^2 ~ 2.6e14, (d2_2-d2_1)*1e4 <= 2.6e18 <
# 2^63. Map-side per-point scoring against the broadcast k x dim
# centroid model; ONE bounded rollup.
# --------------------------------------------------------------------------


def _silhouette_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _kmeans_ctes,
        _sql_sqdist_q,
    )
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _KM_ITERS as _ITERS,
    )

    sq = _sql_sqdist_q("e.qx", "c.c")
    return f"""
WITH {_kmeans_ctes()},
d AS MATERIALIZED (
  SELECT e.vec_id, c.cluster, {sq} AS d2,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {sq}, c.cluster) AS rn
  FROM qv e CROSS JOIN cent{_ITERS} c
),
pick AS (
  SELECT a.vec_id, a.cluster, a.d2 AS d2_1, b.d2 AS d2_2
  FROM d a JOIN d b ON b.vec_id = a.vec_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN d2_2 = 0 THEN 0
                     ELSE (d2_2 - d2_1) * 10000 // d2_2 END)
            // COUNT(*) AS BIGINT) AS mean_sep_bp
FROM pick GROUP BY cluster ORDER BY cluster
"""


@query(
    "kmeans_silhouette_audit",
    _silhouette_oracle(),
    "Cluster-separation audit of the deterministic integer-grid "
    "k-means (simplified silhouette on squared distances): per vector "
    "the nearest and second-nearest final centroid distances, "
    "separation (d2_2-d2_1)*1e4 div d2_2, per-cluster mean — map-side "
    "scoring against the broadcast centroid model + ONE bounded "
    "rollup; oracle replays the full Lloyd fit as unrolled CTEs",
    tags=("llm", "similarity", "clustering", "bench"),
)
def q_kmeans_silhouette_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _KM_ITERS,
        _KM_K,
        _fit_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    [[cents]] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1,), k=_KM_K, iters=_KM_ITERS
    )
    cdf = kmeans.model_row(emb.sparkSession, [cents])
    qv = kmeans.quantized("embedding")
    # Full squared distance per centroid (not the reduced form: the
    # ratio denominator needs the true d2): sum((qx*64 - c)^2) via one
    # zip_with fold per centroid against the broadcast model.
    scored = F.transform(
        F.element_at(F.col("__books"), 1),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    qv,
                    c,
                    lambda a, b: (a * F.lit(64) - b) * (a * F.lit(64) - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("d2"),
            i.cast("int").alias("c"),
        ),
    )
    picked = (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("__sorted", F.array_sort(scored))
        .select(
            F.element_at("__sorted", 1)["c"].alias("cluster"),
            F.element_at("__sorted", 1)["d2"].alias("d2_1"),
            F.element_at("__sorted", 2)["d2"].alias("d2_2"),
        )
    )
    return (
        picked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(
                F.when(F.col("d2_2") == 0, F.lit(0)).otherwise(
                    F.expr("(d2_2 - d2_1) * 10000 div d2_2")
                )
            ).alias("sep_sum"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_points",
            F.expr("sep_sum div n_points").cast("long").alias("mean_sep_bp"),
        )
        .orderBy("cluster")
    )
