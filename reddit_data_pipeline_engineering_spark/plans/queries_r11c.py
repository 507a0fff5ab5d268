"""Round-11 wave 7: readability, concordance, shape, Pareto, stickiness.

Five operators extending the training-data-pipeline and product-
analytics surface (no reference counterpart — the reference's only
analytics is the Glue projection kernel, SURVEY.md §3.2):

- ``flesch_reading_scores`` — per-source Flesch Reading Ease with a
  deterministic vowel-group syllable proxy, all three regex counters
  built-in in BOTH engines (the classic readability gate of LLM
  quality filtering, next to ``quality_score``/``token_stats``);
- ``kendall_w_concordance`` — Kendall's coefficient of concordance W
  (tie-corrected) across event-type "judges" ranking the 7 days of
  week: the effect-size companion of ``friedman_test_types``;
- ``moment_shape_profile`` — per-source skewness² (b1) and kurtosis
  (b2) of document lengths via floor-mean-centered integer power sums
  — the distribution-SHAPE audit ``value_stats``/``table_profile``
  (location/scale only) cannot give;
- ``abc_pareto_parts`` — ABC inventory classification of parts by
  cumulative revenue share (A ≤ 80 %, B ≤ 95 %, C rest) using the new
  ``with_global_prefix_sum`` range-partitioned running total — no
  single-partition window anywhere (the Pareto companion of
  ``spend_lorenz_deciles``);
- ``dau_mau_stickiness`` — exact DAU / trailing-28-day MAU and the
  DAU/MAU stickiness ratio per observed day: the EXACT bounded-window
  companion of ``hll_sliding_distinct`` (which answers the same
  question approximately at unbounded scale).

House rules (module contract, same as queries_r11/queries_r11b):
every output column is integer-exact (no ln/exp/sqrt), ``div``/``//``
truncates toward zero in BOTH engines, every aggregate is keyed unless
the input is provably bounded (the 7-day DOW grid, the 3-row ABC class
rollup, calendar days), big products ride DECIMAL(38,0) on the Spark
side and HUGEINT in the oracle, and both expression trees mirror each
other operation for operation (staged truncations included — see
moment_shape_profile's documented two-step b1 division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.plans.queries import DEC_PRICE, REGISTRY, _dec, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# Flesch Reading Ease per source. The deterministic syllable proxy is
# the count of VOWEL GROUPS ([aeiouyAEIOUY]+) per text — the standard
# dictionary-free approximation; words are [A-Za-z]+ runs and
# sentences are [.!?]+ runs floored at 1 per document (the synthetic
# corpus has no terminators, so every document counts as one sentence
# — the floor is what makes the formula total). All three counters
# are regexp_extract_all + length in BOTH engines (simple character
# classes — identical semantics in Java regex and RE2). FRE in e3:
#   fre_e3 = 206835 - (1015*W) div S - (84600*Y) div W
# over per-source totals W (words), S (sentences), Y (syllables) —
# integer-exact, division-guarded. Map-only scan + one keyed
# aggregate; at 100 TB the regex work rides the scan (no extra pass).
# --------------------------------------------------------------------------

_FLESCH_ORACLE = """
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS y,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s
  FROM documents
), rolled AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS words,
         CAST(SUM(y) AS BIGINT) AS syllables,
         CAST(SUM(s) AS BIGINT) AS sentences
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, words, syllables, sentences,
       CASE WHEN sentences = 0 THEN 0
            ELSE CAST(1000 * words // sentences AS BIGINT) END AS wps_e3,
       CASE WHEN words = 0 THEN 0
            ELSE CAST(1000 * syllables // words AS BIGINT) END AS spw_e3,
       CASE WHEN words = 0 OR sentences = 0 THEN 0
            ELSE CAST(206835 - (1015 * words // sentences)
                      - (84600 * syllables // words) AS BIGINT)
       END AS fre_e3
FROM rolled
ORDER BY source
"""


@query(
    "flesch_reading_scores",
    _FLESCH_ORACLE,
    "Flesch Reading Ease per source with a deterministic vowel-group "
    "syllable proxy (built-in regexp counters in both engines, "
    "sentence floor 1/doc), fre_e3 = 206835 - 1015*W div S - 84600*Y "
    "div W on per-source totals — the dictionary-free readability "
    "gate of LLM quality filtering; map-only scan + one keyed agg",
    tags=("llm", "text", "quality", "bench"),
)
def q_flesch_reading_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)"
        ).alias("w"),
        F.expr(
            "CAST(size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)) "
            "AS BIGINT)"
        ).alias("y"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT), "
            "CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT))"
        ).alias("s"),
    )
    rolled = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("words"),
        F.sum("y").cast("long").alias("syllables"),
        F.sum("s").cast("long").alias("sentences"),
    )
    return rolled.select(
        "source",
        "n_docs",
        "words",
        "syllables",
        "sentences",
        F.expr(
            "CASE WHEN sentences = 0 THEN 0 "
            "ELSE CAST(1000 * words div sentences AS BIGINT) END"
        ).alias("wps_e3"),
        F.expr(
            "CASE WHEN words = 0 THEN 0 "
            "ELSE CAST(1000 * syllables div words AS BIGINT) END"
        ).alias("spw_e3"),
        F.expr(
            "CASE WHEN words = 0 OR sentences = 0 THEN 0 "
            "ELSE CAST(206835 - (1015 * words div sentences) "
            "- (84600 * syllables div words) AS BIGINT) END"
        ).alias("fre_e3"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Kendall's W — coefficient of concordance across event-type "judges"
# each ranking the 7 days of week by activity count. Friedman
# (friedman_test_types) answers "do the treatments differ?"; W is the
# normalized EFFECT SIZE in [0,1]: how much do the judges AGREE on the
# ordering? Zero-filled (type x dow) scaffold (absent cells are
# genuinely zero days — the events table is the universe, the
# page_trend_dow precedent), average ranks through ties via the
# integer 2x-rank device r2 = 2*RANK + tiecount - 1 (keyed windows,
# <= 7 rows per judge), tie correction T = sum(t^3 - t):
#   W = 12*S / (m^2(n^3 - n) - m*T)  with  S = sum_i (R_i - mean)^2
#   (integer form: w_e6 = 3*S4*1e6 div (m^2*336 - m*T), S4 = 4S)
# Everything after the one fact-table aggregate is a <= 35-row
# relation; epoch-day DOW arithmetic mirrors the oracle exactly.
# --------------------------------------------------------------------------

_KENDALL_W_ORACLE = """
WITH cells AS (
  SELECT event_type,
         (CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
               - DATE '1970-01-01' AS BIGINT) + 3) % 7 + 1 AS dow,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), types AS (
  SELECT DISTINCT event_type FROM cells
), scaffold AS (
  SELECT t.event_type, g.dow, COALESCE(c.x, 0) AS x
  FROM types t
  CROSS JOIN (SELECT UNNEST(range(1, 8)) AS dow) g
  LEFT JOIN cells c ON c.event_type = t.event_type AND c.dow = g.dow
), ranked AS (
  SELECT event_type, dow, x,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
           + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2
  FROM scaffold
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM scaffold GROUP BY event_type, x)
), items AS (
  SELECT dow, CAST(SUM(r2) AS BIGINT) AS r2_sum FROM ranked GROUP BY dow
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_judges FROM types
), s AS (
  SELECT CAST(SUM((i.r2_sum - m.m_judges * 8)
               * (i.r2_sum - m.m_judges * 8)) AS BIGINT) AS s4
  FROM items i CROSS JOIN m
)
SELECT m.m_judges,
       CAST(7 AS BIGINT) AS n_items,
       s.s4,
       t.tie_t,
       CASE WHEN m.m_judges * m.m_judges * 336 - m.m_judges * t.tie_t = 0
            THEN 0
            ELSE CAST(3 * s.s4 * 1000000
                      // (m.m_judges * m.m_judges * 336
                          - m.m_judges * t.tie_t) AS BIGINT)
       END AS w_e6
FROM m CROSS JOIN s CROSS JOIN ties t
"""


@query(
    "kendall_w_concordance",
    _KENDALL_W_ORACLE,
    "Kendall's coefficient of concordance W (tie-corrected, integer "
    "2x-rank device) across event-type judges ranking the 7 days of "
    "week by activity — the [0,1] agreement effect size Friedman's "
    "test statistic does not give; one fact aggregate, then <= 35-row "
    "scaffold math with keyed ranking windows",
    tags=("relational", "stats", "bench"),
)
def q_kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = checkpoint(
        ev.select(
            "event_type",
            F.expr(
                "(CAST(unix_date(CAST(ts AS DATE)) AS BIGINT) + 3) % 7 + 1"
            ).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    types = cells.select("event_type").distinct()
    dows = spark.range(1, 8).select(F.col("id").alias("dow"))
    scaffold = checkpoint(
        types.crossJoin(F.broadcast(dows))
        .join(F.broadcast(cells), ["event_type", "dow"], "left")
        .select(
            "event_type", "dow", F.coalesce("x", F.lit(0)).alias("x")
        )
    )
    w_rank = Window.partitionBy("event_type").orderBy("x")
    w_tie = Window.partitionBy("event_type", "x")
    ranked = scaffold.select(
        "dow",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1)
        .alias("r2"),
    )
    ties = (
        scaffold.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).cast("long").alias("tie_t")
        )
    )
    items = ranked.groupBy("dow").agg(F.sum("r2").cast("long").alias("r2_sum"))
    m = types.agg(F.count(F.lit(1)).cast("long").alias("m_judges"))
    s = (
        items.crossJoin(F.broadcast(m))
        .agg(
            F.sum(
                (F.col("r2_sum") - F.col("m_judges") * 8)
                * (F.col("r2_sum") - F.col("m_judges") * 8)
            ).cast("long").alias("s4")
        )
    )
    return (
        m.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "m_judges",
            F.lit(7).cast("long").alias("n_items"),
            "s4",
            "tie_t",
            F.expr(
                "CASE WHEN m_judges * m_judges * 336 - m_judges * tie_t = 0 "
                "THEN 0 ELSE CAST(3 * s4 * 1000000 "
                "div (m_judges * m_judges * 336 - m_judges * tie_t) "
                "AS BIGINT) END"
            ).alias("w_e6"),
        )
    )


# --------------------------------------------------------------------------
# Distribution-shape profile per source: skewness-squared b1 and
# kurtosis b2 of document lengths from floor-mean-centered integer
# power sums (the pacf_daily centering device):
#   c_i = x_i - (S div n),  Mk = sum c_i^k
#   b1  = n * M3^2 / M2^3      b2 = n * M4 / M2^2
# b1 rides a DOCUMENTED two-step staged truncation that both engines
# mirror exactly (t3 = 1000*M3 div M2, then b1_e6 = n*t3*t3 div M2) —
# the direct closed form's M3^2 * 1e6 * n product would clear the
# DECIMAL(38,0) ceiling near sf1; staging keeps every intermediate
# under ~1e20 through sf100. b2 is direct (products stay < 1e33).
# skew SIGN is reported separately (squaring erases it). One fact
# aggregate for (n, S), broadcast back over the checkpointed
# (source, x) projection, one more keyed aggregate — 100 TB-shaped.
# --------------------------------------------------------------------------

_MOMENT_ORACLE = """
WITH raw AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
), base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM raw GROUP BY source
), cent AS (
  SELECT r.source, b.n,
         CAST(r.x - (b.s // b.n) AS HUGEINT) AS c
  FROM raw r JOIN base b ON r.source = b.source
), pows AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         SUM(c * c) AS m2,
         SUM(c * c * c) AS m3,
         SUM(c * c * c * c) AS m4
  FROM cent GROUP BY source
)
SELECT source, n_docs,
       CAST(m2 AS BIGINT) AS ss2,
       CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 ELSE 0 END AS skew_sign,
       CASE WHEN m2 = 0 THEN 0
            ELSE CAST(n_docs * ((1000 * m3) // m2) * ((1000 * m3) // m2)
                      // m2 AS BIGINT) END AS skew2_e6,
       CASE WHEN m2 = 0 THEN 0
            ELSE CAST(n_docs * m4 * 1000000 // (m2 * m2) AS BIGINT)
       END AS kurt_e6
FROM pows
ORDER BY source
"""


@query(
    "moment_shape_profile",
    _MOMENT_ORACLE,
    "Per-source skewness-squared (b1, staged 2-step truncation with a "
    "documented DECIMAL(38,0) ceiling at ~sf100) and kurtosis (b2, "
    "direct) of document lengths from floor-mean-centered integer "
    "power sums + separate skew sign — the distribution-SHAPE audit "
    "location/scale profiles cannot give; two keyed aggregates over a "
    "checkpointed 2-column projection",
    tags=("llm", "text", "stats", "bench"),
)
def q_moment_shape_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = checkpoint(docs.select(
        "source", F.col("n_chars").cast("long").alias("x")
    ))
    base = raw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    cent = raw.join(F.broadcast(base), "source").select(
        "source",
        "n",
        F.expr("CAST(x - (s div n) AS DECIMAL(38,0))").alias("c"),
    )
    pows = cent.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        _dec(F.sum(F.expr("c * c"))).alias("m2"),
        _dec(F.sum(F.expr("c * c * c"))).alias("m3"),
        _dec(F.sum(F.expr("c * c * c * c"))).alias("m4"),
    )
    return pows.select(
        "source",
        "n_docs",
        F.expr("CAST(m2 AS BIGINT)").alias("ss2"),
        F.expr(
            "CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 ELSE 0 END"
        ).cast("int").alias("skew_sign"),
        F.expr(
            "CASE WHEN m2 = 0 THEN 0 "
            "ELSE CAST(n_docs * ((1000 * m3) div m2) * ((1000 * m3) div m2) "
            "div m2 AS BIGINT) END"
        ).alias("skew2_e6"),
        F.expr(
            "CASE WHEN m2 = 0 THEN 0 "
            "ELSE CAST(n_docs * m4 * 1000000 div (m2 * m2) AS BIGINT) END"
        ).alias("kurt_e6"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# ABC (Pareto) inventory classification: parts ranked by revenue
# descending, classified by CUMULATIVE revenue share — A up to 80 %,
# B up to 95 %, C the tail (the crossing part falls in the NEXT class;
# both engines share the <= threshold so the boundary is
# deterministic). Revenue is exact integer micros (DECIMAL(12,2)
# price x DECIMAL(5,4) discount complement = scale-6 decimal, x 1e6).
# The running total uses with_global_prefix_sum — range partition +
# per-partition partials + broadcast prefix offsets + LOCAL keyed
# cumulative windows — so no task ever holds the whole part dimension
# (the spend_lorenz_deciles machinery, extended from ranks to sums).
# The only global window left is the 3-row class rollup's cumulative
# share (bounded; allowlisted).
# --------------------------------------------------------------------------

_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(5,4))
                     - CAST(l_discount AS DECIMAL(6,4)))) * 1000000
              AS HUGEINT) AS micros
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT SUM(micros) AS total FROM rev
), cum AS (
  SELECT l_partkey, micros,
         SUM(micros) OVER (ORDER BY micros DESC, l_partkey) AS c
  FROM rev
), classed AS (
  SELECT CASE WHEN c * 1000000 // t.total <= 800000 THEN 'A'
              WHEN c * 1000000 // t.total <= 950000 THEN 'B'
              ELSE 'C' END AS abc_class,
         micros
  FROM cum CROSS JOIN tot t
), rolled AS (
  SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(micros) AS class_micros
  FROM classed GROUP BY abc_class
)
SELECT abc_class, n_parts,
       CAST(class_micros AS BIGINT) AS revenue_micros,
       CAST(class_micros * 1000000 // t.total AS BIGINT) AS share_ppm,
       CAST(SUM(class_micros) OVER (ORDER BY abc_class) * 1000000
            // t.total AS BIGINT) AS cum_share_ppm
FROM rolled CROSS JOIN tot t
ORDER BY abc_class
"""


@query(
    "abc_pareto_parts",
    _ABC_ORACLE,
    "ABC inventory classification of parts by cumulative revenue share "
    "(A <= 80 %, B <= 95 %, C tail) over exact DECIMAL-micros revenue; "
    "the running total is with_global_prefix_sum (range partition + "
    "broadcast prefix offsets + local keyed windows — no single-"
    "partition sort), then a 3-row bounded class rollup",
    tags=("relational", "warehouse", "bench"),
)
def q_abc_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.rank import with_global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(5,4)")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(f"decimal({DEC_PRICE})")
                * (one - F.col("l_discount").cast("decimal(6,4)"))
            ).alias("r")
        )
        .select(
            "l_partkey",
            F.expr("CAST(r * 1000000 AS DECIMAL(38,0))").alias("micros"),
            F.expr("CAST(-(r * 1000000) AS DECIMAL(38,0))").alias("neg"),
        )
    )
    # with_total (r11): the share denominator is the sum of the prefix
    # offsets' partials — already on the driver — so the second full
    # part-revenue aggregation (and its crossJoin) is gone; the total
    # rides as an exact DECIMAL literal.
    cum, total = with_global_prefix_sum(
        rev, ["neg", "l_partkey"], "micros", cum_col="c", with_total=True
    )
    classed = cum.withColumn(
        "total", F.lit(str(total)).cast("decimal(38,0)")
    ).select(
        F.expr(
            "CASE WHEN c * 1000000 div total <= 800000 THEN 'A' "
            "WHEN c * 1000000 div total <= 950000 THEN 'B' "
            "ELSE 'C' END"
        ).alias("abc_class"),
        "micros",
        "total",
    )
    rolled = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        _dec(F.sum("micros")).alias("class_micros"),
        F.max("total").alias("total"),
    )
    w_cum = Window.orderBy("abc_class").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return rolled.select(
        "abc_class",
        "n_parts",
        F.expr("CAST(class_micros AS BIGINT)").alias("revenue_micros"),
        F.expr(
            "CAST(class_micros * 1000000 div total AS BIGINT)"
        ).alias("share_ppm"),
        (
            F.sum("class_micros").over(w_cum) * F.lit(1000000)
        ).cast("decimal(38,0)").alias("cum_raw"),
        "total",
    ).select(
        "abc_class",
        "n_parts",
        "revenue_micros",
        "share_ppm",
        F.expr("CAST(cum_raw div total AS BIGINT)").alias("cum_share_ppm"),
    ).orderBy("abc_class")


# --------------------------------------------------------------------------
# DAU / MAU-28 stickiness per observed day — the engagement ratio
# product analytics runs daily. EXACT by construction at a BOUNDED
# window: the deduped (user, day) relation explodes into at most 28
# report days (a fixed constant, not a data-dependent blowup), is
# semi-joined to observed days, and re-aggregates to per-day distinct
# users. hll_sliding_distinct is the unbounded-window approximate
# form; this is its exact bounded-window companion, and the ratio
# needs no division guard: day d observed implies dau(d) >= 1 and the
# i=0 term makes mau28(d) >= dau(d). The first 27 days of the range
# have truncated lookback windows — inherent to trailing MAU, shared
# by both engines.
# --------------------------------------------------------------------------

_DAU_MAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d0
  FROM events
), days AS (
  SELECT DISTINCT d0 AS d FROM ud
), expanded AS (
  SELECT ud.user_id, ud.d0 + CAST(g.i AS INTEGER) AS d
  FROM ud CROSS JOIN (SELECT UNNEST(range(0, 28)) AS i) g
), mau AS (
  SELECT e.d, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS mau28
  FROM expanded e JOIN days dy ON dy.d = e.d
  GROUP BY e.d
), dau AS (
  SELECT d0 AS d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d0
)
SELECT dau.d, dau.dau, mau.mau28,
       CAST(dau.dau * 1000000 // mau.mau28 AS BIGINT) AS stickiness_ppm
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY dau.d
"""


@query(
    "dau_mau_stickiness",
    _DAU_MAU_ORACLE,
    "Exact DAU / trailing-28-day MAU / stickiness ppm per observed "
    "day: deduped (user, day) exploded into a FIXED 28-day report "
    "fan-out, semi-joined to observed days, re-aggregated to distinct "
    "users — the exact bounded-window companion of "
    "hll_sliding_distinct; no division guard needed (i=0 makes "
    "mau28 >= dau >= 1)",
    tags=("relational", "timeseries", "bench"),
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = checkpoint(
        ev.select("user_id", F.col("ts").cast("date").alias("d0"))
        .distinct()
    )
    days = ud.select(F.col("d0").alias("d")).distinct()
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("i"),
        "d0",
    ).select("user_id", F.expr("date_add(d0, CAST(i AS INT))").alias("d"))
    mau = (
        expanded.join(F.broadcast(days), "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("mau28"))
    )
    dau = ud.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    return (
        dau.join(mau, "d")
        .select(
            "d",
            "dau",
            "mau28",
            F.expr(
                "CAST(dau * 1000000 div mau28 AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .orderBy("d")
    )
