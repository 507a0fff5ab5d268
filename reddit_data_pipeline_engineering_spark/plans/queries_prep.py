"""Corpus-preparation queries: decontamination, PII scrubbing, quality
gates, sequence packing, mixture rebalancing, skew-salted rollups.

Engine extensions beyond the reference surface (the reference,
``glue_jobs/process_openaq_raw.py``, stops at clean/enrich/pivot): these
are the corpus-level passes a training-data pipeline runs after dedup
(queries_llm) and before the tokenizer. Same oracle discipline as the rest
of the registry — every query has a hand-mirrored DuckDB SQL twin.

Scale notes are on the operators (operators/corpus.py, operators/salt.py);
the one-line summary: benchmark dims and mixing plans broadcast, packing
windows shuffle once on a bounded group key, salting widens hot keys
without changing results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.functions import text as tx
from reddit_data_pipeline_engineering_spark.operators import corpus, salt
from reddit_data_pipeline_engineering_spark.plans.queries import (
    DEC_VALUE,
    _dsum,
    query,
)
from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
    _sql_shingles,
    _TOKS,
)
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct({_sql_shingles('toks', 3)})) AS shingle
  FROM toks
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
), hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_overlap
  FROM sh s JOIN bench b USING (shingle)
  WHERE s.doc_id % 50 <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(h.n_overlap, 0) >= 5 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 50 <> 0
"""


@query(
    "decontaminate_ngrams",
    _DECON_ORACLE,
    "Benchmark decontamination: flag corpus docs sharing word 3-gram "
    "shingles with an eval subset (doc_id%50=0). Eval shingle dim is "
    "broadcast — the corpus side is one scan + a per-doc count, no "
    "corpus-sized shuffle at 100 TB",
    tags=("llm", "prep", "dedup", "bench"),
)
def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus.benchmark_overlap(
        docs,
        "text",
        "doc_id",
        bench_pred=F.col("doc_id") % 50 == 0,
        shingle_len=3,
        min_overlap=5,
    )


# --------------------------------------------------------------------------
# PII scrubbing — deterministic synthetic PII is injected (the testdata
# corpus is clean word-salad) so the redaction counts are non-trivial and
# the oracle can replay the exact same augmentation.
# --------------------------------------------------------------------------

_EMAIL = tx.EMAIL_PATTERN
_PHONE = tx.PHONE_PATTERN

_PII_SCRUB = (
    f"regexp_replace(regexp_replace(t, '{_EMAIL}', '<EMAIL>', 'g'), "
    f"'{_PHONE}', '<PHONE>', 'g')"
)

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{_EMAIL}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '{_PHONE}')) AS INTEGER) AS n_phones,
  CAST(length({_PII_SCRUB}) AS INTEGER) AS scrubbed_len,
  md5({_PII_SCRUB}) AS scrubbed_hash
FROM aug
"""


@query(
    "pii_scrub_stats",
    _PII_ORACLE,
    "PII redaction pass: email+phone regexp scrub with per-doc redaction "
    "counts and a post-scrub content hash — pure JVM regexp expressions "
    "(lookaround-free patterns run identically under Java regex and RE2)",
    tags=("llm", "prep", "text"),
)
def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    email_part = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.lit(""))
    phone_part = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    aug = docs.select(
        "doc_id", F.concat(F.col("text"), email_part, phone_part).alias("t")
    )
    scrubbed = tx.scrub_pii("t")
    return aug.select(
        "doc_id",
        tx.email_count("t").alias("n_emails"),
        tx.phone_count("t").alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


# --------------------------------------------------------------------------
# Gopher-style quality gates
# --------------------------------------------------------------------------

_STOP_PATTERN = r"\b(" + "|".join(tx.STOPWORDS) + r")\b"

_GATES_ORACLE = rf"""
WITH base AS (
  SELECT source,
    CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_nonspace,
    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS INTEGER)
      AS n_symbols,
    CAST(len(regexp_extract_all(text, '{_STOP_PATTERN}')) AS INTEGER) AS n_stop
  FROM documents
), gated AS (
  SELECT source,
    CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS g_len,
    CASE WHEN n_nonspace / n_tokens >= 2.0
          AND n_nonspace / n_tokens <= 12.0 THEN 1 ELSE 0 END AS g_meanlen,
    CASE WHEN n_symbols / n_chars < 0.1 THEN 1 ELSE 0 END AS g_symbol,
    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS g_stop
  FROM base
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(g_len) AS BIGINT) AS n_pass_len,
  CAST(SUM(g_meanlen) AS BIGINT) AS n_pass_meanlen,
  CAST(SUM(g_symbol) AS BIGINT) AS n_pass_symbol,
  CAST(SUM(g_stop) AS BIGINT) AS n_pass_stop,
  CAST(SUM(g_len * g_meanlen * g_symbol * g_stop) AS BIGINT) AS n_pass_all,
  CAST(SUM(g_len * g_meanlen * g_symbol * g_stop) AS BIGINT)
    / CAST(COUNT(*) AS DOUBLE) AS pass_rate
FROM gated
GROUP BY source
ORDER BY source
"""


@query(
    "quality_filter_gates",
    _GATES_ORACLE,
    "Gopher-style quality gates (token count, mean word length, symbol "
    "ratio, stopword presence) aggregated per source: the cheap pre-dedup "
    "document filter, one scan, all JVM expressions",
    tags=("llm", "prep", "text", "bench"),
)
def q_quality_filter_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        tx.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("n_nonspace"),
        tx.symbol_count("text").alias("n_symbols"),
        tx.stopword_count("text").alias("n_stop"),
    )
    meanlen = F.col("n_nonspace") / F.col("n_tokens")
    gated = base.select(
        "source",
        F.when(
            (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000), 1
        ).otherwise(0).alias("g_len"),
        F.when((meanlen >= 2.0) & (meanlen <= 12.0), 1).otherwise(0).alias(
            "g_meanlen"
        ),
        F.when(F.col("n_symbols") / F.col("n_chars") < 0.1, 1)
        .otherwise(0)
        .alias("g_symbol"),
        F.when(F.col("n_stop") >= 2, 1).otherwise(0).alias("g_stop"),
    )
    g_all = (
        F.col("g_len") * F.col("g_meanlen") * F.col("g_symbol") * F.col("g_stop")
    )
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("g_len").cast("bigint").alias("n_pass_len"),
            F.sum("g_meanlen").cast("bigint").alias("n_pass_meanlen"),
            F.sum("g_symbol").cast("bigint").alias("n_pass_symbol"),
            F.sum("g_stop").cast("bigint").alias("n_pass_stop"),
            F.sum(g_all).cast("bigint").alias("n_pass_all"),
            (
                F.sum(g_all).cast("bigint")
                / F.count(F.lit(1)).cast("double")
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, CAST(len({_TOKS}) AS INTEGER) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
      AS cum_tokens
  FROM toks
)
SELECT lang,
  CAST(FLOOR((cum_tokens - n_tokens) / 256.0) AS BIGINT) AS pack_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
  MIN(doc_id) AS first_doc,
  CAST(SUM(n_tokens) AS BIGINT) / 256.0 AS fill_ratio
FROM cum
GROUP BY lang, CAST(FLOOR((cum_tokens - n_tokens) / 256.0) AS BIGINT)
"""


@query(
    "sequence_packing",
    _PACK_ORACLE,
    "Sequence packing: offset-bin documents into 256-token training packs "
    "per language (running-token window -> floor-divide). One window "
    "shuffle on a bounded group key; deterministic at any cluster size",
    tags=("llm", "prep", "window"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", tx.token_count("text").alias("n_tokens")
    )
    packed = corpus.pack_sequences(
        toks, "n_tokens", "doc_id", max_tokens=256, partition_cols=["lang"]
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        (F.sum("n_tokens").cast("bigint") / F.lit(256.0)).alias("fill_ratio"),
    )


# --------------------------------------------------------------------------
# Mixture rebalancing
# --------------------------------------------------------------------------

_MIX_ORACLE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), plan AS (
  SELECT source, n_docs,
    CAST(CEIL(CAST(SUM(n_docs) OVER () AS DOUBLE) / COUNT(*) OVER ())
         AS BIGINT) AS quota
  FROM counts
), plan2 AS (
  SELECT source, n_docs, quota,
         LEAST(1.0, quota / n_docs) AS keep_rate
  FROM plan
), kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN plan2 p ON d.source = p.source
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
        < CAST(FLOOR(p.keep_rate * 10000.0) AS BIGINT)
  GROUP BY d.source
)
SELECT p.source, p.n_docs, p.quota, p.keep_rate,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
FROM plan2 p LEFT JOIN kept k ON p.source = k.source
ORDER BY p.source
"""


@query(
    "source_mix_rebalance",
    _MIX_ORACLE,
    "Domain-mixture rebalancing: per-source uniform quota -> keep rate -> "
    "deterministic md5-bucket downsample. Plan is an S-row aggregate "
    "(broadcast back); the apply side is one map-filter scan of the corpus",
    tags=("llm", "prep", "sampling"),
)
def q_source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    plan = corpus.source_mix_plan(docs, "source")
    kept = (
        corpus.apply_mix_plan(
            docs.select("doc_id", "source"), plan, "source", "doc_id"
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        plan.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "quota",
            "keep_rate",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Skew-salted rollup — the salt operators (operators/salt.py) under a
# driver-verified query: results must be IDENTICAL to the plain join the
# oracle runs; only the physical partitioning differs.
# --------------------------------------------------------------------------

_SALTED_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment, e.user_id, e.value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_distinct_user_id
FROM j
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query(
    "salted_skew_rollup",
    _SALTED_ORACLE,
    "Skew-mitigated enrich: salted equi-join (hot user keys widened over 8 "
    "salt buckets) + two-stage salted COUNT(DISTINCT) — bit-identical to "
    "the plain join/aggregate the oracle runs, straggler-free at 100 TB",
    tags=("llm", "prep", "skew"),
)
def q_salted_skew_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salt.salted_join(
        ev, cust, on="user_id", big_unique=["event_id"], n=8
    )
    plain = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value"), DEC_VALUE).alias("sum_value"),
    )
    distinct = salt.salted_count_distinct(
        joined, ["c_mktsegment"], "user_id", n=8
    )
    return plain.join(distinct, "c_mktsegment").orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Vocabulary heavy hitters — tokenizer/vocab construction starts with exact
# corpus term counts. One explode + one hash aggregate: partial (map-side)
# aggregation absorbs token skew ("the" is pre-summed per partition before
# the shuffle), the distinct-doc count is the standard two-phase expand,
# and the top-50 is TakeOrderedAndProject.
# --------------------------------------------------------------------------

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS token FROM documents
)
SELECT token,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM tok
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
"""


@query(
    "vocab_topk",
    _VOCAB_ORACLE,
    "Vocabulary heavy hitters: exact corpus term frequencies + document "
    "frequencies, top-50 — map-side partial aggregation absorbs token "
    "skew before the single keyed shuffle",
    tags=("llm", "prep", "text", "bench"),
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tx.tokens("text").alias("__toks"))
    tok = staged.select(
        "doc_id", F.explode_outer("__toks").alias("token")
    ).filter(F.col("token").isNotNull())
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(50)
    )


# --------------------------------------------------------------------------
# Split-leakage audit (r06): near-duplicate documents that land in
# DIFFERENT train/val/test splits leak training text into evaluation —
# the id-hash split is perfectly reproducible but completely blind to
# content duplication, so dedup-aware split integrity is its mandatory
# companion audit. Groups = the 10-word-prefix fingerprint (the
# incremental_dedup convention); split = the md5-bucket 80/10/10 ranges
# (the hash_split_stats convention). A group is LEAKY if its docs span
# more than one split; eval-side leakage (val/test doc sharing a group
# with a train doc) is the number that matters for benchmark honesty.
#
# Plan shape: one map pass derives (fingerprint, split), ONE fingerprint-
# keyed aggregate counts per-split members per group (mergeable), a
# second bounded rollup scores the corpus — no joins, no windows. At
# 100 TB this is strictly cheaper than the dedup pass itself.
# --------------------------------------------------------------------------

_LEAK_ORACLE = """
WITH tagged AS (
  SELECT md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), groups AS (
  SELECT h,
         COUNT(*) AS n_docs,
         COUNT(*) FILTER (WHERE split = 'train') AS n_train,
         COUNT(*) FILTER (WHERE split <> 'train') AS n_eval,
         COUNT(DISTINCT split) AS n_splits
  FROM tagged GROUP BY h
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COUNT(*) FILTER (WHERE n_splits > 1) AS BIGINT)
         AS n_leaky_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
         AS n_docs_in_leaky_groups,
       CAST(SUM(CASE WHEN n_train > 0 THEN n_eval ELSE 0 END) AS BIGINT)
         AS n_eval_docs_leaked,
       CAST(SUM(CASE WHEN n_train > 0 THEN n_eval ELSE 0 END) * 10000
            // nullif(SUM(n_eval), 0) AS BIGINT) AS eval_leak_bps
FROM groups
"""


@query(
    "split_leakage_audit",
    _LEAK_ORACLE,
    "Dedup-aware split integrity: near-dup groups (10-word-prefix "
    "fingerprint) spanning more than one md5-bucket split, and the "
    "val/test docs sharing a group with a train doc (the benchmark-"
    "honesty number, in bps of all eval docs) — one fingerprint-keyed "
    "mergeable aggregate + a bounded rollup, no joins",
    tags=("llm", "sampling", "quality", "bench"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    h = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 10), " "))
    b = corpus.md5_bucket("doc_id", 100)
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    tagged = docs.select(h.alias("h"), split.alias("split"))
    groups = tagged.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("split") == "train").cast("int")).alias("n_train"),
        F.sum((F.col("split") != "train").cast("int")).alias("n_eval"),
        F.countDistinct("split").alias("n_splits"),
    )
    leaky = F.col("n_splits") > 1
    has_train = F.col("n_train") > 0
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(leaky.cast("int")).cast("long").alias("n_leaky_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.when(leaky, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("n_docs_in_leaky_groups"),
        F.sum(F.when(has_train, F.col("n_eval")).otherwise(0))
        .cast("long")
        .alias("n_eval_docs_leaked"),
        F.expr(
            "sum(case when n_train > 0 then n_eval else 0 end) * 10000 "
            "div nullif(sum(n_eval), 0)"
        )
        .cast("long")
        .alias("eval_leak_bps"),
    )


# --------------------------------------------------------------------------
# Neyman-allocation stratified sampling (r07) — the statistically
# OPTIMAL sample design (Neyman 1934): for a fixed total budget, the
# variance-minimizing per-stratum allocation is n_h ∝ N_h * S_h (size
# times standard deviation), not the proportional N_h the naive
# stratified sampler uses. Strata = sources; the measured variable is
# document token length.
#
# Exactness: the per-stratum variance numerator n*Sum(x^2) - (Sum x)^2
# is DECIMAL(38,0)-exact INTERNALLY but EMITTED as DOUBLE on both legs
# (VERDICT r07 #1: the driver's typed hash serializes Spark DecimalType
# vs DuckDB DECIMAL differently — the r07 gate's only 3 red rows were
# exactly the 3 decimal-output queries, all value-exact vs oracle; the
# decision values w/alloc_n/n_sampled stay exact BIGINT);
# S_h = floor(sqrt(var_num)) goes through ONE
# IEEE double sqrt of identical inputs in both engines (correctly
# rounded — the zscore_outliers precedent), everything after is integer
# again: weights w_h = N_h * S_h, allocation n_h = BUDGET * w_h div
# Sum(w). The sample itself is drawn deterministically per stratum via
# the md5 bucket with an in-plan threshold ceil(n_h * 1e6 / N_h), so
# the draw is engine/rerun/cluster-size invariant and the achieved
# count rides along. One corpus aggregate + one bounded rollup + one
# corpus filter pass; no RNG anywhere.
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 1_000

_NEYMAN_ORACLE = f"""
WITH lens AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS x
  FROM documents
),
strata AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(CAST(x AS DECIMAL(38,0)) * x)
           - SUM(CAST(x AS DECIMAL(38,0))) * SUM(CAST(x AS DECIMAL(38,0)))
           AS var_num
  FROM lens GROUP BY source
),
wts AS (
  SELECT source, n_docs, var_num,
         n_docs * CAST(FLOOR(SQRT(CAST(var_num AS DOUBLE))) AS BIGINT)
           AS w
  FROM strata
),
alloc AS (
  -- HUGEINT // HUGEINT is exact integer division (DECIMAL // detours
  -- through DOUBLE in DuckDB and can land one off the true floor).
  SELECT source, n_docs, var_num, w,
         CAST(CAST({_NEYMAN_BUDGET} AS HUGEINT) * w
              // CAST((SELECT SUM(w) FROM wts) AS HUGEINT) AS BIGINT)
           AS alloc_n
  FROM wts
),
drawn AS (
  SELECT l.source, COUNT(*) AS n_sampled
  FROM lens l JOIN alloc a ON a.source = l.source
  WHERE ('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000
        < (a.alloc_n * 1000000 + a.n_docs - 1) // a.n_docs
  GROUP BY l.source
)
SELECT a.source, a.n_docs, CAST(a.var_num AS DOUBLE) AS var_num,
       CAST(a.w AS BIGINT) AS w,
       a.alloc_n,
       CAST(COALESCE(d.n_sampled, 0) AS BIGINT) AS n_sampled
FROM alloc a LEFT JOIN drawn d ON d.source = a.source
ORDER BY a.source
"""


@query(
    "neyman_allocation_sample",
    _NEYMAN_ORACLE,
    "Neyman-optimal stratified sampling: per-source DECIMAL(38,0)-exact "
    "variance numerator of doc token length, S_h via ONE mirrored IEEE "
    "sqrt+floor, allocation BUDGET * N_h*S_h div Sum(w), and a "
    "deterministic md5-threshold draw with the achieved count riding "
    "along — one corpus aggregate + bounded rollup + one filter pass, "
    "no RNG",
    tags=("llm", "sampling", "stats", "bench"),
)
def q_neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    lens = docs.select(
        "doc_id",
        "source",
        F.size(tx.tokens("text")).cast("long").alias("x"),
    )
    # lens feeds the strata aggregate AND the draw pass.
    lens = checkpoint(lens)
    strata = lens.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.count(F.lit(1)).cast("decimal(38,0)")
            * F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            - F.sum(F.col("x").cast("decimal(38,0)"))
            * F.sum(F.col("x").cast("decimal(38,0)"))
        ).alias("var_num"),
    )
    wts = strata.withColumn(
        "w",
        F.col("n_docs")
        * F.floor(F.sqrt(F.col("var_num").cast("double"))).cast("long"),
    )
    # wts is sources-bounded; checkpoint so the scalar total and the
    # allocation read it once.
    wts = checkpoint(wts)
    tot = wts.agg(F.sum("w").alias("w_tot"))
    alloc = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "var_num",
        "w",
        F.expr(
            f"CAST(CAST({_NEYMAN_BUDGET} AS DECIMAL(38,0)) * w "
            "div w_tot AS BIGINT)"
        ).alias("alloc_n"),
    )
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    drawn = (
        lens.join(
            F.broadcast(alloc.select("source", "alloc_n", F.col("n_docs").alias("nd"))),
            "source",
        )
        .filter(
            md5_bucket("doc_id", 1_000_000)
            < F.expr("(alloc_n * 1000000 + nd - 1) div nd")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    return (
        alloc.join(drawn, "source", "left")
        .select(
            "source",
            "n_docs",
            F.col("var_num").cast("double").alias("var_num"),
            F.col("w").cast("long").alias("w"),
            "alloc_n",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        )
        .orderBy("source")
    )
