"""LLM training-data pipeline queries, round 3: chunk-level dedup,
TF-IDF indexing, incremental shard ingestion, BPE merge learning,
blocked fuzzy (Levenshtein) entity resolution, weighted sampling.

Same contract as every registry module: the Spark side is idiomatic
DataFrame code over the engine's operators; the oracle is hand-mirrored
DuckDB SQL, integer/mirrored-IEEE arithmetic throughout so value hashes
match bit-for-bit. No reference counterpart (the reference is an OpenAQ
ETL, ``glue_jobs/process_openaq_raw.py``); these are the corpus ops a
100 TB pretraining pipeline runs between crawl and tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.operators import corpus as corpus_ops
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# C4-style chunk-level dedup. C4 drops duplicated LINES corpus-wide
# (keeping one occurrence); this corpus has no newlines, so the chunk
# unit is a fixed 10-word window (operators/corpus.chunk_documents —
# map-only slicing, no regroup shuffle). Survivorship is deterministic:
# the first (doc_id, chunk_idx) occurrence of each distinct chunk wins.
# Whole plan = 1 content-hash window shuffle + 1 per-doc aggregate.
# --------------------------------------------------------------------------

_CHUNK_DEDUP_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
words AS (
  SELECT doc_id, a[i] AS word, i - 1 AS pos
  FROM split, UNNEST(generate_series(1, len(a))) AS t(i)
),
chunks AS (
  SELECT doc_id, pos // 10 AS chunk_idx,
         string_agg(word, ' ' ORDER BY pos) AS chunk_text
  FROM words GROUP BY doc_id, pos // 10
),
ranked AS (
  SELECT doc_id, chunk_text,
         row_number() OVER (PARTITION BY md5(chunk_text)
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  CAST(SUM(CASE WHEN rn = 1 THEN LENGTH(chunk_text) ELSE 0 END) AS BIGINT)
    AS kept_chars
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


@query(
    "chunk_dedup_stats",
    _CHUNK_DEDUP_ORACLE,
    "C4-style corpus-wide chunk dedup (10-word windows, first occurrence "
    "survives): map-only chunking, one md5-window shuffle, per-doc "
    "kept/dropped accounting",
    tags=("llm", "dedup", "bench"),
)
def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    chunks = corpus_ops.chunk_documents(docs, "text", "doc_id")
    w = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
            F.sum(
                F.when(F.col("rn") == 1, F.length("chunk_text")).otherwise(0)
            ).alias("kept_chars"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Substring-level (duplicated-span) dedup — the production mode between
# doc-grain and chunk-grain: find maximal runs of consecutive 10-word
# windows whose content exists elsewhere in the corpus
# (operators/corpus.duplicate_spans; Lee et al. 2022 exact-substring
# dedup quantized to chunk boundaries). 2 shuffles: content-hash window
# + per-doc run window; the span/doc aggregates reuse the doc_id
# partitioning.
# --------------------------------------------------------------------------

_DUP_SPAN_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
words AS (
  SELECT doc_id, a[i] AS word, i - 1 AS pos
  FROM split, UNNEST(generate_series(1, len(a))) AS t(i)
),
chunks AS (
  SELECT doc_id, pos // 10 AS chunk_idx,
         string_agg(word, ' ' ORDER BY pos) AS chunk_text
  FROM words GROUP BY doc_id, pos // 10
),
freq AS (
  SELECT md5(chunk_text) AS h, COUNT(*) AS n_occ FROM chunks GROUP BY 1
),
dup AS (
  SELECT c.doc_id, c.chunk_idx, LENGTH(c.chunk_text) AS len
  FROM chunks c JOIN freq f ON md5(c.chunk_text) = f.h
  WHERE f.n_occ > 1
),
runs AS (
  SELECT doc_id, chunk_idx, len,
         chunk_idx - row_number()
           OVER (PARTITION BY doc_id ORDER BY chunk_idx) AS run
  FROM dup
),
spans AS (
  SELECT doc_id, COUNT(*) AS span_chunks, SUM(len) AS span_chars
  FROM runs GROUP BY doc_id, run
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(MAX(span_chunks) AS BIGINT) AS max_span_chunks,
       CAST(SUM(span_chunks) AS BIGINT) AS dup_chunks,
       CAST(SUM(span_chars) AS BIGINT) AS dup_chars
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


@query(
    "duplicate_span_stats",
    _DUP_SPAN_ORACLE,
    "Substring-level dedup accounting (Lee et al.-style duplicated-span "
    "removal at 10-word-chunk resolution): consecutive corpus-duplicated "
    "windows merged into maximal spans via gaps-and-islands, per-doc "
    "span count / longest span / duplicated chunks+chars",
    tags=("llm", "dedup", "bench"),
)
def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    spans = corpus_ops.duplicate_spans(docs, "text", "doc_id")
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("span_chunks").alias("max_span_chunks"),
            F.sum("span_chunks").alias("dup_chunks"),
            F.sum("span_chars").alias("dup_chars"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# TF-IDF top terms. The inverted-index build: per-(doc, term) counts, a
# vocabulary-sized document-frequency dim (BROADCAST — the vocab is
# bounded, the corpus is not), and an integer-scaled idf so no float
# division enters the ordering: score = tf * n_docs * 10000 div df.
# One corpus shuffle on (doc, term); everything else is broadcast.
# --------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH split AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
words AS (
  SELECT doc_id, a[i] AS word
  FROM split, UNNEST(generate_series(1, len(a))) AS t(i)
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, word, tf, df,
       CAST(tf * n_docs * 10000 // df AS BIGINT) AS score_scaled
FROM tf JOIN df USING (word), n
QUALIFY row_number()
  OVER (PARTITION BY doc_id ORDER BY score_scaled DESC, word) <= 3
ORDER BY doc_id, score_scaled DESC, word
"""


@query(
    "tfidf_topk_terms",
    _TFIDF_ORACLE,
    "Top-3 TF-IDF terms per document: one (doc, term) count shuffle, "
    "broadcast vocabulary df dim, integer-scaled idf (tf * N * 10000 div "
    "df) so the ranking is engine-exact with zero float division",
    tags=("llm", "text", "bench"),
)
def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_scaled",
            F.expr("(tf * n_docs * 10000) div df").cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tf", "df", "score_scaled")
        .orderBy("doc_id", F.desc("score_scaled"), "word")
    )


# --------------------------------------------------------------------------
# Incremental shard ingestion — the dedup shape a CONTINUOUS crawl runs:
# new shard vs. accumulated history. History is fingerprint-only (the
# first 10 words — the md5 of full text never collides in this synthetic
# corpus, a prefix fingerprint shows real collisions), so at 100 TB the
# history side is a compact fingerprint table, the join is one hash
# shuffle (bloom-prefilterable, see operators/bloom.py), and within-shard
# survivorship is a window over the NEW shard only.
# --------------------------------------------------------------------------

_INCR_DEDUP_ORACLE = """
WITH tagged AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           >= 80 AS is_new
  FROM documents
),
hist AS (SELECT DISTINCT h FROM tagged WHERE NOT is_new),
news AS (
  SELECT t.doc_id, t.source, (hi.h IS NOT NULL) AS dup_hist,
         row_number() OVER (PARTITION BY t.h ORDER BY t.doc_id) AS rn
  FROM tagged t LEFT JOIN hist hi ON t.h = hi.h
  WHERE t.is_new
)
SELECT source, COUNT(*) AS n_new,
  CAST(SUM(CASE WHEN dup_hist THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_history,
  CAST(SUM(CASE WHEN NOT dup_hist AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_within,
  CAST(SUM(CASE WHEN NOT dup_hist AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_ingested
FROM news GROUP BY source ORDER BY source
"""


@query(
    "incremental_dedup",
    _INCR_DEDUP_ORACLE,
    "Incremental crawl ingestion: new shard (md5-bucket 20%) deduped "
    "against history fingerprints (10-word-prefix md5) then within-shard; "
    "one fingerprint hash join + one shard-local window — history never "
    "rescanned beyond its fingerprint column",
    tags=("llm", "dedup"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 10), " "))
    tagged = docs.select(
        "doc_id",
        "source",
        fp.alias("h"),
        (corpus_ops.md5_bucket("doc_id", 100) >= 80).alias("is_new"),
    )
    hist = tagged.filter(~F.col("is_new")).select("h").distinct()
    news = (
        tagged.filter(F.col("is_new"))
        .join(hist.withColumn("__in_hist", F.lit(True)), "h", "left")
        .withColumn("dup_hist", F.col("__in_hist").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id")),
        )
    )
    not_hist = ~F.col("dup_hist")
    return (
        news.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.when(F.col("dup_hist"), 1).otherwise(0)).alias(
                "n_dup_history"
            ),
            F.sum(F.when(not_hist & (F.col("rn") > 1), 1).otherwise(0)).alias(
                "n_dup_within"
            ),
            F.sum(F.when(not_hist & (F.col("rn") == 1), 1).otherwise(0)).alias(
                "n_ingested"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# BPE merge learning — tokenizer induction as an iterative Spark plan.
# State per iteration is the SPELLED VOCABULARY (distinct words + corpus
# frequency — bounded, tiny next to the corpus), so after one corpus-wide
# word count every merge round is an aggregate over ~vocab rows: adjacent
# symbol pairs are sliced map-only from the spelling, weighted by word
# frequency, and the argmax pair (count desc, pair asc tiebreak) is
# applied with a 1-row broadcast + replace() — no driver collect, the
# whole k-round fit is ONE Catalyst plan, and both engines' replace()
# scan left-to-right non-overlapping so the rewrite is deterministic.
# --------------------------------------------------------------------------

_BPE_ITERS = 3


def _bpe_pair_cte(t: int) -> str:
    return f"""
p{t} AS (
  SELECT pr AS pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, a[i] || ' ' || a[i + 1] AS pr
    FROM (SELECT freq, string_split(spelled, ' ') AS a FROM s{t - 1}),
         UNNEST(generate_series(1, len(a) - 1)) AS t(i)
  ) GROUP BY pr
),
b{t} AS (
  SELECT pair, cnt, replace(pair, ' ', '') AS merged
  FROM p{t} ORDER BY cnt DESC, pair LIMIT 1
),
s{t} AS (
  SELECT s.word, s.freq,
         trim(replace(' ' || s.spelled || ' ',
                      ' ' || b.pair || ' ',
                      ' ' || b.merged || ' ')) AS spelled
  FROM s{t - 1} s, b{t} b
)"""


_BPE_ORACLE = (
    """
WITH vocab AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT a[i] AS word FROM
      (SELECT string_split(text, ' ') AS a FROM documents),
      UNNEST(generate_series(1, len(a))) AS t(i)
  ) GROUP BY word
),
s0 AS (
  SELECT word, freq,
         regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS spelled
  FROM vocab
),"""
    + ",".join(_bpe_pair_cte(t) for t in range(1, _BPE_ITERS + 1))
    + """
SELECT * FROM (
  SELECT 1 AS it, pair, merged, cnt FROM b1
  UNION ALL SELECT 2, pair, merged, cnt FROM b2
  UNION ALL SELECT 3, pair, merged, cnt FROM b3
) ORDER BY it
"""
)


def _bpe_best(spelled: DataFrame) -> DataFrame:
    """Most frequent adjacent symbol pair of a spelled vocab (1 row)."""
    a = F.split("spelled", " ")
    prs = F.transform(
        F.sequence(F.lit(1), (F.size(a) - 1).cast("int")),
        lambda i: F.concat(
            F.element_at(a, i), F.lit(" "), F.element_at(a, i + 1)
        ),
    )
    return (
        spelled.select("freq", F.explode(prs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(1)
        .withColumn("merged", F.replace("pair", F.lit(" "), F.lit("")))
    )


def _bpe_apply(spelled: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every spelling with the winning merge (1-row broadcast)."""
    padded = F.concat(F.lit(" "), F.col("spelled"), F.lit(" "))
    return spelled.crossJoin(
        F.broadcast(best.select("pair", "merged"))
    ).select(
        "word",
        "freq",
        F.trim(
            F.replace(
                padded,
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
            )
        ).alias("spelled"),
    )


@query(
    "bpe_merge_learn",
    _BPE_ORACLE,
    "BPE tokenizer induction, 3 merge rounds as ONE Catalyst plan: corpus "
    "word count once, then per-round pair aggregates over the bounded "
    "vocabulary with the argmax merge applied via 1-row broadcast "
    "replace() — no driver collect, deterministic count-desc/pair-asc "
    "tiebreak, oracle replays every round as unrolled CTEs",
    tags=("llm", "text"),
)
def q_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spelled = vocab.select(
        "word",
        "freq",
        F.concat(
            F.regexp_replace("word", "(.)", "$1 "), F.lit("</w>")
        ).alias("spelled"),
    )
    outs = []
    for t in range(1, _BPE_ITERS + 1):
        best = _bpe_best(spelled)
        outs.append(
            best.select(
                F.lit(t).alias("it"), "pair", "merged", F.col("cnt")
            )
        )
        if t < _BPE_ITERS:
            spelled = _bpe_apply(spelled, best)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("it")


# --------------------------------------------------------------------------
# Blocked fuzzy matching (entity resolution / near-dup detection by EDIT
# distance): candidates come from an exact-equality BLOCK key (the first
# 5 words), so the quadratic comparator only runs inside blocks — the
# standard ER decomposition (block -> compare -> classify). The
# comparator is levenshtein(), a built-in exact integer DP in BOTH
# engines, over the next-10-word probe string; no float similarity, no
# libm. At 100 TB the block key join is one hash shuffle and block sizes
# bound the pair fan-out (cap-and-observe like the LSH pair generators).
# --------------------------------------------------------------------------

_FUZZY_THRESHOLD = 10

_FUZZY_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:5], ' ') AS blk,
         array_to_string(string_split(text, ' ')[6:15], ' ') AS probe
  FROM documents
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       levenshtein(x.probe, y.probe) AS edit_dist,
       levenshtein(x.probe, y.probe) <= {_FUZZY_THRESHOLD} AS matched
FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b
"""


@query(
    "fuzzy_blocked_matches",
    _FUZZY_ORACLE,
    "Entity-resolution fuzzy matching: exact 5-word-prefix blocking "
    "bounds the candidate set, then an integer Levenshtein comparator "
    "over the next-10-word probe classifies near-duplicates — the "
    "block/compare/classify ER decomposition with zero all-pairs work",
    tags=("llm", "dedup"),
)
def q_fuzzy_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    b = docs.select(
        "doc_id",
        F.array_join(F.slice(arr, 1, 5), " ").alias("blk"),
        F.array_join(F.slice(arr, 6, 10), " ").alias("probe"),
    )
    x = b.select(
        F.col("doc_id").alias("doc_a"), "blk", F.col("probe").alias("pa")
    )
    y = b.select(
        F.col("doc_id").alias("doc_b"), "blk", F.col("probe").alias("pb")
    )
    dist = F.levenshtein("pa", "pb")
    return (
        x.join(y, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            (dist <= _FUZZY_THRESHOLD).alias("matched"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Deterministic weighted sampling (A-Res shape, Efraimidis-Spirakis):
# priority = uniform(hash) / weight, keep the k smallest per stratum.
# The uniform comes from the same md5-bucket device as every sampler
# here (engine/rerun/cluster-invariant, no RNG) and stays INTEGER:
# (md5_32 % 10^6) * 10^6 div weight — longer documents get smaller
# priorities in distribution, so the sample is size-biased the way
# token-budget-weighted corpus sampling needs. Map-only priority + one
# per-stratum top-k window.
# --------------------------------------------------------------------------

_WEIGHTED_SAMPLE_K = 5

_WEIGHTED_ORACLE = f"""
WITH pr AS (
  SELECT lang, doc_id, n_chars,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000) * 1000000 // n_chars AS priority
  FROM documents
)
SELECT lang, doc_id, n_chars, priority
FROM pr
QUALIFY row_number()
  OVER (PARTITION BY lang ORDER BY priority, doc_id) <= {_WEIGHTED_SAMPLE_K}
ORDER BY lang, priority, doc_id
"""


@query(
    "weighted_sample",
    _WEIGHTED_ORACLE,
    "Deterministic weighted reservoir sample (Efraimidis-Spirakis "
    "priority = hash-uniform div weight, integer-scaled): top-5 per "
    "language stratum, biased toward long documents; map-only priority "
    "+ one bounded per-stratum window — no RNG, engine-invariant",
    tags=("llm", "sampling"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pr = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr(
            "(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " % 1000000) * 1000000 div n_chars"
        )
        .cast("long")
        .alias("priority"),
    )
    w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        pr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WEIGHTED_SAMPLE_K)
        .select("lang", "doc_id", "n_chars", "priority")
        .orderBy("lang", "priority", "doc_id")
    )


# --------------------------------------------------------------------------
# Round-3 capstone: chunk dedup -> dedup-survival quality gate ->
# weighted sample, ONE Catalyst plan. A document's kept_chars (its
# unique-chunk mass after corpus-wide chunk dedup) gates admission
# (>= 60% must survive) and then WEIGHTS the stratified sample — the
# "sample by how much novel text a page actually contributes" policy a
# crawl pipeline wants. Stages: one md5-chunk window + one per-doc
# rollup + one doc-keyed join + one bounded per-lang window.
# --------------------------------------------------------------------------

_PREP2_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
words AS (
  SELECT doc_id, a[i] AS word, i - 1 AS pos
  FROM split, UNNEST(generate_series(1, len(a))) AS t(i)
),
chunks AS (
  SELECT doc_id, pos // 10 AS chunk_idx,
         string_agg(word, ' ' ORDER BY pos) AS chunk_text
  FROM words GROUP BY doc_id, pos // 10
),
ranked AS (
  SELECT doc_id, chunk_text,
         row_number() OVER (PARTITION BY md5(chunk_text)
                            ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN rn = 1 THEN LENGTH(chunk_text) ELSE 0 END)
              AS BIGINT) AS kept_chars
  FROM ranked GROUP BY doc_id
),
gated AS (
  SELECT d.lang, d.doc_id, p.kept_chars,
         (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 1000000) * 1000000 // p.kept_chars AS priority
  FROM documents d JOIN per_doc p USING (doc_id)
  WHERE p.kept_chars * 100 >= d.n_chars * 60
),
sampled AS (
  SELECT lang, doc_id, kept_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority, doc_id) AS srn,
         COUNT(*) OVER (PARTITION BY lang) AS n_candidates
  FROM gated
)
SELECT lang,
       CAST(MIN(n_candidates) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN srn <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled,
       CAST(SUM(CASE WHEN srn <= 5 THEN kept_chars ELSE 0 END) AS BIGINT)
         AS sampled_kept_chars
FROM sampled GROUP BY lang ORDER BY lang
"""


@query(
    "corpus_prep_v2",
    _PREP2_ORACLE,
    "Round-3 capstone in ONE plan: corpus-wide chunk dedup -> per-doc "
    "novel-text mass -> 60%-survival quality gate -> novelty-weighted "
    "deterministic sample (priority = hash div kept_chars) -> per-lang "
    "stats. One chunk-hash window + per-doc rollup + doc-keyed join + "
    "bounded per-lang window",
    tags=("llm", "dedup", "sampling", "bench"),
)
def q_corpus_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    chunks = corpus_ops.chunk_documents(docs, "text", "doc_id")
    w = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
    per_doc = (
        chunks.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("rn") == 1, F.length("chunk_text")).otherwise(0)
            ).alias("kept_chars")
        )
    )
    gated = (
        docs.select("doc_id", "lang", "n_chars")
        .join(per_doc, "doc_id")
        .filter(F.col("kept_chars") * 100 >= F.col("n_chars") * 60)
        .withColumn(
            "priority",
            F.expr(
                "(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
                " % 1000000) * 1000000 div kept_chars"
            ).cast("long"),
        )
    )
    ws = Window.partitionBy("lang").orderBy("priority", "doc_id")
    wc = Window.partitionBy("lang")
    sampled = gated.select(
        "lang",
        "kept_chars",
        F.row_number().over(ws).alias("srn"),
        F.count(F.lit(1)).over(wc).alias("n_candidates"),
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.min("n_candidates").cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("srn") <= 5, 1).otherwise(0)).alias(
                "n_sampled"
            ),
            F.sum(
                F.when(F.col("srn") <= 5, F.col("kept_chars")).otherwise(0)
            ).alias("sampled_kept_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# INT8 embedding quantization audit — the storage-compression lever for
# vector corpora (4x smaller than fp32, the standard serving format).
# Quantizer: q = clamp(floor(x * S + 0.5), -127, 127) with a FIXED
# literal scale S = 127 / 0.6 (domain bound, never data-derived — same
# policy as layout.quantize), floor-based so no rounding-mode parity
# risk. The reconstruction-error rollup mirrors the engine's exact
# fold: per-vector squared error is a left-associated 64-term chain in
# BOTH engines, cross-vector sums go through DECIMAL.
# --------------------------------------------------------------------------

_Q8_DIM = 64
_Q8_SCALE = repr(127.0 / 0.6)


def _q8_term_sql(i: int) -> str:
    x = f"CAST(embedding[{i + 1}] AS DOUBLE)"
    q = (f"GREATEST(-127.0, LEAST(127.0, FLOOR({x} * {_Q8_SCALE} + 0.5)))")
    e = f"({x} - {q} / {_Q8_SCALE})"
    return f"{e} * {e}"


_Q8_ORACLE = f"""
WITH per_vec AS (
  SELECT label,
         {" + ".join(_q8_term_sql(i) for i in range(_Q8_DIM))} AS e2
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(e2 AS DECIMAL(38,30))) AS DOUBLE)
             / (COUNT(*) * {_Q8_DIM}) * 1e9, 4) AS mse_e9
FROM per_vec
GROUP BY label ORDER BY label
"""


@query(
    "int8_quant_audit",
    _Q8_ORACLE,
    "INT8 embedding quantization audit: clamp(floor(x*S + 0.5)) with a "
    "fixed literal scale (floor-based — no rounding-mode parity risk), "
    "per-label reconstruction MSE via the mirrored left-associated "
    "per-vector fold + decimal cross-vector sum — the 4x storage lever "
    "quantified",
    tags=("llm", "similarity", "audit"),
)
def q_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    S = float(_Q8_SCALE)

    def term(v):
        x = v.cast("double")
        q = F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x * F.lit(S) + F.lit(0.5))),
        )
        e = x - q / F.lit(S)
        return e * e

    e2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: acc + term(v),
    )
    per_vec = emb.select("label", e2.alias("e2"))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("e2").cast("decimal(38,30)")).cast("double")
                / (F.count(F.lit(1)) * _Q8_DIM)
                * F.lit(1e9),
                4,
            ).alias("mse_e9"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Quality-based dedup survivorship — the OTHER survivorship policy:
# first-occurrence (chunk_dedup/corpus_prep) is deterministic but
# arbitrary; retention pipelines usually keep the BEST duplicate. The
# argmax rides the group-by as a struct MAX ((quality, id) — both
# engines compare structs field-lexicographically, the id tiebreaks),
# so survivorship costs the SAME single shuffle as counting the group.
# --------------------------------------------------------------------------

_SURVIVOR_ORACLE = """
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h
  FROM documents
), dups AS (
  SELECT h, COUNT(*) AS group_size,
         MAX({'n_chars': n_chars, 'doc_id': doc_id}) AS best
  FROM fp GROUP BY h HAVING COUNT(*) > 1
)
SELECT h, group_size,
       CAST(best.doc_id AS BIGINT) AS survivor_doc_id,
       CAST(best.n_chars AS BIGINT) AS survivor_chars
FROM dups ORDER BY h
"""


@query(
    "dedup_best_survivor",
    _SURVIVOR_ORACLE,
    "Quality-based dedup survivorship: within each fingerprint-duplicate "
    "group keep the LONGEST document (struct-max argmax with id "
    "tiebreak) — the keep-the-best policy at the same one-shuffle cost "
    "as first-occurrence survivorship",
    tags=("llm", "dedup", "bench"),
)
def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 10), " "))
    grouped = (
        docs.select("doc_id", "n_chars", fp.alias("h"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.max(F.struct("n_chars", "doc_id")).alias("best"),
        )
        .filter(F.col("group_size") > 1)
    )
    return grouped.select(
        "h",
        "group_size",
        F.col("best.doc_id").cast("long").alias("survivor_doc_id"),
        F.col("best.n_chars").cast("long").alias("survivor_chars"),
    ).orderBy("h")


# --------------------------------------------------------------------------
# BPE encode-apply (r07) — the APPLY half of the tokenizer loop
# bpe_merge_learn induces: fit the same 3 deterministic merges in-plan
# (no driver collect — identical _bpe_best/_bpe_apply rounds), apply
# ALL of them to the spelled vocabulary, and report what the learned
# tokenizer buys per source: token occurrences, symbol counts before
# (chars + </w>) and after encoding, and the compression ratio in bp.
# The encode cost is vocabulary-bounded (every merge round and the
# final symbol count run over distinct words, never corpus tokens);
# the corpus is touched exactly twice — the global word count and the
# per-(source, word) count — and the vocab-keyed join is a hash join
# on the bounded spelled vocabulary.
# --------------------------------------------------------------------------

_BPE_ENCODE_ORACLE = (
    """
WITH vocab AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT a[i] AS word FROM
      (SELECT string_split(text, ' ') AS a FROM documents),
      UNNEST(generate_series(1, len(a))) AS t(i)
  ) GROUP BY word
),
s0 AS (
  SELECT word, freq,
         regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS spelled
  FROM vocab
),"""
    + ",".join(_bpe_pair_cte(t) for t in range(1, _BPE_ITERS + 1))
    + f""",
enc AS (
  SELECT word, CAST(len(string_split(spelled, ' ')) AS BIGINT) AS n_sym
  FROM s{_BPE_ITERS}
),
cnt AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, a[i] AS word FROM
      (SELECT source, string_split(text, ' ') AS a FROM documents),
      UNNEST(generate_series(1, len(a))) AS t(i)
  ) GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(c * (length(word) + 1)) AS BIGINT) AS sym_before,
       CAST(SUM(c * e.n_sym) AS BIGINT) AS sym_after,
       CAST(SUM(c * e.n_sym) * 10000 // SUM(c * (length(word) + 1))
            AS BIGINT) AS compression_bp
FROM cnt JOIN enc e USING (word)
GROUP BY source ORDER BY source
"""
)


@query(
    "bpe_encode_apply",
    _BPE_ENCODE_ORACLE,
    "BPE encode-apply: the 3 learned merges (same in-plan deterministic "
    "fit as bpe_merge_learn) applied to the spelled vocabulary, then "
    "per-source encoding stats — token occurrences, symbols before/"
    "after, compression bp; every merge round and the symbol count are "
    "vocabulary-bounded, the corpus is scanned exactly twice",
    tags=("llm", "text", "bench"),
)
def q_bpe_encode_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # docs feeds the global vocab AND the per-source counts — store the
    # scan once (rows = input docs).
    docs = checkpoint(docs)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spelled = vocab.select(
        "word",
        "freq",
        F.concat(
            F.regexp_replace("word", "(.)", "$1 "), F.lit("</w>")
        ).alias("spelled"),
    )
    # Each round's spelled relation feeds BOTH the pair argmax and the
    # rewrite; a lazy checkpoint per round stores the vocabulary-bounded
    # spellings once instead of replaying the merge chain per consumer.
    spelled = checkpoint(spelled)
    for _ in range(_BPE_ITERS):
        best = _bpe_best(spelled)
        spelled = checkpoint(_bpe_apply(spelled, best))
    enc = spelled.select(
        "word",
        F.size(F.split("spelled", " ")).cast("long").alias("n_sym"),
    )
    cnt = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        cnt.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * (F.length("word") + 1))
            .cast("long")
            .alias("sym_before"),
            F.sum(F.col("c") * F.col("n_sym")).cast("long").alias("sym_after"),
        )
        .withColumn(
            "compression_bp",
            F.expr("sym_after * 10000 div sym_before").cast("long"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-source overlap matrix (r07) — which sources carry the same
# content: distinct 10-word-prefix fingerprints per source, then the
# per-pair count of SHARED fingerprints with a containment score
# shared*1e4 div min(|A|, |B|) (1e4 = the smaller source is entirely
# contained in the other). The curation question behind mixture
# weighting and dedup policy: mirrors/scrapes show up as high-
# containment pairs before any pairwise document comparison is run.
# Shape: ONE (fp, source) distinct shuffle; the self-join key is the
# fingerprint, fan-out bounded by sources-per-fingerprint (<= |S|);
# output bounded by |S|^2. No document pairs, no text comparison.
# --------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = """
WITH fps AS MATERIALIZED (
  SELECT DISTINCT
         md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS h,
         source
  FROM documents
),
counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM fps GROUP BY 1
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fps a JOIN fps b ON b.h = a.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_shared,
       ca.n AS n_a, cb.n AS n_b,
       CAST(s.n_shared * 10000 // LEAST(ca.n, cb.n) AS BIGINT)
         AS containment_bp
FROM shared s
JOIN counts ca ON ca.source = s.src_a
JOIN counts cb ON cb.source = s.src_b
ORDER BY src_a, src_b
"""


@query(
    "source_overlap_matrix",
    _SRC_OVERLAP_ORACLE,
    "Cross-source content overlap: distinct 10-word-prefix "
    "fingerprints per source, shared-fingerprint counts per source "
    "pair + containment bp vs the smaller side — ONE (fp, source) "
    "distinct shuffle, self-join fan-out bounded by sources-per-"
    "fingerprint, output bounded by |sources|^2; the mirror/scrape "
    "detector that runs before any document-pair comparison",
    tags=("llm", "dedup", "quality", "bench"),
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 10), " "))
    fps = docs.select(fp.alias("h"), "source").distinct()
    # fps feeds the per-source counts and BOTH self-join sides.
    fps = checkpoint(fps)
    counts = fps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = fps.select("h", F.col("source").alias("src_a"))
    b = fps.select("h", F.col("source").alias("src_b"))
    shared = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(counts.select(F.col("source").alias("src_a"),
                                      F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(counts.select(F.col("source").alias("src_b"),
                                      F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("n_shared * 10000 div least(n_a, n_b)")
            .cast("long")
            .alias("containment_bp"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Incremental NEAR-DUP ingestion (r07) — the LSH-grain twin of
# incremental_dedup: a new shard (md5-bucket 20%) is screened against
# the accumulated corpus via the banded-MinHash INDEX alone — history
# contributes signatures/band-buckets (the stored index of a production
# ingest loop), never re-scanned text, and history-history pairs are
# never generated. Per-source accounting mirrors the exact-grain twin:
# near-dup-of-history, near-dup-within-shard (a smaller-id new partner,
# no history partner), ingested. One bucket-keyed shuffle generates all
# candidate pairs (text_dedup.minhash_lsh_pairs — collision-bounded
# buckets), one pair-keyed rollup classifies them.
# --------------------------------------------------------------------------


def _incr_lsh_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _TOKS,
        _lsh_bands_sql,
        _sql_shingles,
    )

    sig_cols = ", ".join(
        f"list_min(list_transform(shingles, s -> md5('{k}|' || s)))"
        f" AS sig_{k}"
        for k in range(8)
    )
    return f"""
WITH tagged AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           >= 80 AS is_new
  FROM documents
),
toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, list_distinct({_sql_shingles('toks', 2)}) AS shingles
  FROM toks
),
sigs AS (SELECT doc_id, {sig_cols} FROM sh),
buckets AS ({_lsh_bands_sql()}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b
    ON b.band_id = a.band_id AND b.bucket = a.bucket
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a AS d, id_b AS p FROM pairs
  UNION ALL
  SELECT id_b AS d, id_a AS p FROM pairs
),
nd AS (
  SELECT e.d,
         MAX(CASE WHEN NOT tp.is_new THEN 1 ELSE 0 END) AS has_hist,
         MAX(CASE WHEN tp.is_new AND e.p < e.d THEN 1 ELSE 0 END)
           AS has_smaller_new
  FROM edges e JOIN tagged tp ON tp.doc_id = e.p
  GROUP BY e.d
),
newdocs AS (
  SELECT t.source, COALESCE(nd.has_hist, 0) AS hh,
         COALESCE(nd.has_smaller_new, 0) AS hsn
  FROM tagged t LEFT JOIN nd ON nd.d = t.doc_id
  WHERE t.is_new
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
  CAST(SUM(hh) AS BIGINT) AS n_dup_history,
  CAST(SUM(CASE WHEN hh = 0 AND hsn = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_within,
  CAST(SUM(CASE WHEN hh = 0 AND hsn = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_ingested
FROM newdocs GROUP BY source ORDER BY source
"""


@query(
    "incremental_lsh_dedup",
    _incr_lsh_oracle(),
    "Incremental NEAR-dup ingestion at LSH grain: new shard (md5 20%) "
    "screened against the accumulated banded-MinHash index — history "
    "contributes signatures only (never re-scanned text); per-source "
    "near-dup-of-history / within-shard / ingested counts, one "
    "bucket-keyed pair shuffle + one per-doc classification rollup",
    tags=("llm", "dedup", "bench"),
)
def q_incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import text_dedup

    docs = spread(load_table(spark, sf_dir, "documents"))
    tagged = docs.select(
        "doc_id",
        "source",
        (corpus_ops.md5_bucket("doc_id", 100) >= 80).alias("is_new"),
    )
    # tagged feeds the partner-flag join and the per-source rollup.
    tagged = checkpoint(tagged)
    sigs = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=2
    )
    pairs = text_dedup.minhash_lsh_pairs(
        sigs, "doc_id", num_hashes=8, bands=4
    ).select("id_a", "id_b")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("d"), F.col("id_b").alias("p")),
                F.struct(F.col("id_b").alias("d"), F.col("id_a").alias("p")),
            )
        ).alias("e")
    ).select("e.d", "e.p")
    nd = (
        edges.join(
            tagged.select(
                F.col("doc_id").alias("p"), F.col("is_new").alias("p_new")
            ),
            "p",
        )
        .groupBy("d")
        .agg(
            F.max(F.when(~F.col("p_new"), 1).otherwise(0)).alias("has_hist"),
            F.max(
                F.when(F.col("p_new") & (F.col("p") < F.col("d")), 1)
                .otherwise(0)
            ).alias("has_smaller_new"),
        )
    )
    newdocs = (
        tagged.filter(F.col("is_new"))
        .join(nd, tagged["doc_id"] == nd["d"], "left")
        .select(
            "source",
            F.coalesce("has_hist", F.lit(0)).alias("hh"),
            F.coalesce("has_smaller_new", F.lit(0)).alias("hsn"),
        )
    )
    return (
        newdocs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum("hh").cast("long").alias("n_dup_history"),
            F.sum(
                F.when((F.col("hh") == 0) & (F.col("hsn") == 1), 1)
                .otherwise(0)
            ).cast("long").alias("n_dup_within"),
            F.sum(
                F.when((F.col("hh") == 0) & (F.col("hsn") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("n_ingested"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Balanced class downsampling (r10 wave 2) — the class-rebalance step a
# training pipeline runs before fitting a classifier on skewed labels:
# every language class is cut to the size of the SMALLEST class, keeping
# the md5-priority-smallest docs (deterministic: engine/rerun/cluster-
# invariant, the weighted_sample device with uniform weights). The rank
# window is KEYED by lang; the min class size is a broadcast scalar.
# Output is the per-class audit (before/after + kept-id checksum) —
# the checksum pins WHICH docs survive, not just how many.
# --------------------------------------------------------------------------

_BALANCED_DOWNSAMPLE_ORACLE = """
WITH pr AS (
  SELECT lang, doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS priority
  FROM documents
), class_sizes AS (
  SELECT lang, COUNT(*) AS cnt FROM pr GROUP BY lang
), target AS (
  SELECT MIN(cnt) AS m FROM class_sizes
), ranked AS (
  SELECT lang, doc_id, priority,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, doc_id)
           AS rn
  FROM pr
)
SELECT r.lang,
       CAST(cs.cnt AS BIGINT) AS n_before,
       CAST(COUNT(*) FILTER (WHERE r.rn <= t.m) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN r.rn <= t.m THEN r.doc_id ELSE 0 END) AS BIGINT)
         AS kept_id_sum
FROM ranked r
JOIN class_sizes cs ON cs.lang = r.lang, target t
GROUP BY r.lang, cs.cnt
ORDER BY r.lang
"""


@query(
    "balanced_class_downsample",
    _BALANCED_DOWNSAMPLE_ORACLE,
    "Deterministic balanced downsampling to the smallest language "
    "class: md5-priority rank KEYED per class, broadcast min-size "
    "scalar, per-class before/after audit with a kept-id checksum "
    "pinning exactly which docs survive — the label-rebalance step "
    "before classifier training",
    tags=("llm", "sampling", "bench"),
)
def q_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pr = docs.select(
        "lang",
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("priority"),
    )
    ranked = checkpoint(pr.select(
        "lang", "doc_id",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("priority", "doc_id"))
        .alias("rn"),
    ))  # class sizes + target + kept rollup
    class_sizes = ranked.groupBy("lang").agg(
        F.max("rn").cast("long").alias("n_before")
    )
    target = class_sizes.agg(F.min("n_before").alias("m"))
    return (
        ranked.crossJoin(F.broadcast(target))
        .groupBy("lang")
        .agg(
            F.max("rn").cast("long").alias("n_before"),
            F.sum(F.when(F.col("rn") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("rn") <= F.col("m"), F.col("doc_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("lang")
    )
