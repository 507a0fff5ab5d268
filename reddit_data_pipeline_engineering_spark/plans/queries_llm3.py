"""LLM training-data pipeline queries, round 3 batch 2: exact set-
similarity join via prefix filtering (PPJoin-lite) and graded benchmark
contamination scoring.

Same contract as every registry module: idiomatic DataFrame code on the
Spark side, hand-mirrored DuckDB SQL as the oracle, integer arithmetic
in every ranking/score so value hashes match bit-for-bit. No reference
counterpart (the reference is an OpenAQ ETL); these are corpus ops a
100 TB pretraining pipeline runs between crawl and tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions.text import shingles_of, tokens
from reddit_data_pipeline_engineering_spark.functions.vectors import sql_dot
from reddit_data_pipeline_engineering_spark.operators import setsim
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

__all__ = ["REGISTRY"]

# --------------------------------------------------------------------------
# Exact set-similarity join with prefix filtering (PPJoin-lite; Bayardo
# et al. WWW'07, Chaudhuri et al. ICDE'06). The probabilistic dedup path
# (MinHash/LSH in operators/text_dedup.py) trades recall for speed; this
# is the EXACT complement: every pair with Jaccard >= t is found, no
# false negatives, yet nothing close to all-pairs work is done.
#
# Plan shape (the scale argument):
#   1. distinct (doc, shingle) pairs — one explode + hash aggregate;
#   2. shingle document-frequency dim — hash aggregate on shingle (NOT
#      broadcast: shingle vocab is O(corpus tokens) at 100 TB, so the
#      rank join shuffles on shingle, which Catalyst colocates with the
#      df build);
#   3. per-doc rank shingles rarest-first (df asc, shingle asc) — one
#      bounded window per doc;
#   4. PREFIX: keep ranks <= |d| - ceil(t*|d|) + 1. For Jaccard >= t any
#      qualifying pair MUST share a prefix shingle under a consistent
#      global order — the candidate join touches only prefix rows, and
#      rarest-first ordering makes those buckets the SMALLEST ones
#      (max bucket = max prefix-shingle df, 4 at sf0.01 vs 500 docs);
#   5. verify candidates exactly against the full shingle sets; the
#      verify fan-out is bounded by candidates x doc size, and
#      candidates are bounded by sum over prefix shingles of df^2.
# No LSH bands, no hash collisions, no recall knob: the output is the
# exact Jaccard-threshold relation.
# --------------------------------------------------------------------------

_SETSIM_T_NUM, _SETSIM_T_DEN = 1, 2  # t = 0.5
_SETSIM_SHINGLE = 5

_SETSIM_ORACLE = f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(a[i:i+{_SETSIM_SHINGLE - 1}], ' ') AS s
  FROM split, UNNEST(generate_series(1, len(a) - {_SETSIM_SHINGLE - 1})) AS t(i)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s, sz.n,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY df.df, sh.s) AS pos
  FROM sh JOIN df USING (s) JOIN sz USING (doc_id)
),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE pos <= n - (({_SETSIM_T_NUM} * n + {_SETSIM_T_DEN} - 1)
                    // {_SETSIM_T_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union,
       CAST(i.n_inter * 10000 // (sa.n + sb.n - i.n_inter) AS BIGINT)
         AS jacc_bps
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE i.n_inter * {_SETSIM_T_DEN}
      >= {_SETSIM_T_NUM} * (sa.n + sb.n - i.n_inter)
ORDER BY doc_a, doc_b
"""


@query(
    "setsim_prefix_join",
    _SETSIM_ORACLE,
    "Exact Jaccard>=0.5 set-similarity self-join via PPJoin prefix "
    "filtering: rarest-first shingle ranking, prefix-only candidate "
    "join, exact verification — zero false negatives, zero all-pairs "
    "work (the exact complement of the MinHash/LSH dedup path)",
    tags=("llm", "dedup", "bench"),
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return setsim.setsim_join(
        docs,
        "text",
        "doc_id",
        shingle_len=_SETSIM_SHINGLE,
        t_num=_SETSIM_T_NUM,
        t_den=_SETSIM_T_DEN,
    )


# --------------------------------------------------------------------------
# Containment join — the ASYMMETRIC set-similarity mode (quote / subset
# / excerpt detection): |A∩B| / |A| >= t. A short document fully quoted
# inside a long one scores 10000 bps here but low Jaccard, so neither
# symmetric join can find it. Prefix filtering is one-sided (only A's
# prefix shrinks; B indexes all its shingles — see
# operators/setsim.containment_join for the candidate bound). The
# oracle replays the one-sided prefix path so the bound itself is
# verified end-to-end, not just the final relation.
# --------------------------------------------------------------------------

_CONT_T_NUM, _CONT_T_DEN = 7, 10  # t = 0.7

_CONTAINMENT_ORACLE = f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(a[i:i+{_SETSIM_SHINGLE - 1}], ' ') AS s
  FROM split, UNNEST(generate_series(1, len(a) - {_SETSIM_SHINGLE - 1})) AS t(i)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s, sz.n,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY df.df, sh.s) AS pos
  FROM sh JOIN df USING (s) JOIN sz USING (doc_id)
),
prefix_a AS (
  SELECT doc_id, s, n FROM ranked
  WHERE pos <= n - (({_CONT_T_NUM} * n + {_CONT_T_DEN} - 1)
                    // {_CONT_T_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na
  FROM prefix_a a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.na, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b, c.na
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(na AS BIGINT) AS na,
       CAST(n_inter * 10000 // na AS BIGINT) AS cont_bps
FROM inter
WHERE n_inter * {_CONT_T_DEN} >= {_CONT_T_NUM} * na
ORDER BY doc_a, doc_b
"""


@query(
    "setsim_containment_join",
    _CONTAINMENT_ORACLE,
    "Exact containment>=0.7 join (|A inter B| / |A| — asymmetric quote/"
    "subset detection): one-sided prefix filter on the contained side, "
    "full shingle index on the container side, exact integer "
    "verification — finds excerpts that symmetric Jaccard/cosine miss",
    tags=("llm", "dedup", "bench"),
)
def q_setsim_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return setsim.containment_join(
        docs,
        "text",
        "doc_id",
        shingle_len=_SETSIM_SHINGLE,
        t_num=_CONT_T_NUM,
        t_den=_CONT_T_DEN,
    )


# --------------------------------------------------------------------------
# Graded benchmark contamination. operators/corpus.benchmark_overlap
# (query decontaminate_ngrams) answers the BINARY question "does this
# corpus doc share any shingle with the eval set"; this is the mirrored
# scoring direction a benchmark owner runs: for each EVAL doc, what
# FRACTION of its shingles already appear anywhere in the training
# corpus (n-gram overlap metric of Brown et al. GPT-3 appendix C /
# Dodge et al. C4 audit). Same one-shuffle shape as decontamination:
# distinct eval shingles semi-joined against the corpus shingle set —
# the corpus is scanned once, never collected; integer bps score.
# The eval split is deterministic (doc_id % 25 == 0) so both engines
# derive identical sets.
# --------------------------------------------------------------------------

_EVAL_OVERLAP_ORACLE = """
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(a[i:i+4], ' ') AS s
  FROM split, UNNEST(generate_series(1, len(a) - 4)) AS t(i)
),
eval_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % 25 = 0),
corpus_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 <> 0),
hits AS (
  SELECT e.doc_id, COUNT(*) AS n_overlap
  FROM eval_sh e JOIN corpus_sh c ON e.s = c.s
  GROUP BY e.doc_id
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM eval_sh GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) * 10000 // p.n_shingles AS BIGINT)
         AS overlap_bps
FROM per_doc p LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


@query(
    "eval_overlap_fraction",
    _EVAL_OVERLAP_ORACLE,
    "Graded benchmark contamination: per eval doc, the fraction (bps) of "
    "its 5-gram shingles present anywhere in the training corpus — one "
    "shingle-keyed semi-join, corpus scanned once (the scoring mirror of "
    "decontaminate_ngrams' binary drop)",
    tags=("llm", "text", "bench"),
)
def q_eval_overlap_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    sh = toked.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of("__toks", 5))).alias("s"),
    )
    eval_sh = sh.filter(F.col("doc_id") % 25 == 0)
    corpus_sh = sh.filter(F.col("doc_id") % 25 != 0).select("s").distinct()
    hits = (
        eval_sh.join(corpus_sh, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    per_doc = eval_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr("coalesce(n_overlap, 0) * 10000 div n_shingles")
            .cast("long")
            .alias("overlap_bps"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Temperature-based mixture weights (alpha = 0.5). The multilingual-
# corpus sampling scheme of XLM / mT5: sample language i proportional
# to n_i^alpha so low-resource languages are up-weighted. alpha = 1/2
# makes the weight an INTEGER-exact floor(sqrt(n)) — IEEE sqrt is
# correctly rounded in both engines and n < 2^52, so the engines agree
# bit-for-bit with no float division anywhere (shares and resampling
# factors are integer bps). One language-keyed aggregate over the
# corpus + a bounded rollup: the per-language mixture plan a 100 TB
# multilingual pipeline feeds into apply_mix_plan.
# --------------------------------------------------------------------------

_TEMP_MIX_ORACLE = """
WITH bylang AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_docs,
         CAST(FLOOR(SQRT(n_docs)) AS BIGINT) AS weight,
         CAST(SUM(n_docs) OVER () AS BIGINT) AS total_docs,
         CAST(SUM(CAST(FLOOR(SQRT(n_docs)) AS BIGINT)) OVER () AS BIGINT)
           AS total_weight
  FROM bylang
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       n_docs * 10000 // total_docs AS raw_bps,
       weight * 10000 // total_weight AS temp_bps,
       (weight * 10000 // total_weight) * 10000
         // (n_docs * 10000 // total_docs) AS resample_bps
FROM w ORDER BY lang
"""


@query(
    "temperature_mixture",
    _TEMP_MIX_ORACLE,
    "Temperature-based (alpha=0.5) multilingual mixture weights: "
    "floor(sqrt(n)) integer weights per language, raw vs smoothed "
    "share and the resampling factor in bps — one language aggregate "
    "+ bounded rollup (the XLM/mT5 sampling plan)",
    tags=("llm", "mixture", "bench"),
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bylang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    w = bylang.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.floor(F.sqrt(F.col("n_docs"))).cast("long").alias("weight"),
    ).select(
        "lang",
        "n_docs",
        "weight",
        F.sum("n_docs").over(w_all).cast("long").alias("total_docs"),
        F.sum("weight").over(w_all).cast("long").alias("total_weight"),
    )
    return w.select(
        "lang",
        "n_docs",
        F.expr("n_docs * 10000 div total_docs").alias("raw_bps"),
        F.expr("weight * 10000 div total_weight").alias("temp_bps"),
        F.expr(
            "(weight * 10000 div total_weight) * 10000"
            " div (n_docs * 10000 div total_docs)"
        ).alias("resample_bps"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# Hard-negative mining for contrastive training. For each anchor in a
# bounded deterministic anchor set (vec_id % 20 == 0): the most-similar
# SAME-label vector (the positive) and the most-similar DIFFERENT-label
# vector (the hard negative) by exact cosine. The anchor set is a
# broadcast dim, so the corpus is scanned ONCE and expanded map-side
# (|anchors| rows per vector) — the multi-query brute-force shape; the
# IVF/PQ operators are the scale path when the anchor set itself is
# unbounded. Cosine mirrors the engine's left-associated fold; ranking
# ties break on candidate id, so the argmax is engine-exact.
# --------------------------------------------------------------------------


def _build_hard_negative_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import _DIM

    return f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS ae, label AS al
  FROM embeddings WHERE vec_id % 20 = 0
),
scored AS (
  SELECT a.anchor_id,
         e.vec_id AS cand_id,
         CASE WHEN e.label = a.al THEN 'positive'
              ELSE 'hard_negative' END AS kind,
         ROUND(({sql_dot('e.embedding', 'a.ae', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('a.ae', 'a.ae', _DIM)})), 6) AS cosine
  FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id
)
SELECT anchor_id, kind, cand_id, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id, kind
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM scored)
WHERE rn = 1
ORDER BY anchor_id, kind
"""


@query(
    "hard_negative_mining",
    _build_hard_negative_oracle(),
    "Contrastive-training pair mining: per bounded anchor set, the "
    "top same-label (positive) and different-label (hard negative) "
    "vector by exact cosine — anchors broadcast, corpus scanned once "
    "with map-side expansion; IVF/PQ is the unbounded-anchor path",
    tags=("llm", "similarity", "bench"),
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("ae"),
        F.col("label").alias("al"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            F.when(F.col("label") == F.col("al"), "positive")
            .otherwise("hard_negative")
            .alias("kind"),
            F.round(cosine(F.col("embedding"), F.col("ae")), 6).alias(
                "cosine"
            ),
        )
    )
    # Struct-max argmax (max cosine, min cand_id tiebreak via negation)
    # instead of a row_number window: the top-1 reduces MAP-SIDE, so the
    # shuffle carries one partial row per (anchor, kind, partition)
    # rather than every scored pair, and no per-partition sort runs.
    s = F.max(
        F.struct(F.col("cosine"), (-F.col("cand_id")).alias("neg_id"))
    ).alias("s")
    return (
        scored.groupBy("anchor_id", "kind")
        .agg(s)
        .select(
            "anchor_id",
            "kind",
            (-F.col("s.neg_id")).cast("long").alias("cand_id"),
            F.col("s.cosine").alias("cosine"),
        )
        .orderBy("anchor_id", "kind")
    )


# --------------------------------------------------------------------------
# Semantic decontamination — the embedding-space member of the
# decontamination family (n-gram binary `decontaminate_ngrams`, n-gram
# graded `eval_overlap_fraction`, and now similarity-based): for each
# EVAL vector, the closest training-corpus vector and how many corpus
# vectors sit above the leakage threshold — paraphrased/near-duplicate
# eval leakage that no n-gram overlap can see. Same scale shape as
# hard-negative mining: the eval dim is broadcast, the corpus is
# scanned ONCE and expanded map-side; the per-eval argmax is a
# struct-max aggregate (map-side partials, no window sort). Cosine is
# rounded to 6 before ranking/thresholding on both engines, ties break
# on candidate id — engine-exact.
# --------------------------------------------------------------------------

_SEMDECON_T = 0.30  # rounded-cosine leakage threshold


def _build_semantic_decon_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import _DIM

    return f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS ee
  FROM embeddings WHERE vec_id % 20 = 1
),
scored AS (
  SELECT ev.eval_id, e.vec_id AS cand,
         ROUND(({sql_dot('e.embedding', 'ev.ee', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('ev.ee', 'ev.ee', _DIM)})), 6) AS cos
  FROM ev JOIN embeddings e ON e.vec_id % 20 <> 1
),
sel AS (
  SELECT eval_id, cand, cos,
         row_number() OVER (PARTITION BY eval_id
                            ORDER BY cos DESC, cand) AS rn,
         SUM(CASE WHEN cos >= {_SEMDECON_T} THEN 1 ELSE 0 END)
           OVER (PARTITION BY eval_id) AS n_cont
  FROM scored
)
SELECT eval_id, cand AS best_match_id, cos AS best_cosine,
       CAST(n_cont AS BIGINT) AS n_contaminating
FROM sel WHERE rn = 1 ORDER BY eval_id
"""


@query(
    "semantic_decontamination",
    _build_semantic_decon_oracle(),
    "Embedding-space eval-leakage check (the similarity member of the "
    "decontamination family): per eval vector, the nearest training "
    "vector and the count above the cosine threshold — broadcast eval "
    "dim, one corpus scan, struct-max argmax",
    tags=("llm", "similarity", "eval", "bench"),
)
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 20 == 1).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ee")
    )
    corpus = emb.filter(F.col("vec_id") % 20 != 1)
    scored = corpus.crossJoin(F.broadcast(ev)).select(
        "eval_id",
        F.col("vec_id").alias("cand"),
        F.round(cosine(F.col("embedding"), F.col("ee")), 6).alias("cos"),
    )
    best = F.max(
        F.struct(F.col("cos"), (-F.col("cand")).alias("neg_id"))
    ).alias("s")
    return (
        scored.groupBy("eval_id")
        .agg(
            best,
            F.sum(
                F.when(F.col("cos") >= _SEMDECON_T, 1).otherwise(0)
            ).alias("n_contaminating"),
        )
        .select(
            "eval_id",
            (-F.col("s.neg_id")).cast("long").alias("best_match_id"),
            F.col("s.cos").alias("best_cosine"),
            F.col("n_contaminating").cast("long"),
        )
        .orderBy("eval_id")
    )


# --------------------------------------------------------------------------
# Per-dimension embedding profile — the calibration pass an INT8
# quantizer (int8_quant_audit) needs before choosing its scale: range
# and mean per coordinate. Values enter on a fixed integer micro-grid
# (floor(x * 10^6) — the float->double widening and the double multiply
# are identical IEEE ops on both engines, floor is explicit) so every
# statistic is exact integer arithmetic. Shape: map-side posexplode
# (x64 rows) into ONE dimension-keyed aggregate with map-side partials;
# output is bounded by the dimensionality at any corpus size.
# --------------------------------------------------------------------------

_DIM_PROFILE_ORACLE = """
WITH vals AS (
  SELECT t.i - 1 AS dim,
         CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1000000.0) AS BIGINT)
           AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
)
SELECT dim,
       COUNT(*) AS n,
       MIN(v) AS min_scaled,
       MAX(v) AS max_scaled,
       CAST(SUM(v) AS BIGINT) AS sum_scaled,
       CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_scaled
FROM vals GROUP BY dim ORDER BY dim
"""


@query(
    "embedding_dim_profile",
    _DIM_PROFILE_ORACLE,
    "Per-dimension embedding range/mean on an exact 1e-6 integer grid: "
    "map-side posexplode into one dimension-keyed aggregate, output "
    "bounded by dimensionality — the INT8-quantizer calibration pass",
    tags=("llm", "similarity", "bench"),
)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x").cast("double") * 1000000.0)
        .cast("long")
        .alias("v"),
    )
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("min_scaled"),
            F.max("v").alias("max_scaled"),
            F.sum("v").cast("long").alias("sum_scaled"),
        )
        .withColumn(
            "mean_scaled", F.expr("sum_scaled div n").cast("long")
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix — the evaluation rollup of the lang_id
# heuristic against the stored language label: per (actual, predicted)
# cell counts plus the within-language share and a per-language
# accuracy flag, all integer bps. One aggregate over the per-doc
# scored relation (cells bounded by |langs|^2); the eval op a corpus
# pipeline runs before trusting a classifier gate for filtering.
# --------------------------------------------------------------------------


def _build_lang_confusion_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _lang_id_oracle,
    )

    return f"""
WITH scored AS ({_lang_id_oracle()}),
cells AS (
  SELECT lang, pred_lang, COUNT(*) AS n_docs
  FROM scored GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 10000
            // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS row_share_bps,
       lang = pred_lang AS is_diagonal
FROM cells
ORDER BY lang, pred_lang
"""


@query(
    "lang_confusion_matrix",
    _build_lang_confusion_oracle(),
    "Language-ID evaluation: confusion matrix of the marker-argmax "
    "heuristic vs stored labels, within-language shares in bps — one "
    "aggregate over the scored relation, cells bounded by |langs|^2",
    tags=("llm", "text", "bench"),
)
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import q_lang_id

    scored = q_lang_id(spark, sf_dir)
    cells = scored.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return (
        cells.select(
            "lang",
            "pred_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_docs") * 10000)
            .cast("long")
            .alias("__num"),
            F.sum("n_docs").over(w).cast("long").alias("__den"),
        )
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr("__num div __den").cast("long").alias("row_share_bps"),
            (F.col("lang") == F.col("pred_lang")).alias("is_diagonal"),
        )
        .orderBy("lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# Shard-balance audit — after deterministic md5 sharding (the layout a
# training data loader consumes), how even are the shards in documents
# AND tokens? Map-only shard assignment, one shard-keyed aggregate
# (bounded output), imbalance as max-vs-ideal in integer bps. The
# number that decides whether the shard count or the hash key needs to
# change before a 100 TB tokenization run.
# --------------------------------------------------------------------------

_SHARD_N = 16

_SHARD_BALANCE_ORACLE = rf"""
WITH assigned AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {_SHARD_N} AS shard,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
per_shard AS (
  SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY shard
)
SELECT shard, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       CAST(n_tokens * 10000 // SUM(n_tokens) OVER () AS BIGINT)
         AS token_share_bps,
       CAST(n_tokens * {_SHARD_N} * 10000 // SUM(n_tokens) OVER ()
            AS BIGINT) AS vs_ideal_bps
FROM per_shard ORDER BY shard
"""


@query(
    "shard_balance_audit",
    _SHARD_BALANCE_ORACLE,
    "Training-shard balance: md5 doc sharding (map-only) + one "
    "shard-keyed aggregate; per-shard doc/token counts, token share "
    "and deviation vs the ideal shard in bps",
    tags=("llm", "layout", "bench"),
)
def q_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        (
            F.expr("conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)")
            .cast("long")
            % _SHARD_N
        ).alias("shard"),
        token_count("text").cast("long").alias("n_tokens"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    return (
        per_shard.select(
            "shard",
            "n_docs",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("__tot"),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 10000 div __tot")
            .cast("long")
            .alias("token_share_bps"),
            F.expr(f"n_tokens * {_SHARD_N} * 10000 div __tot")
            .cast("long")
            .alias("vs_ideal_bps"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Round-3 capstone: the corpus RELEASE GATE. One Catalyst plan chains
# the four checks a corpus ships through before release — exact dedup
# (md5 first-occurrence), eval holdout + shingle decontamination (eval
# 3-gram dim, broadcast at scale), PII detection (same deterministic
# augmentation as pii_scrub_stats so counts are non-trivial), and a
# token-count quality gate — and rolls the verdicts up per source.
# Shapes: one text-hash window + one shingle semi-join + map-only
# flags + one source-keyed rollup; nothing scans the corpus twice.
# --------------------------------------------------------------------------

_RG_MIN_TOKENS = 30
_RG_MIN_OVERLAP = 5

_RELEASE_GATE_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS a
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(a) - 2)) AS t(i)
),
eval_sh AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0
),
shared AS (
  SELECT d.doc_id, COUNT(*) AS n_shared
  FROM sh d JOIN eval_sh e ON d.s = e.s
  WHERE d.doc_id % 50 <> 0
  GROUP BY d.doc_id
),
aug AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END AS t
  FROM documents
),
flags AS (
  SELECT k.doc_id, k.source,
         k.doc_id % 50 = 0 AS is_eval,
         row_number() OVER (PARTITION BY md5(k.text)
                            ORDER BY k.doc_id) > 1 AS is_dup,
         COALESCE(s.n_shared, 0) >= {_RG_MIN_OVERLAP} AS is_contaminated,
         len(regexp_extract_all(g.t, '{{EMAIL}}')) +
         len(regexp_extract_all(g.t, '{{PHONE}}')) > 0 AS has_pii,
         len(toks.a) >= {_RG_MIN_TOKENS} AS quality_ok
  FROM documents k
  JOIN toks ON k.doc_id = toks.doc_id
  JOIN aug g ON k.doc_id = g.doc_id
  LEFT JOIN shared s ON k.doc_id = s.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN is_contaminated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pii_docs,
       CAST(SUM(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_fail,
       CAST(SUM(CASE WHEN NOT is_eval AND NOT is_dup
                      AND NOT is_contaminated AND quality_ok
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_released,
       CAST(SUM(CASE WHEN NOT is_eval AND NOT is_dup
                      AND NOT is_contaminated AND quality_ok
                     THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
         AS released_bps
FROM flags GROUP BY source ORDER BY source
"""


def _release_gate_oracle() -> str:
    from reddit_data_pipeline_engineering_spark.functions import text as tx

    return _RELEASE_GATE_ORACLE.replace("{EMAIL}", tx.EMAIL_PATTERN).replace(
        "{PHONE}", tx.PHONE_PATTERN
    )


@query(
    "corpus_release_gate",
    _release_gate_oracle(),
    "Release-gate capstone: exact-dup window + eval holdout + shingle "
    "decontamination (broadcast eval dim) + PII detection + token "
    "quality gate, rolled up per source in one plan — the ship/no-ship "
    "scoreboard before a corpus release",
    tags=("llm", "prep", "bench"),
)
def q_corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.functions import text as tx

    docs = spread(load_table(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id", "source", "text", tokens("text").alias("__toks")
    )
    sh = toked.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of("__toks", 3))).alias("s"),
    )
    eval_sh = sh.filter(F.col("doc_id") % 50 == 0).select("s").distinct()
    shared = (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
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
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flags = (
        toked.withColumn("__t", F.concat(F.col("text"), email_part, phone_part))
        .withColumn("is_eval", F.col("doc_id") % 50 == 0)
        .withColumn("is_dup", F.row_number().over(w_dup) > 1)
        .join(shared, "doc_id", "left")
        .withColumn(
            "is_contaminated",
            F.coalesce("n_shared", F.lit(0)) >= _RG_MIN_OVERLAP,
        )
        .withColumn(
            "has_pii",
            (tx.email_count("__t") + tx.phone_count("__t")) > 0,
        )
        .withColumn("quality_ok", F.size("__toks") >= _RG_MIN_TOKENS)
    )
    released = (
        ~F.col("is_eval")
        & ~F.col("is_dup")
        & ~F.col("is_contaminated")
        & F.col("quality_ok")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_eval"), 1).otherwise(0))
            .cast("long")
            .alias("n_eval"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dups"),
            F.sum(F.when(F.col("is_contaminated"), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(F.when(F.col("has_pii"), 1).otherwise(0))
            .cast("long")
            .alias("n_pii_docs"),
            F.sum(F.when(~F.col("quality_ok"), 1).otherwise(0))
            .cast("long")
            .alias("n_quality_fail"),
            F.sum(F.when(released, 1).otherwise(0))
            .cast("long")
            .alias("n_released"),
        )
        .withColumn(
            "released_bps",
            F.expr("n_released * 10000 div n_docs").cast("long"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# LSH quality certification. The MinHash/LSH candidate generator
# (minhash_lsh_pairs) trades recall for join-free pair generation; the
# exact prefix-filtered join (setsim_join) is ground truth for the SAME
# similarity (3-gram shingle Jaccard, threshold 1/2 = the 4x2 banding
# scheme's S-curve midpoint). This query runs BOTH on the same corpus
# and reports candidate-set precision/recall in bps — the dedup
# analogue of the ANN recall@k certifications (ivf/pq/jl_recall_at_k):
# the number that says whether the banding knobs are safe to ship.
# Everything is deterministic (md5 minhash, exact join), so the metric
# itself is oracle-pinned.
# --------------------------------------------------------------------------


def _build_lsh_quality_oracle(where: str = "") -> str:
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _TOKS,
        _lsh_bands_sql,
        _sql_shingles,
    )

    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS toks FROM documents {where}
),
sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct({_sql_shingles('toks', 3)})) AS s
  FROM toks
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
sdf AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s, sz.n,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY sdf.df, sh.s) AS pos
  FROM sh JOIN sdf USING (s) JOIN sz USING (doc_id)
),
prefix AS (
  SELECT doc_id, s FROM ranked WHERE pos <= n - ((n + 1) // 2) + 1
),
pcand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.da, c.db, COUNT(*) AS i
  FROM pcand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.s = x.s
  GROUP BY c.da, c.db
),
exact AS MATERIALIZED (
  SELECT i.da, i.db
  FROM inter i JOIN sz sa ON i.da = sa.doc_id JOIN sz sb ON i.db = sb.doc_id
  WHERE i.i * 2 >= (sa.n + sb.n - i.i)
),
shl AS (
  SELECT doc_id, list_distinct({_sql_shingles('toks', 3)}) AS shingles
  FROM toks
),
sigs AS (
  SELECT doc_id,
    {", ".join(f"list_min(list_transform(shingles, s -> md5('{k}|' || s))) AS sig_{k}" for k in range(8))}
  FROM shl
),
buckets AS (
  {_lsh_bands_sql()}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM buckets a
  JOIN buckets b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
tp AS (SELECT COUNT(*) AS n FROM cand JOIN exact USING (da, db))
SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST(tp.n AS BIGINT) AS n_true_positives,
       CAST(tp.n * 10000 // nullif((SELECT COUNT(*) FROM cand), 0) AS BIGINT)
         AS precision_bps,
       CAST(tp.n * 10000 // nullif((SELECT COUNT(*) FROM exact), 0) AS BIGINT)
         AS recall_bps
FROM tp
"""


# Scale ceiling for the FULL-EXACT certification form (VERDICT r05 #3):
# the exact prefix-filtered ground-truth join is quadratic-ish in corpus
# candidates — measured >60 GB of shuffle / DNF at sf10 (~500k docs,
# SCALE.md §9d). The guard refuses loudly above ~sf1.0 (50k docs ran at a
# 5.0x first-decade ratio; 100k keeps 2x headroom) instead of silently
# launching a job its own SCALE.md entry says cannot finish. Production
# certifies banding parameters with lsh_quality_eval_sampled.
LSH_EXACT_MAX_DOCS = 100_000


@query(
    "lsh_quality_eval",
    _build_lsh_quality_oracle(),
    "LSH candidate-set certification: MinHash 4x2 banding vs the exact "
    "prefix-filtered Jaccard>=0.5 join on the same 3-gram shingle sets "
    "— precision/recall in bps, the dedup analogue of the ANN recall@k "
    "queries. Guarded: refuses corpora above LSH_EXACT_MAX_DOCS (the "
    "exact ground-truth join DNFs at sf10); the sampled twin is the "
    "production form",
    tags=("llm", "dedup", "eval", "bench"),
)
def q_lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents")
    n_docs = raw.count()  # parquet metadata count — no shuffle, ~ms
    if n_docs > LSH_EXACT_MAX_DOCS:
        raise ValueError(
            f"lsh_quality_eval: corpus has {n_docs} documents, above the "
            f"{LSH_EXACT_MAX_DOCS}-doc ceiling for the full-exact "
            "ground-truth join (measured DNF with >60 GB shuffle at sf10, "
            "SCALE.md §9d). Use lsh_quality_eval_sampled — the same "
            "pipeline on a deterministic 10% md5-bucket sample — to "
            "certify banding parameters at scale."
        )
    return _lsh_quality_pipeline(spread(raw))


@query(
    "lsh_quality_eval_sampled",
    _build_lsh_quality_oracle(
        where="WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 10 = 0"
    ),
    "LSH certification on a deterministic 10% md5-bucket document "
    "sample — the 100 TB form of lsh_quality_eval: the exact "
    "ground-truth join is quadratic-ish in corpus candidates (measured "
    ">60 GB of shuffle at 100x bench scale), so production certifies "
    "banding parameters on a sampled slice whose recall/precision "
    "estimate the full-corpus values; identical pipeline, same metric "
    "columns",
    tags=("llm", "dedup", "eval", "bench"),
)
def q_lsh_quality_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        md5_bucket("doc_id", 10) == 0
    )
    return _lsh_quality_pipeline(docs)


def _lsh_quality_pipeline(docs: DataFrame) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import text_dedup

    # Both legs consume the SAME 3-gram distinct-shingle sets — the
    # per-doc shingle arrays are materialized once (setsim's eager
    # checkpoint) and shared: the exact join reads them for df/prefix/
    # verification, the MinHash leg maps its 8 keyed-md5 signatures over
    # them directly (guide §1.2 — one tokenize+shingle pass, not two).
    arrs = setsim._shingle_arrays(docs, "text", "doc_id", shingle_len=3)
    exact = setsim.setsim_join(
        docs, "text", "doc_id", shingle_len=3, t_num=1, t_den=2, arrs=arrs
    ).select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db"))
    sigs = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=3,
        shingle_arrays=arrs,
    )
    cand = (
        text_dedup.minhash_lsh_pairs(sigs, "doc_id", num_hashes=8, bands=4)
        .select(F.col("id_a").alias("da"), F.col("id_b").alias("db"))
        .distinct()
    )
    # One full-outer pair alignment + ONE aggregate: the exact-join and
    # LSH pipelines each execute once, instead of once per metric branch
    # (three branches previously — the count trio replayed both
    # multi-stage subplans). The sums are coalesced to 0 so empty pair
    # sets keep COUNT semantics (SUM over an empty relation is NULL;
    # the oracle's COUNT yields 0 — ADVICE r04).
    both = exact.withColumn("is_exact", F.lit(1)).join(
        cand.withColumn("is_cand", F.lit(1)), ["da", "db"], "full_outer"
    )
    return both.agg(
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("is_exact"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("is_cand").isNotNull() & F.col("is_exact").isNotNull(),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_true_positives"),
    ).select(
        "n_candidates",
        "n_exact",
        "n_true_positives",
        # nullif: on an empty pair set (possible on small samples) the
        # metric is undefined — NULL, not a division error (Spark ANSI
        # div raises on zero).
        F.expr("n_true_positives * 10000 div nullif(n_candidates, 0)")
        .cast("long")
        .alias("precision_bps"),
        F.expr("n_true_positives * 10000 div nullif(n_exact, 0)")
        .cast("long")
        .alias("recall_bps"),
    )


# --------------------------------------------------------------------------
# Cosine set-similarity join — Bayardo et al.'s ORIGINAL all-pairs
# metric (binary cosine i / sqrt(na*nb)), alongside the Jaccard form.
# The prefix bound differs: cos >= t only forces an overlap of
# ceil(t^2 * |d|) (via i >= t*sqrt(na*nb) >= t*sqrt(na*i)), so the
# prefix is longer at the same nominal threshold — cosine is the laxer
# metric and the candidate set grows accordingly; verification squares
# the inequality (i^2 * den^2 >= num^2 * na * nb) so no sqrt or float
# ever runs. Same shapes as the Jaccard join otherwise.
# --------------------------------------------------------------------------

_SETSIM_COS_NUM, _SETSIM_COS_DEN = 7, 10  # t = 0.7

_SETSIM_COS_ORACLE = f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(a[i:i+{_SETSIM_SHINGLE - 1}], ' ') AS s
  FROM split, UNNEST(generate_series(1, len(a) - {_SETSIM_SHINGLE - 1})) AS t(i)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s, sz.n,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY df.df, sh.s) AS pos
  FROM sh JOIN df USING (s) JOIN sz USING (doc_id)
),
prefix AS (
  SELECT doc_id, s, n FROM ranked
  WHERE pos <= n - (({_SETSIM_COS_NUM ** 2} * n + {_SETSIM_COS_DEN ** 2} - 1)
                    // {_SETSIM_COS_DEN ** 2}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.n AS na, b.n AS nb
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.na, c.nb, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b, c.na, c.nb
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_inter * n_inter * 1000000 // (na * nb) AS BIGINT) AS cos2_ppm
FROM inter
WHERE n_inter * n_inter * {_SETSIM_COS_DEN ** 2}
      >= {_SETSIM_COS_NUM ** 2} * na * nb
ORDER BY doc_a, doc_b
"""


@query(
    "setsim_cosine_join",
    _SETSIM_COS_ORACLE,
    "Exact cosine>=0.7 set-similarity self-join (Bayardo's all-pairs "
    "metric): t^2 prefix bound, squared-integer verification (no sqrt, "
    "no float) — the laxer-metric twin of the Jaccard prefix join",
    tags=("llm", "dedup", "bench"),
)
def q_setsim_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return setsim.setsim_join(
        docs,
        "text",
        "doc_id",
        shingle_len=_SETSIM_SHINGLE,
        t_num=_SETSIM_COS_NUM,
        t_den=_SETSIM_COS_DEN,
        metric="cosine",
    )
