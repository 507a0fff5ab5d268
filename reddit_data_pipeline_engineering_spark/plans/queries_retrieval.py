"""Retrieval-quality operators: BM25 ranking, reciprocal-rank fusion,
and n-gram language-model familiarity scoring.

These extend the LLM-pipeline surface (SURVEY.md §2 extensions) with the
three retrieval/scoring shapes a training-data pipeline runs between
dedup and packing:

- ``bm25_topk`` — lexical retrieval over the corpus (Robertson-Spärck
  Jones BM25, the standard sparse baseline every dense retriever is
  evaluated against).
- ``rrf_fusion_topk`` — reciprocal-rank fusion (Cormack et al.,
  SIGIR'09) of two retrieval rankings; the canonical hybrid-search
  combine step.
- ``bigram_lm_familiarity`` — CCNet-style LM quality scoring (Wenzek et
  al. 2020): train an n-gram model on one hash-split, score the other;
  low-familiarity documents are the "unnatural text" a quality filter
  drops.

All scores are integer-scaled (the tfidf_topk_terms convention) so the
DuckDB oracle replays the exact arithmetic: both engines floor-divide
positive BIGINTs identically, and no float ordering enters any ranking.
At extreme corpus sizes (model totals beyond ~1e12) the scaled products
should move to DECIMAL(38,0)/HUGEINT — a type swap, not a plan change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.functions.vectors import cosine, dot, sql_dot
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, query
from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
    _DIM,
    _query_vector,
)
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

__all__ = ["REGISTRY"]


# --------------------------------------------------------------------------
# BM25 top-k. k1 = 1.2 = 6/5, b = 0.75 = 3/4 (the textbook defaults),
# cleared of float division by multiplying the per-term numerator and
# denominator by 10·W (W = total corpus tokens):
#
#   tf_sat = tf·(k1+1) / (tf + k1·(1 − b + b·L/avgdl))    avgdl = W/N
#          = 22000·tf·W // (10·W·tf + 3·W + 9·L·N)        (scaled ×1000)
#   score  = Σ_q idf_scaled · tf_sat,  idf_scaled = N·10000 // df
#
# Plan shape: one corpus scan explodes tokens and keeps only the query
# terms (a 3-element IN filter — the explode output is pruned before any
# shuffle), one (doc, term) count shuffle, document-frequency dim and
# corpus scalars broadcast, TakeOrderedAndProject for the top-k. The
# second scan is the two-scalar corpus profile (N, W) — map-only.
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "hash", "dup")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
words AS (
  SELECT doc_id, len(t) AS l, t[i] AS word
  FROM tok, UNNEST(generate_series(1, len(t))) s(i)
),
hits AS (
  SELECT doc_id, word, MAX(l) AS l, COUNT(*) AS tf
  FROM words WHERE word IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, word
),
dfreq AS (SELECT word, COUNT(*) AS df FROM hits GROUP BY word),
scal AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS w_total
  FROM tok
)
SELECT h.doc_id,
       CAST(MAX(h.l) AS BIGINT) AS doc_len,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM((s.n_docs * 10000 // d.df)
                * ((22000 * h.tf * s.w_total)
                   // (10 * s.w_total * h.tf + 3 * s.w_total
                       + 9 * h.l * s.n_docs))) AS BIGINT) AS bm25_scaled
FROM hits h JOIN dfreq d USING (word), scal s
GROUP BY h.doc_id
ORDER BY bm25_scaled DESC, h.doc_id
LIMIT 20
"""


@query(
    "bm25_topk",
    _BM25_ORACLE,
    "BM25 lexical retrieval (k1=1.2, b=0.75) for a 3-term query: token "
    "explode pruned to the query terms before the one (doc, term) "
    "shuffle, df dim + corpus scalars broadcast, integer-scaled "
    "saturation (22000·tf·W div (10·W·tf + 3·W + 9·L·N)) so the ranking "
    "is engine-exact, TakeOrderedAndProject top-20",
    tags=("llm", "text", "retrieval", "bench"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    words = tok.select(
        "doc_id", F.size("t").alias("l"), F.explode("t").alias("word")
    )
    hits = words.filter(F.col("word").isin(*_BM25_TERMS))
    tf = hits.groupBy("doc_id", "word").agg(
        F.max("l").alias("l"), F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scal = tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).cast("long").alias("w_total"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(scal))
        .withColumn(
            "term_score",
            F.expr(
                "((n_docs * 10000) div df)"
                " * ((22000 * tf * w_total)"
                "    div (10 * w_total * tf + 3 * w_total + 9 * l * n_docs))"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.max("l").cast("long").alias("doc_len"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("term_score").cast("long").alias("bm25_scaled"),
        )
        .orderBy(F.desc("bm25_scaled"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of two rankings (cosine and raw dot product)
# against the designated query vector. Each ranking is a distributed
# TakeOrderedAndProject top-100 — the single-partition row_number window
# then runs over exactly 100 rows (bounded at ANY corpus size; the
# global-window-over-the-corpus formulation would not scale and is
# deliberately avoided). RRF score = Σ 1_000_000 // (60 + rank), the
# k=60 constant from Cormack et al.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000
_RRF_DEPTH = 100

_RRF_ORACLE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine,
         ROUND({sql_dot('e.embedding', 'q.qe', _DIM)}, 6) AS dotp
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
ra AS (
  SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS r
  FROM s QUALIFY r <= {_RRF_DEPTH}
),
rb AS (
  SELECT vec_id, row_number() OVER (ORDER BY dotp DESC, vec_id) AS r
  FROM s QUALIFY r <= {_RRF_DEPTH}
)
SELECT vec_id,
       CAST(COALESCE(ra.r, 0) AS BIGINT) AS rank_cos,
       CAST(COALESCE(rb.r, 0) AS BIGINT) AS rank_dot,
       CAST(COALESCE({_RRF_SCALE} // ({_RRF_K} + ra.r), 0)
            + COALESCE({_RRF_SCALE} // ({_RRF_K} + rb.r), 0) AS BIGINT)
         AS rrf_scaled
FROM ra FULL JOIN rb USING (vec_id)
ORDER BY rrf_scaled DESC, vec_id
LIMIT 20
"""


def _ranked_topk(scored: DataFrame, score_col: str, depth: int) -> DataFrame:
    """Top-``depth`` by (score desc, vec_id) with 1-based rank attached.

    The limit is a distributed TakeOrderedAndProject; the rank window
    runs single-partition over the ``depth`` surviving rows only.
    """
    top = scored.orderBy(F.desc(score_col), "vec_id").limit(depth)
    w = Window.orderBy(F.desc(score_col), "vec_id")
    return top.select(
        "vec_id", F.row_number().over(w).cast("long").alias("r")
    )


@query(
    "rrf_fusion_topk",
    _RRF_ORACLE,
    "Reciprocal-rank fusion (Cormack SIGIR'09, k=60) of the cosine and "
    "dot-product rankings vs the query vector: each ranking is a "
    "distributed top-100 (TakeOrderedAndProject) with the rank window "
    "over only the 100 survivors, full-outer fuse on vec_id, integer "
    "1e6 div (60+rank) scoring, top-20 out",
    tags=("llm", "similarity", "retrieval", "bench"),
)
def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.lit([float(x) for x in _query_vector(emb)]).cast("array<double>")
    cand = emb.filter(F.col("vec_id") != 0)
    scored = cand.select(
        "vec_id",
        F.round(cosine(F.col("embedding"), qv), 6).alias("cosine"),
        F.round(dot(F.col("embedding"), qv), 6).alias("dotp"),
    )
    ra = _ranked_topk(scored, "cosine", _RRF_DEPTH)
    rb = _ranked_topk(scored, "dotp", _RRF_DEPTH)
    fused = ra.withColumnRenamed("r", "ra").join(
        rb.withColumnRenamed("r", "rb"), "vec_id", "full_outer"
    )
    return (
        fused.select(
            "vec_id",
            F.coalesce("ra", F.lit(0)).cast("long").alias("rank_cos"),
            F.coalesce("rb", F.lit(0)).cast("long").alias("rank_dot"),
            (
                F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + ra)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rb)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_scaled"),
        )
        .orderBy(F.desc("rrf_scaled"), "vec_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Bigram LM familiarity (CCNet-style quality scoring). The 80% md5
# hash-split trains a word-bigram count model; the held-out 20% is
# scored by mean scaled bigram probability:
#
#   p_scaled(bg) = model_count(bg) · 1e9 // model_total   (0 if unseen)
#   familiarity  = Σ p_scaled over the doc's bigrams // n_bigrams
#
# Per-bigram integer division BEFORE the per-doc sum keeps every
# intermediate under n_bigrams·1e9 — no overflow at any document length.
# The doc-bigrams ⋈ model join is a plain hash join on the bigram string
# (the model side is vocabulary-bounded here but corpus-sized in
# general — NOT broadcast by construction; AQE picks broadcast when the
# model happens to be small). Output is the bounded per-source profile.
# --------------------------------------------------------------------------

_LM_SCALE = 1_000_000_000

_BIGRAM_LM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS t,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b
  FROM documents
),
bg AS (
  SELECT doc_id, source, b, t[i] || ' ' || t[i + 1] AS bigram
  FROM tok, UNNEST(generate_series(1, len(t) - 1)) s(i)
),
model AS (
  SELECT bigram, COUNT(*) AS c FROM bg WHERE b < 80 GROUP BY bigram
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS mt FROM model),
scored AS (
  SELECT g.doc_id, g.source,
         CAST(SUM(COALESCE(m.c * {_LM_SCALE} // t.mt, 0))
              // COUNT(*) AS BIGINT) AS fam
  FROM bg g LEFT JOIN model m USING (bigram), tot t
  WHERE g.b >= 80
  GROUP BY g.doc_id, g.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(fam) // COUNT(*) AS BIGINT) AS mean_fam_scaled,
       MIN(fam) AS min_fam_scaled,
       MAX(fam) AS max_fam_scaled
FROM scored
GROUP BY source
ORDER BY source
"""


@query(
    "bigram_lm_familiarity",
    _BIGRAM_LM_ORACLE,
    "CCNet-style LM quality scoring (Wenzek et al. 2020): word-bigram "
    "counts from the 80% md5 hash-split, held-out docs scored by mean "
    "scaled bigram probability (per-bigram 1e9-scaled division, so no "
    "intermediate exceeds n_bigrams*1e9), doc-bigrams joined to the "
    "corpus-sized model on the bigram key (hash join, not broadcast by "
    "construction), bounded per-source profile out",
    tags=("llm", "text", "quality", "bench"),
)
def q_bigram_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    b = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 100
    )
    bg = docs.select(
        "doc_id",
        "source",
        b.alias("b"),
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
                "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
                "(x, y) -> concat(x, ' ', y))"
            )
        ).alias("bigram"),
    )
    model = (
        bg.filter(F.col("b") < 80)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = model.agg(F.sum("c").cast("long").alias("mt"))
    scored = (
        bg.filter(F.col("b") >= 80)
        .join(model, "bigram", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.expr(
                f"sum(coalesce((c * {_LM_SCALE}) div mt, 0)) div count(1)"
            )
            .cast("long")
            .alias("fam")
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(fam) div count(1)").cast("long").alias(
                "mean_fam_scaled"
            ),
            F.min("fam").alias("min_fam_scaled"),
            F.max("fam").alias("max_fam_scaled"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Pairwise weighted Jaccard between source word distributions — the
# corpus-mixture similarity matrix a data-curation pipeline uses to
# spot redundant sources before setting mixture weights. For count
# vectors A, B: J_W = Σ min(A_w,B_w) / Σ max(A_w,B_w), and the max-sum
# is totA + totB − Σ min — so ONE inner self-join on the word key
# (Σ min is zero for words absent from either side) computes the whole
# matrix. Candidate volume per word is #sources² — a dimension-bounded
# constant, not a corpus-scale quantity; the heavy part is the one
# (source, word) count shuffle, which is the data's own size.
# --------------------------------------------------------------------------

_WJ_SCALE = 1_000_000

_WJACCARD_ORACLE = f"""
WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
words AS (
  SELECT source, t[i] AS word
  FROM tok, UNNEST(generate_series(1, len(t))) s(i)
),
cnt AS (
  SELECT source, word, COUNT(*) AS c FROM words GROUP BY source, word
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
minsum AS (
  SELECT a.source AS src_a, b.source AS src_b,
         COUNT(*) AS n_common_words,
         CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS msum
  FROM cnt a JOIN cnt b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT m.src_a, m.src_b,
       CAST(m.n_common_words AS BIGINT) AS n_common_words,
       CAST(m.msum * {_WJ_SCALE} // (ta.n + tb.n - m.msum) AS BIGINT)
         AS wjaccard_scaled
FROM minsum m
JOIN tot ta ON ta.source = m.src_a
JOIN tot tb ON tb.source = m.src_b
ORDER BY m.src_a, m.src_b
"""


@query(
    "source_wjaccard",
    _WJACCARD_ORACLE,
    "Pairwise weighted Jaccard between source word distributions: one "
    "(source, word) count shuffle, Σmax rewritten as totA+totB−Σmin so "
    "a single inner self-join on the word key scores every source pair "
    "(per-word candidates bounded by #sources², a dimension constant), "
    "broadcast per-source totals, integer 1e6 scaling",
    tags=("llm", "text", "bench"),
)
def q_source_wjaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    cnt = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = cnt.select(
        F.col("source").alias("src_a"), "word", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("src_b"), "word", F.col("c").alias("cb")
    )
    minsum = (
        a.join(b, "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_common_words"),
            F.sum(F.least("ca", "cb")).cast("long").alias("msum"),
        )
    )
    ta = F.broadcast(tot.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    tb = F.broadcast(tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        minsum.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common_words").cast("long").alias("n_common_words"),
            F.expr(f"(msum * {_WJ_SCALE}) div (na + nb - msum)")
            .cast("long")
            .alias("wjaccard_scaled"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# Per-source vocabulary drift: a χ²-style divergence of each source's
# word-rate vector from the corpus-wide distribution, over the source's
# observed vocabulary. Rates are per-million integers (c·1e6 // n), so
# the squared deviations stay far from BIGINT limits at any corpus
# size and the oracle replays the arithmetic exactly:
#
#   drift = Σ_w (rate_s(w) − rate_corpus(w))² // (rate_corpus(w) + 1)
#
# High drift = the source's language is unlike the mixture — the same
# signal CCNet uses LM perplexity for, computable with no model and two
# bounded-width aggregates (word vocab, then #sources rows out).
# --------------------------------------------------------------------------

_DRIFT_RATE = 1_000_000

_DRIFT_ORACLE = f"""
WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
words AS (
  SELECT source, t[i] AS word
  FROM tok, UNNEST(generate_series(1, len(t))) s(i)
),
cnt AS (
  SELECT source, word, COUNT(*) AS c FROM words GROUP BY source, word
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
corpus AS (
  SELECT word, CAST(SUM(c) AS BIGINT) AS cw FROM cnt GROUP BY word
),
nall AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cnt)
SELECT s.source,
       CAST(t.n AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_vocab,
       CAST(SUM(
         ((s.c * {_DRIFT_RATE} // t.n) - (k.cw * {_DRIFT_RATE} // a.nn))
         * ((s.c * {_DRIFT_RATE} // t.n) - (k.cw * {_DRIFT_RATE} // a.nn))
         // (k.cw * {_DRIFT_RATE} // a.nn + 1)
       ) AS BIGINT) AS drift_scaled
FROM cnt s
JOIN tot t USING (source)
JOIN corpus k USING (word), nall a
GROUP BY s.source, t.n
ORDER BY s.source
"""


@query(
    "chisq_source_drift",
    _DRIFT_ORACLE,
    "χ²-style vocabulary drift per source vs the corpus mixture: one "
    "(source, word) count shuffle; per-source totals broadcast (bounded "
    "by #sources) while the corpus word dim stays a plain hash join — "
    "vocabulary grows with corpus size, AQE broadcasts it only when "
    "small; per-million integer rates so squared deviations never "
    "approach BIGINT limits, #sources rows out",
    tags=("llm", "text", "quality", "bench"),
)
def q_chisq_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    cnt = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    # cnt fans out to four consumers (tot, corpus, nall, the rate join);
    # without a materialization boundary the whole docs->explode->count
    # subtree ran TWICE (r07 stage-detail audit: duplicate 50k-record
    # spread stages AND duplicate 193.7k-record count exchanges at
    # sf1.0 — the same class the ks_source_drift probe exposed). A lazy
    # localCheckpoint runs the corpus-sized work once; what is stored
    # is the (source, word) count relation — vocabulary-bounded (Heaps'
    # law), the same volume one of the duplicated exchanges was already
    # re-shuffling.
    cnt = checkpoint(cnt)
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    corpus = cnt.groupBy("word").agg(F.sum("c").cast("long").alias("cw"))
    nall = cnt.agg(F.sum("c").cast("long").alias("nn"))
    R = _DRIFT_RATE
    return (
        cnt.join(F.broadcast(tot), "source")
        # No broadcast hint on the corpus word dim: vocabulary grows with
        # corpus size (Heaps' law), so forcing it driver-side is unbounded
        # at large SF. Plain hash join — AQE broadcasts it only when it is
        # actually small, matching q_pmi_collocations / the bigram-LM
        # model join (ADVICE r05).
        .join(corpus, "word")
        .crossJoin(F.broadcast(nall))
        .withColumn(
            "term",
            F.expr(
                f"((c * {R} div n) - (cw * {R} div nn))"
                f" * ((c * {R} div n) - (cw * {R} div nn))"
                f" div (cw * {R} div nn + 1)"
            ),
        )
        .groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("n_vocab"),
            F.sum("term").cast("long").alias("drift_scaled"),
        )
        .select(
            "source",
            F.col("n").alias("n_words"),
            F.col("n_vocab").cast("long").alias("n_vocab"),
            "drift_scaled",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Matryoshka-truncation recall (Kusupati et al., NeurIPS 2022): modern
# embedding models are trained so a PREFIX of the vector is itself a
# valid embedding; serving pipelines shortlist on the first few dims
# (prefix scan is dim_out/dim of the I/O) and re-rank exact. This
# certifies that lever on this corpus: shortlist-100 by cosine over the
# first 8 of 64 dims, exact re-rank, recall@20 vs full brute force —
# the truncation analogue of jl_recall_at_k (which needs a projection
# matrix; truncation needs none).
# --------------------------------------------------------------------------

_MRL_DIM = 8
_MRL_SHORTLIST = 100


_MRL_ORACLE = f"""
WITH q AS MATERIALIZED (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
),
short AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'q.qe', _MRL_DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _MRL_DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _MRL_DIM)})), 6)
           AS pcos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
  ORDER BY pcos DESC, e.vec_id LIMIT {_MRL_SHORTLIST}
),
scored AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
exact AS (SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20),
approx AS (
  SELECT s.vec_id FROM scored s JOIN short USING (vec_id)
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       {_MRL_DIM} AS dim_prefix,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "matryoshka_recall_at_k",
    _MRL_ORACLE,
    "Recall@20 of Matryoshka prefix-truncation ANN (shortlist-100 on "
    "the first 8 of 64 dims — 1/8th the scan I/O, no projection "
    "matrix — exact cosine re-rank) vs full brute force; the "
    "truncation counterpart of jl_recall_at_k",
    tags=("llm", "similarity", "eval", "bench"),
)
def q_matryoshka_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    pre = emb.withColumn("pre", F.slice("embedding", 1, _MRL_DIM))
    short = similarity.cosine_topk(
        pre.filter(F.col("vec_id") != 0),
        "pre",
        "vec_id",
        qvec[:_MRL_DIM],
        k=_MRL_SHORTLIST,
    ).select("vec_id")
    approx = similarity.cosine_topk(
        emb.join(short, "vec_id"), "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    exact = similarity.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).alias("k"),
        F.lit(_MRL_DIM).alias("dim_prefix"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# nDCG@k (VERDICT r05 #8): the graded-relevance metric completing the
# binary-relevance kit (recall@k / matryoshka_recall_at_k / BM25 / RRF).
# Ground truth: the exact full-dim cosine top-20, graded 3 (ranks 1-5),
# 2 (6-10), 1 (11-20) — the banded qrels a human-labelled eval set
# would supply. System under test: the RAW dim-8 Matryoshka prefix
# ranking (no re-rank), so the metric grades how much ORDER the
# truncated scan loses, complementing matryoshka_recall_at_k which only
# asks whether the re-ranked set RECOVERS membership.
#
# Log2-free integer formulation: the rank discount 1/log2(r+1) is
# precomputed ONCE here as integer weights w_r = round(1e6/log2(r+1))
# and embedded as literals in BOTH the Spark plan and the DuckDB oracle
# — at query time each engine runs pure BIGINT multiply/sum/div, so the
# score is engine-exact (the tfidf_topk_terms convention).
#
#   DCG  = Σ_{r=1..k} rel(doc at approx rank r) · w_r
#   IDCG = Σ_{r=1..k} rel(doc at exact  rank r) · w_r   (exact ranking
#          IS the ideal order: grades are monotone in exact rank)
#   ndcg_bps = DCG · 10000 div IDCG
#
# Plan shape: one embeddings scan computes both cosines (full + prefix
# — the prefix slice is free column work), two TakeOrderedAndProject
# top-20s, rank windows over 20 survivors each, one broadcast-sized
# join of the two 20-row relations, scalar aggregate out. Bounded at
# any corpus size.
# --------------------------------------------------------------------------

import math as _math

_NDCG_K = 20
_NDCG_SCALE = 1_000_000
_NDCG_W = tuple(
    int(round(_NDCG_SCALE / _math.log2(r + 1))) for r in range(1, _NDCG_K + 1)
)


def _ndcg_grade_sql(col: str) -> str:
    return f"CASE WHEN {col} <= 5 THEN 3 WHEN {col} <= 10 THEN 2 ELSE 1 END"


_NDCG_W_VALUES = ", ".join(f"({r + 1}, {w})" for r, w in enumerate(_NDCG_W))

_NDCG_ORACLE = f"""
WITH q AS MATERIALIZED (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
),
scored AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine,
         ROUND(({sql_dot('e.embedding', 'q.qe', _MRL_DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _MRL_DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _MRL_DIM)})), 6)
           AS pcos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
),
w(r, wt) AS (SELECT * FROM (VALUES {_NDCG_W_VALUES}) t(r, wt)),
rel AS (
  SELECT vec_id, r, {_ndcg_grade_sql('r')} AS rel
  FROM (SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS r
        FROM scored QUALIFY r <= {_NDCG_K})
),
approx AS (
  SELECT vec_id, row_number() OVER (ORDER BY pcos DESC, vec_id) AS r
  FROM scored QUALIFY r <= {_NDCG_K}
),
dcg AS (
  SELECT CAST(SUM(COALESCE(rel.rel, 0) * w.wt) AS BIGINT) AS dcg_scaled
  FROM approx JOIN w USING (r) LEFT JOIN rel ON approx.vec_id = rel.vec_id
),
idcg AS (
  SELECT CAST(SUM(rel.rel * w.wt) AS BIGINT) AS idcg_scaled
  FROM rel JOIN w USING (r)
)
SELECT {_NDCG_K} AS k,
       {_MRL_DIM} AS dim_prefix,
       dcg_scaled,
       idcg_scaled,
       CAST(dcg_scaled * 10000 // idcg_scaled AS BIGINT) AS ndcg_bps
FROM dcg, idcg
"""


@query(
    "ndcg_at_k",
    _NDCG_ORACLE,
    "nDCG@20 of the raw dim-8 Matryoshka prefix ranking vs banded "
    "graded relevance (3/2/1) from the exact full-dim cosine top-20: "
    "rank discounts precomputed as integer literals (no runtime log), "
    "two TakeOrderedAndProject top-20s off ONE embeddings scan, rank "
    "windows over 20 survivors, BIGINT-exact score in bps",
    tags=("llm", "similarity", "eval", "retrieval", "bench"),
)
def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    qfull = F.lit([float(x) for x in qvec]).cast("array<double>")
    qpre = F.lit([float(x) for x in qvec[:_MRL_DIM]]).cast("array<double>")
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(cosine(F.col("embedding"), qfull), 6).alias("cosine"),
        F.round(
            cosine(F.slice("embedding", 1, _MRL_DIM), qpre), 6
        ).alias("pcos"),
    )
    wts = F.array(*[F.lit(w) for w in _NDCG_W])  # 1-based via element_at
    rel = _ranked_topk(scored, "cosine", _NDCG_K).select(
        "vec_id",
        "r",
        F.when(F.col("r") <= 5, 3)
        .when(F.col("r") <= 10, 2)
        .otherwise(1)
        .alias("rel"),
    )
    approx = _ranked_topk(scored, "pcos", _NDCG_K)
    dcg = (
        approx.join(rel.select("vec_id", "rel"), "vec_id", "left")
        .select(
            (
                F.coalesce("rel", F.lit(0))
                * F.element_at(wts, F.col("r").cast("int"))
            ).alias("g")
        )
        .agg(F.sum("g").cast("long").alias("dcg_scaled"))
    )
    idcg = rel.select(
        (F.col("rel") * F.element_at(wts, F.col("r").cast("int"))).alias("g")
    ).agg(F.sum("g").cast("long").alias("idcg_scaled"))
    return dcg.crossJoin(idcg).select(
        F.lit(_NDCG_K).alias("k"),
        F.lit(_MRL_DIM).alias("dim_prefix"),
        "dcg_scaled",
        "idcg_scaled",
        F.expr("dcg_scaled * 10000 div idcg_scaled")
        .cast("long")
        .alias("ndcg_bps"),
    )


# --------------------------------------------------------------------------
# Multi-query MRR (r06): mean reciprocal rank of the dim-8 Matryoshka
# prefix ranking at recovering each query's TRUE nearest neighbor — the
# multi-query companion of ndcg_at_k (which grades one query's whole
# ranking; MRR grades many queries' top hit, the metric retrieval
# papers headline). Query set = vec_id % 25 == 2 (disjoint from the
# eval split semantic_decontamination holds out), candidates = the
# rest.
#
#   rel(q)  = argmax_c cosine64(q, c)           (exact full-dim NN)
#   rank(q) = 1 + #{c : prefix-order c before rel(q)}   (no window sort:
#             the rank is a COUNT against the NN's prefix score)
#   rr(q)   = 1e6 div rank(q) if rank <= 50 else 0
#   mrr     = sum(rr) div n_queries
#
# Plan shape: the bounded query dim is broadcast and the corpus scanned
# once per consumer (scored feeds the NN argmax and the rank count; AQE
# reuses the exchange) — same shape as semantic_decontamination. No
# per-query sort anywhere; ties break on candidate id inside the
# rounded-cosine comparison, mirrored exactly in the oracle.
# --------------------------------------------------------------------------

_MRR_Q_MOD, _MRR_Q_RES = 25, 2
# Eval sets must be BOUNDED, not a corpus fraction: the id cap freezes
# the query set at <= 200 vectors no matter how large the corpus grows
# (a real benchmark is a fixed set), keeping the Q x N scoring expansion
# LINEAR in the corpus. Without it Q = N/25 makes the expansion
# quadratic — measured wedged at sf1.0 (20k vectors) before the cap.
_MRR_Q_CAP = 5_000
_MRR_CUTOFF = 50
_MRR_SCALE = 1_000_000

_MRR_ORACLE = f"""
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {_MRR_Q_MOD} = {_MRR_Q_RES} AND vec_id < {_MRR_Q_CAP}
),
scored AS MATERIALIZED (
  SELECT q.qid, e.vec_id AS cand,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosf,
         ROUND(({sql_dot('e.embedding', 'q.qe', _MRL_DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _MRL_DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _MRL_DIM)})), 6)
           AS cosp
  FROM qs q JOIN embeddings e
    ON NOT (e.vec_id % {_MRR_Q_MOD} = {_MRR_Q_RES}
            AND e.vec_id < {_MRR_Q_CAP})
),
nn AS (
  SELECT qid, cand AS nn_id, cosp AS nn_cosp
  FROM (SELECT qid, cand, cosp,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosf DESC, cand) AS rn
        FROM scored)
  WHERE rn = 1
),
ranked AS (
  SELECT n.qid,
         1 + COUNT(*) FILTER (
               WHERE s.cosp > n.nn_cosp
                  OR (s.cosp = n.nn_cosp AND s.cand < n.nn_id)
             ) AS rank
  FROM nn n JOIN scored s ON s.qid = n.qid
  GROUP BY n.qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) FILTER (WHERE rank <= {_MRR_CUTOFF}) AS BIGINT)
         AS n_hits_at_{_MRR_CUTOFF},
       CAST(SUM(CASE WHEN rank <= {_MRR_CUTOFF}
                     THEN {_MRR_SCALE} // rank ELSE 0 END)
            // COUNT(*) AS BIGINT) AS mrr_scaled
FROM ranked
"""


@query(
    "mrr_prefix_rank",
    _MRR_ORACLE,
    "Mean reciprocal rank of the dim-8 prefix ranking at recovering "
    "each query's exact full-dim nearest neighbor, over the vec_id%25 "
    "query split: broadcast query dim, one corpus scan per consumer "
    "(argmax + rank-count — the rank is a comparison COUNT, no "
    "per-query sort), integer 1e6 div rank with a top-50 cutoff",
    tags=("llm", "similarity", "eval", "retrieval", "bench"),
)
def q_mrr_prefix_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    is_q = (F.col("vec_id") % _MRR_Q_MOD == _MRR_Q_RES) & (
        F.col("vec_id") < _MRR_Q_CAP
    )
    qs = emb.filter(is_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # spread: the Q x N scoring expansion is CPU-heavy map work riding a
    # narrow parquet scan (single-digit row groups at any test sf) —
    # without a parallelism floor it runs in 2 tasks (measured 97 s vs
    # 10.8 s at sf1.0, identical results).
    cand = spread(emb.filter(~is_q))
    scored = cand.join(F.broadcast(qs)).select(
        "qid",
        F.col("vec_id").alias("cand"),
        F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cosf"),
        F.round(
            cosine(
                F.slice("embedding", 1, _MRL_DIM), F.slice("qe", 1, _MRL_DIM)
            ),
            6,
        ).alias("cosp"),
    )
    nn = (
        scored.groupBy("qid")
        .agg(
            F.max(
                F.struct(
                    F.col("cosf"),
                    (-F.col("cand")).alias("neg_cand"),
                    F.col("cosp").alias("nn_cosp"),
                )
            ).alias("s")
        )
        .select(
            "qid",
            (-F.col("s.neg_cand")).alias("nn_id"),
            F.col("s.nn_cosp").alias("nn_cosp"),
        )
    )
    ranked = (
        scored.join(F.broadcast(nn), "qid")
        .groupBy("qid")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        (F.col("cosp") > F.col("nn_cosp"))
                        | (
                            (F.col("cosp") == F.col("nn_cosp"))
                            & (F.col("cand") < F.col("nn_id"))
                        ),
                        1,
                    ).otherwise(0)
                )
            ).alias("rank")
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum((F.col("rank") <= _MRR_CUTOFF).cast("int"))
        .cast("long")
        .alias(f"n_hits_at_{_MRR_CUTOFF}"),
        F.expr(
            f"sum(case when rank <= {_MRR_CUTOFF} then {_MRR_SCALE} div rank "
            "else 0 end) div count(1)"
        )
        .cast("long")
        .alias("mrr_scaled"),
    )


# --------------------------------------------------------------------------
# MAP@k (r06): mean average precision of the dim-8 prefix ranking against
# the exact full-dim cosine top-10 as the per-query relevant set — the
# multi-hit companion of mrr_prefix_rank (first hit only) and ndcg_at_k
# (graded, one query). For a relevant item at prefix rank r_i,
# precision@r_i = i / r_i with i its 1-based index among the query's
# relevant items in prefix order:
#
#   AP  = (Σ_{r_i <= k} i * 1e6 div r_i) div |relevant|
#   MAP = Σ AP div n_queries                                 (integer)
#
# Plan shape: the bounded query dim broadcasts, the corpus is scanned
# once, and ONE qid-keyed window shuffle carries BOTH rankings (the
# full-dim relevance rank that selects the top-10 relevant set and the
# prefix rank that is r_i itself) — windows partition per query, never
# globally. The r06 first cut computed ranks as comparison-count JOINS
# instead; that multiplied the Q x N scoring relation by the
# relevant-set size and measured 27x slower at sf1.0 — the window
# formulation replaced it (same results, oracle unchanged).
# --------------------------------------------------------------------------

_MAP_K = 50
_MAP_REL = 10

_MAP_ORACLE = f"""
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id % {_MRR_Q_MOD} = {_MRR_Q_RES} AND vec_id < {_MRR_Q_CAP}
),
scored AS MATERIALIZED (
  SELECT q.qid, e.vec_id AS cand,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosf,
         ROUND(({sql_dot('e.embedding', 'q.qe', _MRL_DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _MRL_DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _MRL_DIM)})), 6)
           AS cosp
  FROM qs q JOIN embeddings e
    ON NOT (e.vec_id % {_MRR_Q_MOD} = {_MRR_Q_RES}
            AND e.vec_id < {_MRR_Q_CAP})
),
rel AS MATERIALIZED (
  SELECT qid, cand, cosp
  FROM (SELECT qid, cand, cosp,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosf DESC, cand) AS rn
        FROM scored)
  WHERE rn <= {_MAP_REL}
),
ranked AS (
  SELECT r.qid, r.cand,
         1 + (SELECT COUNT(*) FROM scored s
              WHERE s.qid = r.qid
                AND (s.cosp > r.cosp
                     OR (s.cosp = r.cosp AND s.cand < r.cand))) AS prank,
         1 + (SELECT COUNT(*) FROM rel r2
              WHERE r2.qid = r.qid
                AND (r2.cosp > r.cosp
                     OR (r2.cosp = r.cosp AND r2.cand < r.cand))) AS relrank
  FROM rel r
),
ap AS (
  SELECT qid,
         SUM(CASE WHEN prank <= {_MAP_K}
                  THEN relrank * 1000000 // prank ELSE 0 END)
           // {_MAP_REL} AS ap_scaled,
         COUNT(*) FILTER (WHERE prank <= {_MAP_K}) AS n_hits
  FROM ranked GROUP BY qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits_total,
       CAST(SUM(ap_scaled) // COUNT(*) AS BIGINT) AS map_scaled
FROM ap
"""


@query(
    "map_at_k",
    _MAP_ORACLE,
    "MAP@50 of the dim-8 prefix ranking vs the exact full-dim top-10 "
    "relevant set per query (bounded id-capped 1-in-25 query split): "
    "ONE qid-keyed window shuffle carries the relevance rank and the "
    "prefix rank together (partitions bounded per query, never global), "
    "AP = sum(i*1e6 div r_i) div 10, BIGINT-exact",
    tags=("llm", "similarity", "eval", "retrieval", "bench"),
)
def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    is_q = (F.col("vec_id") % _MRR_Q_MOD == _MRR_Q_RES) & (
        F.col("vec_id") < _MRR_Q_CAP
    )
    qs = emb.filter(is_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # spread: the Q x N scoring expansion is CPU-heavy map work riding a
    # narrow parquet scan (single-digit row groups at any test sf) —
    # without a parallelism floor it runs in 2 tasks (measured 97 s vs
    # 10.8 s at sf1.0, identical results).
    cand = spread(emb.filter(~is_q))
    scored = cand.join(F.broadcast(qs)).select(
        "qid",
        F.col("vec_id").alias("cand"),
        F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cosf"),
        F.round(
            cosine(
                F.slice("embedding", 1, _MRL_DIM), F.slice("qe", 1, _MRL_DIM)
            ),
            6,
        ).alias("cosp"),
    )
    # ONE qid-keyed shuffle carries both rankings: the relevance rank
    # (full-dim order) selects the top-10 relevant set, the prefix rank
    # IS each item's r_i. Windows partition on qid (bounded #queries,
    # partitions never global) — measured 27x cheaper at sf1.0 than the
    # count-join formulation, whose rank join multiplied the Q x N
    # scoring relation by the relevant-set size.
    wf = Window.partitionBy("qid").orderBy(F.desc("cosf"), "cand")
    wp = Window.partitionBy("qid").orderBy(F.desc("cosp"), "cand")
    ranked_all = scored.select(
        "qid",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wp).alias("prank"),
    )
    rel = ranked_all.filter(F.col("rn_f") <= _MAP_REL)
    # within-relevant index: rank among the 10 relevant rows per query
    # by prefix order — a window over a 10-rows-per-query relation.
    wr = Window.partitionBy("qid").orderBy("prank")
    ap = (
        rel.withColumn("relrank", F.row_number().over(wr))
        .groupBy("qid")
        .agg(
            F.expr(
                f"sum(case when prank <= {_MAP_K} "
                f"then relrank * 1000000 div prank else 0 end) div {_MAP_REL}"
            ).alias("ap_scaled"),
            F.sum((F.col("prank") <= _MAP_K).cast("int")).alias("n_hits"),
        )
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hits").cast("long").alias("n_hits_total"),
        F.expr("sum(ap_scaled) div count(1)").cast("long").alias("map_scaled"),
    )


# --------------------------------------------------------------------------
# Pseudo-relevance feedback (RM3-lite, r08): the classic two-round
# retrieval expansion — run the seed query, mine expansion terms from
# the top-10 feedback documents, re-score with the widened weighted
# query. All selection happens IN PLAN (the expansion-term dim is a
# TakeOrdered top-5 broadcast, never a collect), and every score is the
# integer-scaled BM25 arithmetic of bm25_topk so both engines rank
# identically:
#
#   round 1: seed = bm25_topk's 3 terms -> top-10 docs (feedback set)
#   expand:  candidate terms = terms of the feedback docs minus seeds;
#            score_t = fb_tf(t) * (N*1e4 div df(t)), df >= 2;
#            top-5 by (score desc, term asc)
#   round 2: weighted BM25 — seed terms weight 2, expansion weight 1 —
#            TakeOrderedAndProject top-20
#
# Plan shape: the (doc, word) token stream is built once and pruned by
# BROADCAST term dims before every shuffle (the static IN prune of
# bm25_topk generalized to runtime term sets); feedback-doc and term
# dims are k-bounded (10 docs / 8 terms). The global-df pass for
# candidate terms is one distinct (doc, word) aggregate semi-joined to
# the bounded candidate dim. Magnitudes identical to bm25_topk.
# --------------------------------------------------------------------------

_PRF_FB_K = 10
_PRF_EXP_K = 5


_PRF_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
words AS (
  SELECT doc_id, len(t) AS l, t[i] AS word
  FROM tok, UNNEST(generate_series(1, len(t))) s(i)
),
scal AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS w_total
  FROM tok
),
hits1 AS (
  SELECT doc_id, word, MAX(l) AS l, COUNT(*) AS tf
  FROM words WHERE word IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, word
),
df1 AS (SELECT word, COUNT(*) AS df FROM hits1 GROUP BY word),
fb AS (
  SELECT h.doc_id
  FROM hits1 h JOIN df1 d USING (word), scal s
  GROUP BY h.doc_id
  ORDER BY SUM((s.n_docs * 10000 // d.df)
               * ((22000 * h.tf * s.w_total)
                  // (10 * s.w_total * h.tf + 3 * s.w_total
                      + 9 * h.l * s.n_docs))) DESC, h.doc_id
  LIMIT {_PRF_FB_K}
),
cand AS (
  SELECT w.word, CAST(COUNT(*) AS BIGINT) AS fbtf
  FROM words w JOIN fb ON fb.doc_id = w.doc_id
  WHERE w.word NOT IN ({_BM25_TERMS_SQL})
  GROUP BY w.word
),
gdf AS (
  SELECT dw.word, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, word FROM words) dw
  JOIN cand c ON c.word = dw.word
  GROUP BY dw.word
),
exp AS (
  SELECT c.word
  FROM cand c JOIN gdf g USING (word), scal s
  WHERE g.df >= 2
  ORDER BY c.fbtf * (s.n_docs * 10000 // g.df) DESC, c.word ASC
  LIMIT {_PRF_EXP_K}
),
qterms AS (
  SELECT word, 2 AS wgt FROM (VALUES ({_BM25_TERMS_SQL.replace("', '", "'), ('")})) v(word)
  UNION ALL
  SELECT word, 1 FROM exp
),
hits2 AS (
  SELECT w.doc_id, w.word, q.wgt, MAX(w.l) AS l, COUNT(*) AS tf
  FROM words w JOIN qterms q USING (word)
  GROUP BY w.doc_id, w.word, q.wgt
),
df2 AS (SELECT word, COUNT(*) AS df FROM hits2 GROUP BY word)
SELECT h.doc_id,
       CAST(MAX(h.l) AS BIGINT) AS doc_len,
       CAST(SUM(CASE WHEN h.wgt = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seed_terms,
       CAST(SUM(CASE WHEN h.wgt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exp_terms,
       CAST(SUM(h.wgt * (s.n_docs * 10000 // d.df)
                * ((22000 * h.tf * s.w_total)
                   // (10 * s.w_total * h.tf + 3 * s.w_total
                       + 9 * h.l * s.n_docs))) AS BIGINT) AS prf_scaled
FROM hits2 h JOIN df2 d USING (word), scal s
GROUP BY h.doc_id
ORDER BY prf_scaled DESC, h.doc_id
LIMIT 20
"""


@query(
    "prf_expansion_topk",
    _PRF_ORACLE,
    "Pseudo-relevance feedback retrieval (RM3-lite): seed BM25 top-10 "
    "feedback docs -> top-5 expansion terms by feedback-tf x idf (all "
    "selection in plan, TakeOrdered broadcast dims, never a collect) "
    "-> weighted second BM25 round (seed weight 2, expansion 1), "
    "integer-scaled arithmetic end to end, top-20",
    tags=("llm", "text", "retrieval", "bench"),
)
def q_prf_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    words = tok.select(
        "doc_id", F.size("t").alias("l"), F.explode("t").alias("word")
    )
    scal = checkpoint(tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).cast("long").alias("w_total"),
    ))
    term_score = (
        "((n_docs * 10000) div df)"
        " * ((22000 * tf * w_total)"
        "    div (10 * w_total * tf + 3 * w_total + 9 * l * n_docs))"
    )
    hits1 = words.filter(F.col("word").isin(*_BM25_TERMS))
    tf1 = hits1.groupBy("doc_id", "word").agg(
        F.max("l").alias("l"), F.count(F.lit(1)).alias("tf")
    )
    df1 = tf1.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    fb = checkpoint(
        tf1.join(F.broadcast(df1), "word")
        .crossJoin(F.broadcast(scal))
        .withColumn("term_score", F.expr(term_score))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("s1"))
        .orderBy(F.desc("s1"), "doc_id")
        .limit(_PRF_FB_K)
        .select("doc_id")
    )
    # r11 pass-count cut (guide §1.2 — the tokenize+explode stream was
    # re-built from the raw scan by FOUR full-corpus consumers; the
    # checkpointed-arrays alternative measured WORSE, row-serializing
    # the whole corpus):
    # (a) the feedback-term mine tokenizes only the 10 feedback docs —
    #     join the BROADCAST doc dim BEFORE split/explode, not after;
    fbwords = (
        docs.join(F.broadcast(fb), "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
    )
    cand = checkpoint(
        fbwords.filter(~F.col("word").isin(*_BM25_TERMS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("fbtf"))
    )
    # (b) ONE term-pruned per-(doc, word) tf pass is shared by the
    #     global-df dim AND round 2 (its checkpointed volume is the
    #     candidate hit list — what the old gdf pass alone shuffled).
    #     Pruning rides INSIDE the aggregate's input via the broadcast
    #     term dim (join key = grouping key, so join-then-aggregate is
    #     exact; Catalyst does not push joins below aggregates itself).
    seeds = None
    for t in _BM25_TERMS:
        r = spark.range(1).select(
            F.lit(t).alias("word"), F.lit(2).alias("wgt")
        )
        seeds = r if seeds is None else seeds.unionByName(r)
    tfc = checkpoint(
        words.join(
            F.broadcast(
                cand.select("word").unionByName(seeds.select("word"))
            ),
            "word",
        )
        .groupBy("doc_id", "word")
        .agg(F.max("l").alias("l"), F.count(F.lit(1)).alias("tf"))
    )
    # tfc holds one row per (doc, word-with-hit): counting rows per word
    # IS the distinct-doc df the old dedicated full pass computed.
    gdf = tfc.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    exp = checkpoint(
        cand.join(F.broadcast(gdf), "word")
        .crossJoin(F.broadcast(scal))
        .filter(F.col("df") >= 2)
        .orderBy(
            F.expr("fbtf * ((n_docs * 10000) div df)").desc(),
            F.col("word").asc(),
        )
        .limit(_PRF_EXP_K)
        .select("word")
    )
    qterms = seeds.unionByName(exp.withColumn("wgt", F.lit(1)))
    # Round 2 reads the shared tf relation (tfc already IS the
    # per-(doc, word) tf + max-l aggregate over a superset of qterms —
    # the broadcast join just prunes to the 8 final terms and attaches
    # the weight), instead of re-tokenizing the corpus a fifth time.
    tf2 = tfc.join(F.broadcast(qterms), "word").select(
        "doc_id", "word", "wgt", "l", "tf"
    )
    df2 = tf2.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf2.join(F.broadcast(df2), "word")
        .crossJoin(F.broadcast(scal))
        .withColumn("term_score", F.expr(term_score))
        .groupBy("doc_id")
        .agg(
            F.max("l").cast("long").alias("doc_len"),
            F.sum(F.when(F.col("wgt") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_seed_terms"),
            F.sum(F.when(F.col("wgt") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exp_terms"),
            F.sum(F.col("wgt") * F.col("term_score"))
            .cast("long")
            .alias("prf_scaled"),
        )
        .orderBy(F.desc("prf_scaled"), "doc_id")
        .limit(20)
    )
