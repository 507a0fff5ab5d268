"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

Engine extensions beyond the reference surface (BASELINE.json north star):
every operator a large-scale training-data pipeline needs, expressed
Spark-first over the `documents` (text) and `embeddings` (array<float>)
tables, each with a DuckDB oracle.

Portability conventions (so value-hashes match):
- hashes are md5 (not Spark murmur3) — identical hex strings both engines;
- MinHash permutations = min over keyed md5 strings (statistically
  equivalent to k hash functions, exactly reproducible in SQL);
- DuckDB `len()`/`length()` return BIGINT where Spark `size()/length()`
  return INT — oracles cast to INTEGER;
- DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  replace-all semantics;
- dot products are explicit left-to-right element sums in SQL, matching
  Spark's sequential `F.aggregate` fold bit-for-bit (0.0 + x == x).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions import text as tx
from reddit_data_pipeline_engineering_spark.functions.vectors import cosine, sql_dot
from reddit_data_pipeline_engineering_spark.operators import (
    components,
    dedup,
    similarity,
    text_dedup,
    topk,
)
from reddit_data_pipeline_engineering_spark.plans.queries import query
from reddit_data_pipeline_engineering_spark.sources.tables import load_table, spread

# DuckDB token-array expression shared by the oracle CTEs (mirrors
# functions.text.tokens: trim -> whitespace split -> drop empties).
_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"


def _query_vector(emb: DataFrame) -> list[float]:
    """The designated query vector (``vec_id == 0``) as a Python list.

    One bounded 1-row fetch (parquet predicate pushdown on the vec_id
    filter). The literal list is genuinely needed driver-side — it
    becomes codegen'd distance-expression literals and probe-cluster
    selections — so this is the single sanctioned ``.head()`` in the
    ANN family (VERDICT r03 #4: one definition instead of nine copies).
    """
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]


def _sql_shingles(toks: str, n: int) -> str:
    """DuckDB word n-gram shingles mirroring functions.text.shingles."""
    return (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query(
    "exact_dedup",
    _EXACT_DEDUP_ORACLE,
    "Exact content dedup via md5 hash-groupBy: one shuffle on a 128-bit "
    "key with map-side combine — the canonical 100 TB exact-dedup plan",
    tags=("llm", "dedup", "bench"),
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_hash_dedup(docs, "text", "doc_id")


_MINHASH_SIG_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, list_distinct({_sql_shingles('toks', 2)}) AS shingles FROM toks
)
SELECT doc_id,
  {", ".join(f"list_min(list_transform(shingles, s -> md5('{k}|' || s))) AS sig_{k}" for k in range(8))}
FROM sh
"""


@query(
    "minhash_signatures",
    _MINHASH_SIG_ORACLE,
    "Per-document MinHash signature (8 keyed-md5 mins over word 2-gram "
    "shingles) — pure column expressions, zero shuffles: a map-only pass "
    "fused into the scan at any scale",
    tags=("llm", "dedup", "bench"),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the md5-per-shingle signature map is CPU-bound and the
    # single-row-group parquet scan would run it on ~4 tasks (guide §2.4
    # parallelism floor; no-op at scale).
    docs = spread(load_table(spark, sf_dir, "documents"))
    return text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=2
    )


def _lsh_bands_sql() -> str:
    bands = []
    for b in range(4):
        s0, s1 = f"sig_{2 * b}", f"sig_{2 * b + 1}"
        bands.append(
            f"SELECT doc_id, {b} AS band_id, md5({s0} || '|' || {s1}) AS bucket FROM sigs"
        )
    return " UNION ALL ".join(bands)


_MINHASH_LSH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, list_distinct({_sql_shingles('toks', 2)}) AS shingles FROM toks
), sigs AS (
  SELECT doc_id,
    {", ".join(f"list_min(list_transform(shingles, s -> md5('{k}|' || s))) AS sig_{k}" for k in range(8))}
  FROM sh
), buckets AS (
  {_lsh_bands_sql()}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands_matched
FROM buckets a
JOIN buckets b
  ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@query(
    "minhash_lsh_pairs",
    _MINHASH_LSH_ORACLE,
    "Banded-LSH near-duplicate candidate pairs (4 bands x 2 rows): the "
    "shuffle is keyed on (band, bucket), so candidate generation never "
    "does all-pairs work",
    tags=("llm", "dedup", "bench"),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the md5-per-shingle signature map is CPU-bound and the
    # single-row-group parquet scan would run it on ~4 tasks (guide §2.4
    # parallelism floor; no-op at scale).
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigs = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=2
    )
    return text_dedup.minhash_lsh_pairs(sigs, "doc_id", num_hashes=8, bands=4)


_JACCARD_MAX_SHINGLE_FREQ = 5

_JACCARD_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct({_sql_shingles('toks', 3)})) AS shingle FROM toks
), sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
), kept AS MATERIALIZED (
  -- stop-shingle cap mirror: shingles shared by more than
  -- {_JACCARD_MAX_SHINGLE_FREQ} docs are dropped before pair generation
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) <= {_JACCARD_MAX_SHINGLE_FREQ}
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN kept k ON a.shingle = k.shingle
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common,
       sa.set_size AS size_a, sb.set_size AS size_b,
       n_common / (sa.set_size + sb.set_size - n_common) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
ORDER BY jaccard DESC, id_a, id_b
LIMIT 20
"""


@query(
    "ngram_jaccard_topk",
    _JACCARD_ORACLE,
    "Exact word-3-gram Jaccard for shingle-sharing pairs, top-20: "
    "explode distinct shingles -> group by shingle with stop-shingle cap "
    f"(df > {_JACCARD_MAX_SHINGLE_FREQ} dropped, count observed in-plan) "
    "-> map-side pair explode -> intersection counts. The cap bounds the "
    "f^2 per-shingle pair blow-up at scale.",
    tags=("llm", "dedup", "bench"),
)
def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: shingling is per-row CPU ahead of the first shuffle; a
    # single-row-group scan would serialize it (no-op once the input has
    # >= core splits — the cluster case).
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = text_dedup.jaccard_candidate_pairs(
        docs,
        "text",
        "doc_id",
        shingle_len=3,
        max_shingle_freq=_JACCARD_MAX_SHINGLE_FREQ,
    )
    return topk.top_k(
        pairs,
        [F.col("jaccard").desc(), F.col("id_a").asc(), F.col("id_b").asc()],
        20,
    )


def _simhash_oracle(bits: int = 32) -> str:
    bit_sums = ",\n    ".join(
        f"SUM(cnt * (CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) AS b{i}"
        for i in range(bits)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), counted AS (
  SELECT doc_id, tok, COUNT(*) AS cnt,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM tok GROUP BY doc_id, tok
), bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM counted GROUP BY doc_id
)
SELECT doc_id, ({bit_terms}) AS simhash FROM bits
"""


@query(
    "simhash",
    _simhash_oracle(32),
    "32-bit SimHash per document (md5-derived bit planes, token-count "
    "weighted majority): explode + one doc-keyed shuffle with partial agg",
    tags=("llm", "dedup", "bench"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the md5-per-shingle signature map is CPU-bound and the
    # single-row-group parquet scan would run it on ~4 tasks (guide §2.4
    # parallelism floor; no-op at scale).
    docs = spread(load_table(spark, sf_dir, "documents"))
    return text_dedup.simhash(docs, "text", "doc_id", bits=32)


_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE toks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct({_sql_shingles('toks', 2)}) AS shingles FROM toks
), sigs AS MATERIALIZED (
  SELECT doc_id,
    {", ".join(f"list_min(list_transform(shingles, s -> md5('{k}|' || s))) AS sig_{k}" for k in range(8))}
  FROM sh
), buckets AS MATERIALIZED (
  {_lsh_bands_sql()}
), pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT a AS id, a AS lbl FROM edges
  UNION
  SELECT e.a AS id, r.lbl FROM edges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
)
SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
FROM comp GROUP BY component
"""


@query(
    "dup_clusters_star",
    _DUP_CLUSTERS_ORACLE,
    "Alias of dup_clusters (same function, same oracle), kept so the "
    "registered name and its bench history stay",
    tags=("llm", "dedup", "iterative", "bench"),
)
@query(
    "dup_clusters",
    _DUP_CLUSTERS_ORACLE,
    "Duplicate-cluster election: LSH candidate pairs -> connected "
    "components via the large-star/small-star contraction (Kiveris et "
    "al. SoCC'14; O(log n) lineage-cut rounds, or one bounded driver "
    "union-find once the edge list fits the driver-finish cap) -> "
    "per-cluster canonical id. The oracle computes the same components "
    "with a recursive-CTE transitive closure.",
    tags=("llm", "dedup", "iterative", "bench"),
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the md5-per-shingle signature map is CPU-bound and the
    # single-row-group parquet scan would run it on ~4 tasks (guide §2.4
    # parallelism floor; no-op at scale).
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigs = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=2
    )
    pairs = text_dedup.minhash_lsh_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    return components.duplicate_clusters(pairs)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = rf"""
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
  CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_nonspace_chars,
  CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER)
    / CAST(len({_TOKS}) AS INTEGER) AS avg_token_len
FROM documents
"""


@query(
    "token_stats",
    _TOKEN_STATS_ORACLE,
    "Token counting per document (whitespace tokenizer): char/token/"
    "distinct-token counts and mean token length, all JVM expressions",
    tags=("llm", "text", "bench"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    ntok = tx.token_count("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        ntok.alias("n_tokens"),
        tx.distinct_token_count("text").alias("n_distinct_tokens"),
        nonspace.alias("n_nonspace_chars"),
        (nonspace / ntok).alias("avg_token_len"),
    )


_STOP_PATTERN = r"\b(" + "|".join(tx.STOPWORDS) + r")\b"

_QUALITY_ORACLE = rf"""
WITH base AS (
  SELECT doc_id,
    CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
    CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct,
    CAST(len(regexp_extract_all(text, '{_STOP_PATTERN}')) AS INTEGER) AS n_stopwords
  FROM documents
)
SELECT doc_id, n_tokens, n_distinct, n_stopwords,
  n_distinct / n_tokens AS distinct_ratio,
  n_stopwords / n_tokens AS stopword_ratio,
  ROUND(0.6 * (n_distinct / n_tokens) + 0.4 * (1.0 - (n_stopwords / n_tokens)), 6) AS quality_score
FROM base
"""


@query(
    "quality_score",
    _QUALITY_ORACLE,
    "Document quality scoring: lexical-diversity + stopword-density "
    "composite (training-data filter heuristic), pure expressions",
    tags=("llm", "text", "bench"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.distinct_token_count("text").alias("n_distinct"),
        tx.stopword_count("text").alias("n_stopwords"),
    )
    dr = F.col("n_distinct") / F.col("n_tokens")
    sr = F.col("n_stopwords") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "n_stopwords",
        dr.alias("distinct_ratio"),
        sr.alias("stopword_ratio"),
        F.round(F.lit(0.6) * dr + F.lit(0.4) * (F.lit(1.0) - sr), 6).alias(
            "quality_score"
        ),
    )


_LANGS = tuple(tx.LANG_MARKERS)  # fixed order: en, es, de, fr, zh


def _lang_id_oracle() -> str:
    score_cols = ",\n    ".join(
        rf"CAST(len(regexp_extract_all(text, '\b({'|'.join(m)})\b')) AS INTEGER) AS s_{lang}"
        for lang, m in tx.LANG_MARKERS.items()
    )
    cases = []
    langs = list(_LANGS)
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs[i + 1:])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    pred = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH scores AS (
  SELECT doc_id, lang,
    {score_cols}
  FROM documents
)
SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
       {pred} AS pred_lang,
       ({pred}) = lang AS is_match
FROM scores
"""


@query(
    "lang_id",
    _lang_id_oracle(),
    "Heuristic language ID: per-language marker-token counts, first-max "
    "argmax (n-gram heuristic family; deterministic + SQL-mirrorable)",
    tags=("llm", "text", "bench"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = docs.select(
        "doc_id",
        "lang",
        *[
            F.size(
                F.regexp_extract_all(
                    F.col("text"),
                    F.lit(r"\b(" + "|".join(m) + r")\b"),
                    F.lit(0),
                )
            ).alias(f"s_{lang}")
            for lang, m in tx.LANG_MARKERS.items()
        ],
    )
    langs = list(_LANGS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for o in langs[i + 1:]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = (
            F.when(cond, F.lit(lang))
            if pred is None
            else pred.when(cond, F.lit(lang))
        )
    pred = pred.otherwise(F.lit(langs[-1]))
    return scores.select(
        "doc_id",
        "lang",
        "s_en",
        "s_es",
        "s_de",
        "s_fr",
        "s_zh",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


_FINGERPRINT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
)
SELECT doc_id,
  md5(array_to_string(list_transform(toks, t -> lower(t)), ' ')) AS fp_full,
  list_min(list_transform({_sql_shingles('toks', 5)}, s -> md5(s))) AS fp_winnow
FROM toks
"""


@query(
    "fingerprint",
    _FINGERPRINT_ORACLE,
    "Document fingerprinting: whole-text md5 over the normalized token "
    "stream + winnowing-lite min-hash over rolling word 5-grams",
    tags=("llm", "text"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tx.tokens("text").alias("__toks"))
    return toked.select(
        "doc_id",
        tx.full_fingerprint_of("__toks").alias("fp_full"),
        tx.winnow_fingerprint_of("__toks", 5).alias("fp_winnow"),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing through the driver gate. The Spark side does the
# REAL work (binary payloads -> Arrow-batched mapInPandas decode); the
# synthetic payload is a closed-form function of asset_id (see
# sources/multimodal.py: pixel j of asset i is (i*31 + j*7) % 256), so
# DuckDB can recompute the decoded stats arithmetically and oracle the
# profile without ever seeing the binaries. Batch shapes are additionally
# asserted in tests/test_multimodal.py.
# --------------------------------------------------------------------------

_MM_N_ASSETS = 120
_MM_MAX_PX = 12 * 9  # max (8 + i%5) * (6 + i%4)

# r06 (VERDICT r05 #6): the profile now runs over the MIXED-container
# asset table (synthetic/wav/ppm/jpeg/png/flac, all real containers) and
# aggregates the header-only probe output per container — dimensions for
# image formats, PCM layout/duration for audio formats — plus the decode
# mean-intensity for the one decodable (synthetic) format. Every probed
# value is closed-form in the asset id (synthesize_media_assets
# docstring), so DuckDB replays the whole thing arithmetically.
_MULTIMODAL_ORACLE = f"""
WITH ids AS (
  SELECT unnest(range({_MM_N_ASSETS})) AS i
), base AS (
  SELECT i,
         ['synthetic','wav','ppm','jpeg','png','flac'][(i % 6) + 1]
           AS container,
         8 + i % 5 AS w, 6 + i % 4 AS h,
         8000 + 1000 * (i % 3) AS sr, 500 + 10 * i AS ns
  FROM ids
), probe AS (
  -- mirror of sources/multimodal.probe_media over the closed-form
  -- container parameters
  SELECT i, container,
         CASE WHEN container IN ('synthetic','ppm','jpeg','png')
              THEN w END AS width,
         CASE WHEN container IN ('synthetic','ppm','jpeg','png')
              THEN h END AS height,
         CASE WHEN container IN ('wav','flac') THEN ns END AS n_samples,
         CASE WHEN container IN ('wav','flac') THEN ns * 1000 // sr
              END AS duration_ms
  FROM base
), series AS (
  SELECT unnest(range({_MM_MAX_PX})) AS j
), intensity AS (
  -- mirror of decode_payload over the synthetic payload generator:
  -- exact integer pixel sum, then one double divide
  SELECT b.i, SUM((b.i * 31 + s.j * 7) % 256) / COUNT(*) AS mi
  FROM base b JOIN series s ON s.j < b.w * b.h
  WHERE b.container = 'synthetic'
  GROUP BY b.i
)
SELECT p.container,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COUNT(p.width) AS BIGINT) AS n_dims,
       CAST(SUM(p.width * p.height) AS BIGINT) AS total_px,
       CAST(SUM(p.n_samples) AS BIGINT) AS total_samples,
       CAST(SUM(p.duration_ms) AS BIGINT) AS total_duration_ms,
       ROUND(CAST(SUM(CAST(it.mi AS DECIMAL(24,18))) AS DOUBLE)
             / COUNT(it.mi), 4) AS avg_intensity
FROM probe p LEFT JOIN intensity it USING (i)
GROUP BY p.container
ORDER BY p.container
"""


@query(
    "multimodal_decode_profile",
    _MULTIMODAL_ORACLE,
    "Multimodal asset pipeline: synthesize mixed-container binary assets "
    "(real WAV/PPM/JPEG/PNG/FLAC + synthetic) -> Arrow-batched "
    "mapInPandas header probe (dimensions / PCM layout / duration, no "
    "decode) + decode of the one decodable format -> per-container "
    "profile; the oracle replays the closed-form probe arithmetic "
    "(sources/multimodal.py; full compressed-codec decode is the only "
    "remaining stub)",
    tags=("llm", "multimodal"),
)
def q_multimodal_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    probed = mm.probe_assets(assets)
    # Only the synthetic format is decodable in this environment; its
    # rows are asset_id % 6 == 0 by construction (closed form — no join
    # against probe output needed to find them).
    intensity = mm.decode_assets(
        assets.filter(F.col("asset_id") % 6 == 0)
    ).select("asset_id", "mean_intensity")
    return (
        probed.join(intensity, "asset_id", "left")
        .groupBy("container")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.count("width").cast("long").alias("n_dims"),
            F.sum(F.col("width") * F.col("height"))
            .cast("long")
            .alias("total_px"),
            F.sum("n_samples").cast("long").alias("total_samples"),
            F.sum("duration_ms").cast("long").alias("total_duration_ms"),
            # decimal-cast sum: summation-order-independent, so the avg is
            # bit-identical to the oracle's regardless of partitioning
            F.round(
                F.sum(F.col("mean_intensity").cast("decimal(24,18)")).cast(
                    "double"
                )
                / F.count("mean_intensity"),
                4,
            ).alias("avg_intensity"),
        )
        .orderBy("container")
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_DIM = 64


_COSINE_TOPK_ORACLE = f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
             / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


@query(
    "cosine_topk",
    _COSINE_TOPK_ORACLE,
    "Brute-force cosine top-k vs a query vector (ANN correctness "
    "baseline): map-only scan + TakeOrderedAndProject, one pass at any "
    "scale",
    tags=("llm", "similarity", "bench"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, "embedding", "vec_id", _query_vector(emb), k=20
    )


_EMB_PAIR_THRESHOLD = 0.0

_BLOCKED_PAIRS_ORACLE = f"""
WITH scored AS (
  SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(({sql_dot('a.embedding', 'b.embedding', _DIM)})
               / (sqrt({sql_dot('a.embedding', 'a.embedding', _DIM)})
                  * sqrt({sql_dot('b.embedding', 'b.embedding', _DIM)})), 6) AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
), pruned AS (
  SELECT * FROM scored
  WHERE cosine >= {_EMB_PAIR_THRESHOLD}
  QUALIFY row_number() OVER (
    PARTITION BY blk ORDER BY cosine DESC, id_a, id_b
  ) <= 50
)
SELECT blk, id_a, id_b, cosine FROM pruned
ORDER BY cosine DESC, id_a, id_b
LIMIT 50
"""


@query(
    "embedding_blocked_topk",
    _BLOCKED_PAIRS_ORACLE,
    "IVF-style embedding near-duplicate search: pairs compared only "
    "within a coarse block (label as the centroid id) — O(sum b^2) "
    "instead of O(n^2), shuffle keyed on the block; a similarity "
    "threshold plus per-block top-k pruning (row_number on the join's "
    "own partitioning, no extra exchange) bounds what reaches the "
    "global top-k",
    tags=("llm", "similarity", "bench"),
)
def q_embedding_blocked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_neardup_pairs(
        emb,
        "embedding",
        "vec_id",
        "label",
        threshold=_EMB_PAIR_THRESHOLD,
        per_block_topk=50,
        # ~10 coarse blocks cap the quadratic scoring at 10-way
        # parallelism; 8 salt slices make it 80-way. The per-slice top-k
        # is a superset of the per-block top-k, so the global top-50
        # below (total-order tiebreak) is unchanged.
        salt=8,
    )
    return topk.top_k(
        pairs,
        [F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()],
        50,
    )


_IVF_PROBE_ORACLE = f"""
WITH q AS (
  SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id,
       ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
             / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine
FROM embeddings e CROSS JOIN q
WHERE e.label = q.ql AND e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


@query(
    "ivf_probe_topk",
    _IVF_PROBE_ORACLE,
    "IVF probed ANN: the query's coarse block prunes candidates via a "
    "pushed scan filter before any vector math; exact cosine top-k within "
    "the probe (production: k-means centroids, multi-probe — same plan)",
    tags=("llm", "similarity", "bench"),
)
def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_probe_topk(
        emb, "embedding", "vec_id", "label", query_id=0, k=20
    )


_EMB_THRESHOLD = 0.6

_EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(({sql_dot('a.embedding', 'b.embedding', _DIM)})
              / (sqrt({sql_dot('a.embedding', 'a.embedding', _DIM)})
                 * sqrt({sql_dot('b.embedding', 'b.embedding', _DIM)})), 6) >= {_EMB_THRESHOLD}
), edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT a AS id, a AS lbl FROM edges
  UNION
  SELECT e.a AS id, r.lbl FROM edges e JOIN reach r ON e.b = r.id
), comp AS (
  SELECT id, MIN(lbl) AS component FROM reach GROUP BY id
)
SELECT e.vec_id
FROM embeddings e
LEFT JOIN comp c ON e.vec_id = c.id
WHERE c.id IS NULL OR c.component = e.vec_id
ORDER BY e.vec_id
"""


@query(
    "semantic_dedup_survivors",
    _EMB_CLUSTERS_ORACLE,
    "End-to-end semantic dedup: blocked cosine pairs above threshold -> "
    "connected components (star contraction, or the bounded driver "
    "union-find under the driver-finish cap) -> keep singletons + one "
    "canonical per cluster. The actual keep-set a training-data dedup "
    "pass emits.",
    tags=("llm", "dedup", "similarity", "iterative"),
)
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_neardup_pairs(
        emb, "embedding", "vec_id", "label", threshold=_EMB_THRESHOLD
    )
    comp = components.connected_components(pairs, "id_a", "id_b")
    ids = emb.select("vec_id")
    dropped = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    return ids.join(dropped, "vec_id", "left_anti").orderBy("vec_id")


_ANN_LSH_ORACLE = f"""
SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM (
  SELECT vec_id, {similarity.sql_lsh_bucket('embedding')} AS bucket
  FROM embeddings)
GROUP BY bucket
ORDER BY bucket
"""


@query(
    "ann_lsh_buckets",
    _ANN_LSH_ORACLE,
    "Sign-projection LSH bucketing for ANN candidate generation: "
    "8-bit bucket code per vector (fixed coordinate projections), "
    "bucket histogram — equi-join on bucket replaces pairwise math",
    tags=("llm", "similarity"),
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id", similarity.lsh_bucket(F.col("embedding")).alias("bucket")
    )
    return (
        coded.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Deterministic sampling / dataset splits — training-data pipelines must
# sample REPRODUCIBLY (stable across reruns, engines, and cluster sizes),
# which df.sample()'s seeded RNG is not (partition-dependent). The
# production pattern: hash the stable id into buckets and select ranges.
# Map-only (fused into the scan), trivially parallel at any scale.
# --------------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b,
         lang, n_chars
  FROM documents)
GROUP BY 1
ORDER BY split
"""


@query(
    "hash_split_stats",
    _SPLIT_ORACLE,
    "Deterministic train/val/test split (md5-bucket ranges 80/10/10 on "
    "doc_id): the id->split assignment is a pure map expression, so the "
    "split is identical on any engine, cluster size, or rerun — the "
    "reproducibility contract dataset cards require",
    tags=("llm", "sampling", "bench"),
)
def q_hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return (
        docs.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


_STRATIFIED_ORACLE = """
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(SUM(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % 100 < 20 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4)
         AS sampled_pct
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query(
    "stratified_sample",
    _STRATIFIED_ORACLE,
    "Stratified deterministic 20% sample per language stratum (md5-bucket "
    "< 20): one conditional-count pass audits the realized rate per "
    "stratum — no second scan, no RNG, no skewed-partition bias",
    tags=("llm", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    in_sample = F.when(b < 20, 1).otherwise(0)
    n_sampled = F.sum(in_sample)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            n_sampled.alias("n_sampled"),
            F.round(n_sampled * 100.0 / F.count(F.lit(1)), 4).alias(
                "sampled_pct"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# ANN evaluation: recall@k of the probed IVF search vs exact brute force.
# Search QUALITY is part of the similarity surface — an ANN path without a
# measured recall is unshippable. Both rankings are deterministic
# (round-6 cosine, vec_id tiebreak), so the recall itself is oracle-exact.
# --------------------------------------------------------------------------

_IVF_RECALL_ORACLE = f"""
WITH q AS (
  SELECT embedding AS qe, label AS ql FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         ROUND(({sql_dot('e.embedding', 'q.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('q.qe', 'q.qe', _DIM)})), 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
), exact AS (
  SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
), probed AS (
  SELECT s.vec_id FROM scored s, q WHERE s.label = q.ql
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN probed USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN probed USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "ivf_recall_at_k",
    _IVF_RECALL_ORACLE,
    "Recall@20 of IVF-probed ANN vs exact brute force for the query "
    "vector: the quality metric that certifies the probe count / coarse "
    "quantizer — computed as a semi-join of the two deterministic top-k "
    "sets, no extra scan of the corpus beyond the two searches",
    tags=("llm", "similarity", "eval"),
)
def q_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vector(emb)
    exact = similarity.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    probed = similarity.ivf_probe_topk(
        emb, "embedding", "vec_id", "label", query_id=0, k=20
    ).select("vec_id")
    overlap = exact.join(probed, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), base AS (
  SELECT doc_id, toks,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(sh) AS INTEGER) AS n_bigrams,
         CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct_bigrams
  FROM (SELECT doc_id, toks, {_sql_shingles('toks', 2)} AS sh FROM toks)
), ex AS (
  SELECT doc_id, n_tokens, n_bigrams, n_distinct_bigrams, unnest(toks) AS tok
  FROM base WHERE n_tokens >= 2
), counted AS (
  SELECT doc_id, n_tokens, n_bigrams, n_distinct_bigrams, tok,
         COUNT(*) AS cnt
  FROM ex GROUP BY doc_id, n_tokens, n_bigrams, n_distinct_bigrams, tok
)
SELECT doc_id, n_tokens,
       COUNT(*) AS n_distinct_tokens,
       MAX(cnt) AS top_token_count,
       MAX(cnt) / n_tokens AS top_token_frac,
       (n_bigrams - n_distinct_bigrams) / n_bigrams AS dup_bigram_ratio
FROM counted
GROUP BY doc_id, n_tokens, n_bigrams, n_distinct_bigrams
ORDER BY doc_id
"""


@query(
    "repetition_stats",
    _REPETITION_ORACLE,
    "Repetition quality signals per document (the Gopher-style gates a "
    "training-data pipeline prunes on): duplicate-bigram ratio and "
    "top-token fraction. Array metrics ride the explode as doc-level "
    "columns (jaccard's sizes-ride-along pattern), so the whole query is "
    "one explode + two doc-keyed aggregates — pure integer arithmetic, "
    "no float drift.",
    tags=("llm", "text", "bench"),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tx.tokens("text").alias("__toks"))
    # Stage the shingle array once; size/array_distinct then consume the
    # staged column (higher-order-lambda staging rule, operators/text_dedup).
    staged = toked.select(
        "doc_id", "__toks", tx.shingles_of("__toks", 2).alias("__sh")
    )
    base = staged.select(
        "doc_id",
        "__toks",
        F.size("__toks").alias("n_tokens"),
        F.size("__sh").alias("n_bigrams"),
        F.size(F.array_distinct("__sh")).alias("n_distinct_bigrams"),
    ).filter(F.col("n_tokens") >= 2)
    ex = base.select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        "n_distinct_bigrams",
        F.explode_outer("__toks").alias("tok"),
    ).filter(F.col("tok").isNotNull())
    counted = ex.groupBy(
        "doc_id", "n_tokens", "n_bigrams", "n_distinct_bigrams", "tok"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counted.groupBy("doc_id", "n_tokens", "n_bigrams", "n_distinct_bigrams")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("cnt").alias("top_token_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            "top_token_count",
            (F.col("top_token_count") / F.col("n_tokens")).alias(
                "top_token_frac"
            ),
            (
                (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                / F.col("n_bigrams")
            ).alias("dup_bigram_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# K-means coarse quantizer IVF (operators/kmeans.py): the ANN index that
# COMPUTES its blocks instead of riding the dataset's label column. The
# whole Lloyd fit runs on the deterministic integer grid, so the oracle
# replays it exactly in SQL (generated CTE chain below).
# --------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_NPROBE = 3

# Both quantizer fits (k-means IVF and PQ) train on a deterministic
# md5-bucket sample of the corpus, then encode/assign the FULL corpus —
# the standard ANN scale pattern (codebooks need a bounded training set,
# not the whole corpus), which makes fit cost O(sample) instead of
# O(corpus) per Lloyd iteration at 100 TB. Same bucket device as the
# split queries, so the oracle replays the exact sample.
_FIT_PCT = 25
_FIT_FILTER_SQL = (
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100"
    f" < {_FIT_PCT}"
)


def _fit_sample(emb: DataFrame) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators.corpus import (
        md5_bucket,
    )

    return emb.filter(md5_bucket("vec_id", 100) < _FIT_PCT)


def _sql_qx(expr: str) -> str:
    """DuckDB mirror of operators.kmeans.quantized (floor onto the grid)."""
    return (
        f"list_transform({expr}, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 16384) AS BIGINT))"
    )


def _sql_sqdist_q(a: str, b: str) -> str:
    """Exact integer squared distance (qx list vs centroid list)."""
    return " + ".join(
        f"({a}[{i + 1}] * 64 - {b}[{i + 1}]) * "
        f"({a}[{i + 1}] * 64 - {b}[{i + 1}])"
        for i in range(_DIM)
    )


def _shared_parts(k: int) -> list[str]:
    """CTEs shared by the k-means, PQ, and IVF-PQ oracle replays:
    quantized vectors, fit sample, seed ranking (identical for coarse
    and sub-codebooks — both use k=8 smallest-md5 seeds), and the query
    row. Factored so the IVF-PQ oracle can compose both chains without
    duplicate CTE names."""
    seed_rank = "row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)"
    return [
        f"""qv AS MATERIALIZED (
  SELECT vec_id, embedding, {_sql_qx('embedding')} AS qx FROM embeddings
)""",
        f"""fitv AS MATERIALIZED (
  SELECT * FROM qv WHERE {_FIT_FILTER_SQL}
)""",
        f"""seeds AS MATERIALIZED (
  SELECT qx, {seed_rank} - 1 AS cluster
  FROM fitv QUALIFY {seed_rank} <= {k}
)""",
        "qq AS MATERIALIZED "
        "(SELECT qx, embedding AS qe FROM qv WHERE vec_id = 0)",
    ]


def _kmeans_core_parts(k: int, iters: int, nprobe: int) -> list[str]:
    """Coarse-quantizer replay (fit + full assignment + probe selection),
    excluding the shared CTEs: every distance is exact 64-bit integer
    math, every centroid update floors onto the integer grid, so the
    replay is bit-identical to the Spark fit regardless of
    partitioning."""
    sq = _sql_sqdist_q
    parts = [
        """cent0 AS MATERIALIZED (
  SELECT cluster, list_transform(qx, v -> v * 64) AS c FROM seeds
)""",
    ]
    prev = "cent0"
    for t in range(1, iters + 1):
        parts.append(f"""a{t} AS MATERIALIZED (
  SELECT e.vec_id, c.cluster FROM fitv e CROSS JOIN {prev} c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {sq('e.qx', 'c.c')}, c.cluster) = 1
)""")
        parts.append(f"""s{t} AS MATERIALIZED (
  SELECT a.cluster, d.dim, SUM(e.qx[d.dim + 1]) AS s, COUNT(*) AS n
  FROM a{t} a JOIN fitv e USING (vec_id)
  CROSS JOIN (SELECT unnest(range({_DIM})) AS dim) d
  GROUP BY a.cluster, d.dim
)""")
        # row_number renumber mirrors the fit's dense re-indexing after a
        # cluster empties out (sorted-by-cluster list positions).
        parts.append(f"""cent{t} AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY cluster) - 1 AS cluster, c FROM (
    SELECT cluster,
           list(CAST(floor(CAST(s AS DOUBLE) * 64 / n) AS BIGINT)
                ORDER BY dim) AS c
    FROM s{t} GROUP BY cluster)
)""")
        prev = f"cent{t}"
    parts.append(f"""af AS MATERIALIZED (
  SELECT e.vec_id, c.cluster FROM qv e CROSS JOIN {prev} c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id ORDER BY {sq('e.qx', 'c.c')}, c.cluster) = 1
)""")
    parts.append(f"""probes AS MATERIALIZED (
  SELECT c.cluster FROM {prev} c CROSS JOIN qq
  ORDER BY {sq('qq.qx', 'c.c')}, c.cluster LIMIT {nprobe}
)""")
    parts.append("""cand AS MATERIALIZED (
  SELECT a.vec_id FROM af a JOIN probes p USING (cluster)
  WHERE a.vec_id <> 0
)""")
    return parts


def _kmeans_ctes() -> str:
    return ",\n".join(
        _shared_parts(_KM_K) + _kmeans_core_parts(_KM_K, _KM_ITERS, _KM_NPROBE)
    )


_KMEANS_TOPK_ORACLE = f"""
WITH {_kmeans_ctes()}
SELECT e.vec_id,
       ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
             / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
FROM qv e JOIN cand USING (vec_id) CROSS JOIN qq
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


def _kmeans_probe_clusters(
    centroids: list[list[int]], qvec: list[float], nprobe: int
) -> list[int]:
    """Nearest-nprobe centroid ids for the query vector — pure-Python
    exact integer math on k*dim model values (not a data-sized loop)."""
    import math

    qx = [math.floor(x * 16384.0) for x in qvec]
    dists = sorted(
        (sum((a * 64 - b) ** 2 for a, b in zip(qx, c)), ci)
        for ci, c in enumerate(centroids)
    )
    return [ci for _, ci in dists[:nprobe]]


@query(
    "ivf_kmeans_topk",
    _KMEANS_TOPK_ORACLE,
    "IVF ANN with a COMPUTED coarse quantizer: deterministic integer-grid "
    "k-means (broadcast-centroid map-side assignment, one keyed shuffle "
    "per Lloyd iteration), multi-probe candidate pruning (nprobe=3), "
    "exact cosine top-20 within the probes on the original floats",
    tags=("llm", "similarity", "bench"),
)
def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    [[cents]] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1,), k=_KM_K, iters=_KM_ITERS
    )
    qvec = _query_vector(emb)
    probes = _kmeans_probe_clusters(cents, qvec, _KM_NPROBE)
    assigned = kmeans.assign_clusters(emb, "embedding", cents)
    cand = assigned.filter(
        F.col("cluster").isin(probes) & (F.col("vec_id") != 0)
    )
    return similarity.cosine_topk(cand, "embedding", "vec_id", qvec, k=20)


_KMEANS_RECALL_ORACLE = f"""
WITH {_kmeans_ctes()},
scored AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
  FROM qv e CROSS JOIN qq
  WHERE e.vec_id <> 0
), exact AS (
  SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
), approx AS (
  SELECT s.vec_id FROM scored s JOIN cand USING (vec_id)
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "kmeans_recall_at_k",
    _KMEANS_RECALL_ORACLE,
    "Recall@20 of the k-means multi-probe IVF vs exact brute force — the "
    "metric that certifies the computed quantizer + nprobe choice, "
    "deterministic end-to-end (integer-grid fit, exact rescoring)",
    tags=("llm", "similarity", "eval"),
)
def q_kmeans_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    [[cents]] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1,), k=_KM_K, iters=_KM_ITERS
    )
    qvec = _query_vector(emb)
    probes = _kmeans_probe_clusters(cents, qvec, _KM_NPROBE)
    assigned = kmeans.assign_clusters(emb, "embedding", cents)
    cand = assigned.filter(
        F.col("cluster").isin(probes) & (F.col("vec_id") != 0)
    )
    exact = similarity.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    approx = similarity.cosine_topk(
        cand, "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Product quantization ANN (operators/pq.py): the memory-bounded scale
# path — vectors compressed to m sub-codes, query scored via an m x k
# distance table, exact re-rank on the shortlist. Same integer-grid
# determinism as the k-means IVF, so the oracle replays fit + encode +
# ADC end-to-end.
# --------------------------------------------------------------------------

_PQ_M = 4
_PQ_SUBDIM = _DIM // _PQ_M
_PQ_K = 8
_PQ_ITERS = 2
_PQ_SHORTLIST = 200


def _sql_sqdist_sub(a: str, c: str, sub: int) -> str:
    """Exact integer squared distance of one subspace slice: full-vector
    qx list vs a subdim-long centroid list. (Spark scores the reduced
    form -128*dot + |c|^2; the dropped 4096*|qx_sub|^2 term is constant
    per row within a subspace, so argmin and ties agree — same device as
    the k-means oracle.)"""
    lo = sub * _PQ_SUBDIM
    return " + ".join(
        f"({a}[{lo + j + 1}] * 64 - {c}[{j + 1}]) * "
        f"({a}[{lo + j + 1}] * 64 - {c}[{j + 1}])"
        for j in range(_PQ_SUBDIM)
    )


def _pq_core_parts(m: int, iters: int, shortlist: int,
                   candidates: bool = False) -> list[str]:
    """PQ replay (sub-codebook fit + encode + ADC shortlist), excluding
    the shared CTEs: the k smallest-md5(id) rows seed every subspace,
    each Lloyd iteration is (assign, sum-per-dim, floor-onto-grid) per
    subspace, final codes join against the per-subspace query distance
    tables. With ``candidates=True`` the shortlist is drawn from the
    coarse quantizer's ``cand`` CTE (IVF-PQ) instead of the full
    corpus."""
    parts = []
    for s in range(m):
        lo = s * _PQ_SUBDIM
        parts.append(f"""p{s}c0 AS MATERIALIZED (
  SELECT cluster,
         list_transform(list_slice(qx, {lo + 1}, {lo + _PQ_SUBDIM}),
                        v -> v * 64) AS c
  FROM seeds
)""")
    for t in range(1, iters + 1):
        for s in range(m):
            lo = s * _PQ_SUBDIM
            parts.append(f"""p{s}a{t} AS MATERIALIZED (
  SELECT e.vec_id, c.cluster FROM fitv e CROSS JOIN p{s}c{t - 1} c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY {_sql_sqdist_sub('e.qx', 'c.c', s)}, c.cluster) = 1
)""")
            parts.append(f"""p{s}s{t} AS MATERIALIZED (
  SELECT a.cluster, d.dim, SUM(e.qx[{lo} + d.dim + 1]) AS s, COUNT(*) AS n
  FROM p{s}a{t} a JOIN fitv e USING (vec_id)
  CROSS JOIN (SELECT unnest(range({_PQ_SUBDIM})) AS dim) d
  GROUP BY a.cluster, d.dim
)""")
            parts.append(f"""p{s}c{t} AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY cluster) - 1 AS cluster, c FROM (
    SELECT cluster,
           list(CAST(floor(CAST(s AS DOUBLE) * 64 / n) AS BIGINT)
                ORDER BY dim) AS c
    FROM p{s}s{t} GROUP BY cluster)
)""")
    for s in range(m):
        parts.append(f"""p{s}af AS MATERIALIZED (
  SELECT e.vec_id, c.cluster FROM qv e CROSS JOIN p{s}c{iters} c
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY {_sql_sqdist_sub('e.qx', 'c.c', s)}, c.cluster) = 1
)""")
    for s in range(m):
        parts.append(f"""dt{s} AS MATERIALIZED (
  SELECT c.cluster, ({_sql_sqdist_sub('qq.qx', 'c.c', s)}) AS d
  FROM p{s}c{iters} c CROSS JOIN qq
)""")
    joins = " ".join(
        f"JOIN p{s}af a{s} ON e.vec_id = a{s}.vec_id "
        f"JOIN dt{s} d{s} ON d{s}.cluster = a{s}.cluster"
        for s in range(m)
    )
    if candidates:
        joins += " JOIN cand ON e.vec_id = cand.vec_id"
    dist = " + ".join(f"d{s}.d" for s in range(m))
    parts.append(f"""short AS MATERIALIZED (
  SELECT e.vec_id, ({dist}) AS approx_dist
  FROM qv e {joins}
  WHERE e.vec_id <> 0
  ORDER BY approx_dist, e.vec_id LIMIT {shortlist}
)""")
    return parts


def _pq_ctes() -> str:
    return ",\n".join(
        _shared_parts(_PQ_K) + _pq_core_parts(_PQ_M, _PQ_ITERS, _PQ_SHORTLIST)
    )


_PQ_TOPK_ORACLE = f"""
WITH {_pq_ctes()}
SELECT e.vec_id, s.approx_dist,
       ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
             / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
FROM qv e JOIN short s USING (vec_id) CROSS JOIN qq
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


@query(
    "pq_topk",
    _PQ_TOPK_ORACLE,
    "Product-quantization ANN: m=4 sub-codebooks fit in ONE shuffle per "
    "Lloyd iteration (hash aggregate keyed on subspace/code/dimension "
    "over the posexploded vector), per-row scoring = m distance-table "
    "lookups (no float math on the corpus), exact cosine re-rank of the "
    "ADC shortlist — the memory-bounded ANN path for 100 TB embedding "
    "columns",
    tags=("llm", "similarity", "bench"),
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans, pq

    emb = load_table(spark, sf_dir, "embeddings")
    [books] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (_PQ_M,), k=_PQ_K,
        iters=_PQ_ITERS,
    )
    qvec = _query_vector(emb)
    return pq.pq_adc_topk(
        emb.filter(F.col("vec_id") != 0),
        "embedding",
        "vec_id",
        books,
        qvec,
        shortlist=_PQ_SHORTLIST,
        k=20,
    )


_PQ_RECALL_ORACLE = f"""
WITH {_pq_ctes()},
scored AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
  FROM qv e CROSS JOIN qq
  WHERE e.vec_id <> 0
), exact AS (
  SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
), approx AS (
  SELECT s.vec_id FROM scored s JOIN short USING (vec_id)
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "pq_recall_at_k",
    _PQ_RECALL_ORACLE,
    "Recall@20 of the PQ ADC shortlist + exact re-rank vs brute force — "
    "certifies how much neighbor quality the m=4/k=8 compression gives "
    "up, deterministic end-to-end",
    tags=("llm", "similarity", "eval"),
)
def q_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans, pq

    emb = load_table(spark, sf_dir, "embeddings")
    [books] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (_PQ_M,), k=_PQ_K,
        iters=_PQ_ITERS,
    )
    qvec = _query_vector(emb)
    rest = emb.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(
        rest, "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    approx = pq.pq_adc_topk(
        rest, "embedding", "vec_id", books, qvec,
        shortlist=_PQ_SHORTLIST, k=20,
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# IVF-PQ (VERDICT r02 #7): the production ANN shape — the k-means coarse
# quantizer prunes WHICH cells to scan (nprobe), PQ prunes HOW the
# survivors are scored (ADC table lookups), exact cosine re-ranks the
# shortlist. At 100 TB: candidate generation reads nprobe/k of the
# corpus, scoring reads m bytes/row instead of 64 floats, and only
# `shortlist` rows ever touch float math. Both fits reuse the shared
# seeds/fit-sample CTEs, so the oracle composes the two replays.
# --------------------------------------------------------------------------

_IVFPQ_SHORTLIST = 100

_IVFPQ_CTES = ",\n".join(
    _shared_parts(_KM_K)
    + _kmeans_core_parts(_KM_K, _KM_ITERS, _KM_NPROBE)
    + _pq_core_parts(_PQ_M, _PQ_ITERS, _IVFPQ_SHORTLIST, candidates=True)
)

_IVFPQ_TOPK_ORACLE = f"""
WITH {_IVFPQ_CTES}
SELECT e.vec_id, s.approx_dist,
       ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
             / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
FROM qv e JOIN short s USING (vec_id) CROSS JOIN qq
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


@query(
    "ivfpq_topk",
    _IVFPQ_TOPK_ORACLE,
    "IVF-PQ ANN (the production shape): k-means coarse cells prune the "
    "candidate set to nprobe=3 cells, PQ ADC scores ONLY those "
    "candidates via m=4 distance-table lookups, exact cosine re-ranks "
    "the per-probed-cell shortlist — map-only encode, "
    "TakeOrderedAndProject shortlist, no float math on the corpus",
    tags=("llm", "similarity", "bench"),
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans, pq

    emb = load_table(spark, sf_dir, "embeddings")
    # Both partitions in one fit: one seed scan + one aggregate job per
    # Lloyd iteration serves the coarse and the PQ models, each
    # bit-identical to its single-partition fit (differential-tested),
    # at half the driver actions of two fits. One k and one iteration
    # count serve both (_KM_K == _PQ_K, _KM_ITERS == _PQ_ITERS).
    [cents], books = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1, _PQ_M), k=_PQ_K,
        iters=_PQ_ITERS,
    )
    qvec = _query_vector(emb)
    probes = _kmeans_probe_clusters(cents, qvec, _KM_NPROBE)
    assigned = kmeans.assign_clusters(emb, "embedding", cents)
    cand = assigned.filter(
        F.col("cluster").isin(probes) & (F.col("vec_id") != 0)
    ).drop("cluster")
    return pq.pq_adc_topk(
        cand, "embedding", "vec_id", books, qvec,
        shortlist=_IVFPQ_SHORTLIST, k=20,
    )


_IVFPQ_RECALL_ORACLE = f"""
WITH {_IVFPQ_CTES},
scored AS MATERIALIZED (
  SELECT e.vec_id,
         ROUND(({sql_dot('e.embedding', 'qq.qe', _DIM)})
               / (sqrt({sql_dot('e.embedding', 'e.embedding', _DIM)})
                  * sqrt({sql_dot('qq.qe', 'qq.qe', _DIM)})), 6) AS cosine
  FROM qv e CROSS JOIN qq
  WHERE e.vec_id <> 0
), exact AS (
  SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
), approx AS (
  SELECT s.vec_id FROM scored s JOIN short USING (vec_id)
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "ivfpq_recall_at_k",
    _IVFPQ_RECALL_ORACLE,
    "Recall@20 of IVF-PQ vs exact brute force — certifies the combined "
    "coarse-prune + compressed-score stack end-to-end, deterministic "
    "(integer-grid fits, exact re-rank)",
    tags=("llm", "similarity", "eval"),
)
def q_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.operators import kmeans, pq

    emb = load_table(spark, sf_dir, "embeddings")
    # Both partitions in one fit: one seed scan + one aggregate job per
    # Lloyd iteration serves the coarse and the PQ models, each
    # bit-identical to its single-partition fit (differential-tested),
    # at half the driver actions of two fits. One k and one iteration
    # count serve both (_KM_K == _PQ_K, _KM_ITERS == _PQ_ITERS).
    [cents], books = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1, _PQ_M), k=_PQ_K,
        iters=_PQ_ITERS,
    )
    qvec = _query_vector(emb)
    probes = _kmeans_probe_clusters(cents, qvec, _KM_NPROBE)
    assigned = kmeans.assign_clusters(emb, "embedding", cents)
    cand = assigned.filter(
        F.col("cluster").isin(probes) & (F.col("vec_id") != 0)
    ).drop("cluster")
    rest = emb.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(
        rest, "embedding", "vec_id", qvec, k=20
    ).select("vec_id")
    approx = pq.pq_adc_topk(
        cand, "embedding", "vec_id", books, qvec,
        shortlist=_IVFPQ_SHORTLIST, k=20,
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return overlap.select(
        F.lit(20).alias("k"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Capstone: the corpus-preparation pipeline as ONE declarative plan —
# exact-dedup survivors -> quality filter -> deterministic split ->
# per-(split, lang) stats. Each stage is an operator proven above; the
# point of the capstone is that the COMPOSITION stays one Catalyst plan
# (window + two aggregates), not a chain of materialized intermediates.
# --------------------------------------------------------------------------

_CORPUS_PREP_ORACLE = """
WITH survivors AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
), kept AS (
  SELECT doc_id, lang, n_chars FROM survivors
  WHERE rn = 1 AND n_chars >= 100
)
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
         AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS b
  FROM kept)
GROUP BY 1, lang
ORDER BY split, lang
"""


@query(
    "corpus_prep_stats",
    _CORPUS_PREP_ORACLE,
    "End-to-end corpus preparation in one plan: exact-dedup survivors "
    "(md5 window, deterministic keeper) -> length quality gate -> "
    "deterministic md5-bucket split -> per-(split, lang) stats. One "
    "content-hash shuffle + one group-by shuffle total",
    tags=("llm", "dedup", "sampling", "bench"),
)
def q_corpus_prep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_chars") >= 100))
        .select("doc_id", "lang", "n_chars")
    )
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        kept.groupBy(split.alias("split"), F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection (operators/projection.py): cut
# 64-dim embeddings to 16 dims in one map-only pass, shortlist in the
# projected space, exact-cosine re-rank — the cheapest pre-ANN lever at
# 100 TB (every shortlist scan shrinks by dim_out/dim). The +-1 sign
# matrix is deterministic md5 parity, so the oracle replays the
# projection as explicit sign-flipped sums.
# --------------------------------------------------------------------------

from reddit_data_pipeline_engineering_spark.operators import projection as _projmod

_JL_DIM_OUT = 16
_JL_SHORTLIST = 100
_JL_SIGNS = _projmod.jl_signs(_DIM, _JL_DIM_OUT)


def _sql_jl_dim(j: int) -> str:
    terms = []
    for i in range(_DIM):
        sign = "-" if _JL_SIGNS[i][j] < 0 else "+"
        terms.append(f"{sign} CAST(e.embedding[{i + 1}] AS DOUBLE)")
    expr = " ".join(terms)
    return expr[2:] if expr.startswith("+ ") else expr


def _sql_dot_n(a: str, b: str, n: int) -> str:
    return " + ".join(f"{a}[{i + 1}] * {b}[{i + 1}]" for i in range(n))


_JL_RECALL_ORACLE = f"""
WITH proj AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         [{", ".join(_sql_jl_dim(j) for j in range(_JL_DIM_OUT))}] AS proj
  FROM embeddings e
), qp AS MATERIALIZED (
  SELECT proj AS qproj, embedding AS qe FROM proj WHERE vec_id = 0
), short AS MATERIALIZED (
  SELECT p.vec_id,
         ROUND(({_sql_dot_n('p.proj', 'qp.qproj', _JL_DIM_OUT)})
               / (sqrt({_sql_dot_n('p.proj', 'p.proj', _JL_DIM_OUT)})
                  * sqrt({_sql_dot_n('qp.qproj', 'qp.qproj', _JL_DIM_OUT)})),
               6) AS pcos
  FROM proj p CROSS JOIN qp
  WHERE p.vec_id <> 0
  ORDER BY pcos DESC, p.vec_id LIMIT {_JL_SHORTLIST}
), scored AS MATERIALIZED (
  SELECT p.vec_id,
         ROUND(({sql_dot('p.embedding', 'qp.qe', _DIM)})
               / (sqrt({sql_dot('p.embedding', 'p.embedding', _DIM)})
                  * sqrt({sql_dot('qp.qe', 'qp.qe', _DIM)})), 6) AS cosine
  FROM proj p CROSS JOIN qp
  WHERE p.vec_id <> 0
), exact AS (
  SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
), approx AS (
  SELECT s.vec_id FROM scored s JOIN short USING (vec_id)
  ORDER BY s.cosine DESC, s.vec_id LIMIT 20
)
SELECT 20 AS k,
       CAST((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id)) AS BIGINT)
         AS n_overlap,
       ROUND((SELECT COUNT(*) FROM exact JOIN approx USING (vec_id))
             / 20.0, 4) AS recall_at_k
"""


@query(
    "jl_recall_at_k",
    _JL_RECALL_ORACLE,
    "Recall@20 of JL sign-projection ANN (64->16 dims map-only, "
    "projected-space cosine shortlist, exact re-rank) vs brute force — "
    "the dimensionality-reduction lever quantified; deterministic md5 "
    "sign matrix, bit-exact SQL replay of the projection",
    tags=("llm", "similarity", "eval"),
)
def q_jl_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj_df = _projmod.jl_project(emb, "embedding", _JL_SIGNS)
    qvec = _query_vector(emb)
    qproj = _projmod.project_query(qvec, _JL_SIGNS)
    rest = proj_df.filter(F.col("vec_id") != 0)
    short = similarity.cosine_topk(
        rest, "proj", "vec_id", qproj, k=_JL_SHORTLIST
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
        F.col("n_overlap").cast("long").alias("n_overlap"),
        F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Multimodal frame sampling (sources/multimodal.sample_frames): the
# OTHER mapInPandas path — one output row per sampled frame timestamp
# for video/audio assets. Frame grids are pure arithmetic over each
# asset's duration (every 5000 ms, inclusive of t=0), so the oracle
# reproduces the per-modality rollup in closed form: k = dur//step + 1
# frames, sum of frame_ms = step * k * (k-1) / 2.
# --------------------------------------------------------------------------

_MM_FRAME_STEP = 5000

_FRAMES_ORACLE = f"""
WITH ids AS (
  SELECT unnest(range({_MM_N_ASSETS})) AS i
), av AS (
  SELECT i,
         CASE i % 3 WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         1000 * (i % 30) AS dur
  FROM ids WHERE i % 3 <> 0
), per_asset AS (
  SELECT modality, dur // {_MM_FRAME_STEP} + 1 AS k FROM av
)
SELECT modality,
       COUNT(*) AS n_assets,
       CAST(SUM(k) AS BIGINT) AS n_frames,
       CAST(SUM({_MM_FRAME_STEP} * k * (k - 1) // 2) AS BIGINT)
         AS sum_frame_ms
FROM per_asset
GROUP BY modality ORDER BY modality
"""


@query(
    "multimodal_frame_sample",
    _FRAMES_ORACLE,
    "Frame-sampling plan for video/audio assets: Arrow-batched "
    "mapInPandas emits one row per sampled timestamp (every 5 s, "
    "inclusive of t=0); per-modality rollup of frame counts and "
    "timestamp mass, oracle-closed-form over the deterministic "
    "durations",
    tags=("llm", "multimodal"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_assets(spark, n=_MM_N_ASSETS)
    frames = mm.sample_frames(assets, every_ms=_MM_FRAME_STEP)
    return (
        frames.join(F.broadcast(assets.select("asset_id", "modality")),
                    "asset_id")
        .groupBy("modality")
        .agg(
            F.countDistinct("asset_id").alias("n_assets"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("frame_ms").cast("long").alias("sum_frame_ms"),
        )
        .orderBy("modality")
    )


# --------------------------------------------------------------------------
# SimHash banded near-dup pairs (r06) — Manku et al. WWW'07, the scheme
# Google used for web-crawl dedup: pairs within hamming distance 3 of a
# 48-bit SimHash share (pigeonhole) at least one of 4 untouched 12-bit
# blocks, so grouping on block values finds every such pair with ONE
# bucket shuffle — no similarity join, no shingle sets. The verification
# is native bit arithmetic (popcount of xor) on both engines. Production
# widens to 64-bit fingerprints with 4x16-bit blocks so buckets stay
# collision-bounded at any corpus size; the 48/12 layout here is the
# same plan at test scale.
# --------------------------------------------------------------------------

_SH_BITS, _SH_BANDS, _SH_MAXH, _SH_MAXB = 48, 4, 3, 64


def _simhash_pairs_oracle() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(cnt * (CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) AS b{i}"
        for i in range(_SH_BITS)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SH_BITS)
    )
    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"((simhash >> {b * width}) & {mask}) AS bucket FROM sigs"
        for b in range(_SH_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), counted AS (
  SELECT doc_id, tok, COUNT(*) AS cnt,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM tok GROUP BY doc_id, tok
), bits AS (
  SELECT doc_id, {bit_sums} FROM counted GROUP BY doc_id
), sigs AS MATERIALIZED (
  SELECT doc_id, ({bit_terms}) AS simhash FROM bits
), buckets AS (
  {band_rows}
), kept AS (
  -- skew cap mirrored: buckets above max_bucket members are dropped
  -- from candidate generation (see operators/text_dedup.py)
  SELECT band_id, bucket FROM buckets
  GROUP BY band_id, bucket HAVING COUNT(*) <= {_SH_MAXB}
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sig_a, b.simhash AS sig_b,
         COUNT(*) AS n_bands
  FROM buckets a
  JOIN kept k ON a.band_id = k.band_id AND a.bucket = k.bucket
  JOIN buckets b
    ON a.band_id = b.band_id AND a.bucket = b.bucket
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming,
       CAST(n_bands AS BIGINT) AS n_bands
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {_SH_MAXH}
"""


@query(
    "simhash_hamming_pairs",
    _simhash_pairs_oracle(),
    "Banded SimHash near-dup pairs (Manku WWW'07): 48-bit fingerprint, "
    "4x12-bit blocks — pigeonhole guarantees every pair within hamming "
    "3 shares a block; one bucket shuffle + per-bucket pair emit + one "
    "pair aggregate, popcount(xor) verification — no similarity join. "
    "Hot buckets (SimHash bits correlate on homogeneous corpora) are "
    "capped at 64 members with the drop observed in-plan",
    tags=("llm", "dedup", "bench"),
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    sigs = text_dedup.simhash(docs, "text", "doc_id", bits=_SH_BITS)
    return text_dedup.simhash_hamming_pairs(
        sigs, "doc_id", bits=_SH_BITS, bands=_SH_BANDS,
        max_hamming=_SH_MAXH, max_bucket=_SH_MAXB,
    )


# --------------------------------------------------------------------------
# Real PCM decode stats (r07). WAV is uncompressed, so "full decode" for
# it needs no codec: sources/multimodal.decode_wav_pcm walks the RIFF
# chunks and reinterprets the data chunk as int16 via numpy.frombuffer
# inside the Arrow-batched mapInPandas stage; per-asset stats reduce
# INSIDE the UDF (one output row per asset, payload bytes never
# shuffle). The synthetic WAV samples are closed-form in the asset id
# (byte j of the data chunk is (3i + j) % 256 — sources/multimodal.
# synth_wav), so DuckDB replays the exact int16 reinterpretation
# arithmetically: sample k = lo + 256*hi, sign-corrected at 32768.
# --------------------------------------------------------------------------

_PCM_ORACLE = f"""
WITH ids AS (SELECT unnest(range({_MM_N_ASSETS})) AS i),
wav AS (
  SELECT i, (500 + 10 * i) * (1 + i % 2) AS nv FROM ids WHERE i % 6 = 1
),
samples AS (
  SELECT i, nv,
         ((3 * i + 2 * k.k) % 256)
         + 256 * ((3 * i + 2 * k.k + 1) % 256) AS u
  FROM wav, UNNEST(generate_series(0, nv - 1)) k(k)
),
signed AS (
  SELECT i, nv, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM samples
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(nv AS BIGINT) AS n_values,
       CAST(MIN(v) AS BIGINT) AS min_sample,
       CAST(MAX(v) AS BIGINT) AS max_sample,
       CAST(SUM(v) AS BIGINT) AS sum_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_squares
FROM signed GROUP BY i, nv ORDER BY asset_id
"""


@query(
    "multimodal_pcm_decode",
    _PCM_ORACLE,
    "REAL full decode of the uncompressed audio format: RIFF chunk walk "
    "+ numpy int16 reinterpretation of WAV PCM inside Arrow-batched "
    "mapInPandas, per-asset exact integer stats (n/min/max/sum/energy) "
    "reduced inside the UDF — one output row per asset, payload bytes "
    "never shuffle; oracle replays the byte-level reinterpretation "
    "arithmetically from the closed-form synthetic samples",
    tags=("llm", "multimodal", "bench"),
)
def q_multimodal_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    wav = assets.filter(F.col("asset_id") % 6 == 1)
    return mm.pcm_stats(wav).orderBy("asset_id")


# --------------------------------------------------------------------------
# Real PNG pixel decode stats (r08). PNG full decode needs no codec
# package — the container is zlib (standard library) over five scanline
# prediction filters — so sources/multimodal.decode_png_pixels inflates
# the IDAT stream and reconstructs pixels exactly inside the
# Arrow-batched mapInPandas stage (same reduce-inside-the-UDF contract
# as multimodal_pcm_decode: one row per asset, payload bytes never
# shuffle). The synthetic PNGs carry closed-form pixels (pixel j of
# asset i is (13i + 3j) % 256 — sources/multimodal.synth_png), so
# DuckDB replays the decoded stats arithmetically. With this, the
# engine's stub surface shrinks to JPEG/FLAC full decode only (entropy
# coders genuinely need codec libraries).
# --------------------------------------------------------------------------

_PNG_ORACLE = f"""
WITH ids AS (SELECT unnest(range({_MM_N_ASSETS})) AS i),
png AS (
  SELECT i, 8 + i % 5 AS w, 6 + i % 4 AS h FROM ids WHERE i % 6 = 4
),
px AS (
  SELECT i, w * h AS npx, (13 * i + 3 * k.k) % 256 AS v
  FROM png, UNNEST(generate_series(0, w * h - 1)) k(k)
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(npx AS BIGINT) AS n_pixels,
       CAST(MIN(v) AS BIGINT) AS min_px,
       CAST(MAX(v) AS BIGINT) AS max_px,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM px GROUP BY i, npx ORDER BY asset_id
"""


@query(
    "multimodal_png_decode",
    _PNG_ORACLE,
    "REAL full PNG pixel decode (no codec package: zlib IDAT inflate + "
    "all five scanline filter reconstructions) inside Arrow-batched "
    "mapInPandas, per-asset exact integer stats reduced inside the UDF "
    "— payload bytes never shuffle; the oracle replays the closed-form "
    "synthetic pixels arithmetically. Shrinks the stub surface to "
    "JPEG/FLAC entropy decode only",
    tags=("llm", "multimodal", "bench"),
)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    png = assets.filter(F.col("asset_id") % 6 == 4)
    return mm.png_stats(png).orderBy("asset_id")


# --------------------------------------------------------------------------
# Real baseline JPEG decode stats (r09, VERDICT r08 #3). Baseline JPEG
# needs no codec package either: the entropy coder is canonical Huffman
# (tables ship in the file's DHT segments) and the transform is the 8x8
# DCT — sources/multimodal.decode_jpeg_pixels implements the full
# pipeline (marker walk, Huffman scan decode with DC prediction +
# restart markers, dequant, inverse zigzag, float IDCT, YCbCr->RGB) in
# numpy inside the same Arrow-batched mapInPandas frame as the PNG/PCM
# queries. The decode is EXACT despite the lossy codec: each synthetic
# block carries only the DC and the (4,4) AC coefficient, whose cosine
# basis is +-1/8 at every sample, so with quant step 8 block b of asset
# i decodes bit-exactly to base(i,b) + s(x)s(y)*ac(i,b) (synth_jpeg has
# the closed form) and DuckDB replays the stats arithmetically. Assets
# with id % 12 == 9 are full 3-component 4:4:4 YCbCr with neutral
# chroma (RGB == Y exactly); the rest are greyscale. With this, the
# engine's stub surface shrinks to FLAC entropy decode only.
# --------------------------------------------------------------------------

_JPEG_ORACLE = f"""
WITH ids AS (SELECT unnest(range({_MM_N_ASSETS})) AS i),
jp AS (
  SELECT i, 8 + i % 5 AS w, 6 + i % 4 AS h,
         CASE WHEN i % 12 = 9 THEN 3 ELSE 1 END AS nc
  FROM ids WHERE i % 6 = 3
),
px AS (
  SELECT i, w, h, nc,
         (yy.k // 8) * ((w + 7) // 8) + (xx.k // 8) AS b,
         xx.k AS x, yy.k AS y
  FROM jp,
       UNNEST(generate_series(0, w - 1)) xx(k),
       UNNEST(generate_series(0, h - 1)) yy(k)
),
v AS (
  SELECT i, w, h, nc,
         64 + (7 * i + 11 * b) % 128
         + (CASE WHEN x % 4 IN (0, 3) THEN 1 ELSE -1 END)
         * (CASE WHEN y % 4 IN (0, 3) THEN 1 ELSE -1 END)
         * (1 + (i + b) % 8) AS val
  FROM px
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(w * h * nc AS BIGINT) AS n_values,
       CAST(nc AS BIGINT) AS n_channels,
       CAST(MIN(val) AS BIGINT) AS min_px,
       CAST(MAX(val) AS BIGINT) AS max_px,
       CAST(nc * SUM(val) AS BIGINT) AS sum_px,
       CAST(nc * SUM(val * val) AS BIGINT) AS sum_sq
FROM v GROUP BY i, w, h, nc ORDER BY asset_id
"""


@query(
    "multimodal_jpeg_decode",
    _JPEG_ORACLE,
    "REAL full baseline JPEG decode (no codec package: canonical-Huffman "
    "scan decode with DC prediction + restart markers, dequant, inverse "
    "zigzag, 8x8 float IDCT, YCbCr->RGB for 4:4:4 color) inside "
    "Arrow-batched mapInPandas, per-asset exact integer stats reduced "
    "inside the UDF — payload bytes never shuffle; the synthetic blocks "
    "carry only DC + the (4,4) AC whose basis is exactly +-1/8, so the "
    "lossy codec decodes bit-exactly and the oracle replays it "
    "arithmetically. Shrinks the stub surface to FLAC entropy decode only",
    tags=("llm", "multimodal", "bench"),
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    jpeg = assets.filter(F.col("asset_id") % 6 == 3)
    return mm.jpeg_stats(jpeg).orderBy("asset_id")


# --------------------------------------------------------------------------
# Real FLAC decode stats (r09). The LAST decode stub falls: FLAC's
# entropy layer is Rice coding over fixed/LPC prediction residuals —
# bit arithmetic, no codec package — so
# sources/multimodal.decode_flac_samples decodes genuine Rice-coded
# frames (CONSTANT/VERBATIM/FIXED/LPC subframes, CRC-8+CRC-16 verify,
# stereo decorrelation support) inside the same Arrow-batched
# mapInPandas frame as the PCM/PNG/JPEG queries. The synthetic frames
# carry closed-form samples (channel 0 a wrapping ramp, channel 1
# constant per 4096-sample frame — sources/multimodal.synth_flac), so
# DuckDB replays the decoded stats arithmetically. Decode stub
# surface: ZERO.
# --------------------------------------------------------------------------

_FLAC_DECODE_ORACLE = f"""
WITH ids AS (SELECT unnest(range({_MM_N_ASSETS})) AS i),
fl AS (
  SELECT i, 500 + 10 * i AS ns, 1 + i % 2 AS nc
  FROM ids WHERE i % 6 = 5
),
sm AS (
  SELECT i, ns, nc, k.k AS k, c.c AS ch,
         CASE WHEN c.c = 0
              THEN (3 * i + 2 * k.k) % 4096 - 2048
              ELSE (3 * i + 7 * (k.k // 4096)) % 4096 - 2048
         END AS v
  FROM fl,
       UNNEST(generate_series(0, ns - 1)) k(k),
       UNNEST(generate_series(0, nc - 1)) c(c)
)
SELECT CAST(i AS BIGINT) AS asset_id,
       CAST(ns * nc AS BIGINT) AS n_values,
       CAST(nc AS BIGINT) AS n_channels,
       CAST(MIN(v) AS BIGINT) AS min_sample,
       CAST(MAX(v) AS BIGINT) AS max_sample,
       CAST(SUM(v) AS BIGINT) AS sum_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_squares
FROM sm GROUP BY i, ns, nc ORDER BY asset_id
"""


@query(
    "multimodal_flac_decode",
    _FLAC_DECODE_ORACLE,
    "REAL full FLAC decode (no codec package: Rice-coded residuals over "
    "fixed/LPC prediction, CONSTANT/VERBATIM/FIXED/LPC subframes, CRC-8 "
    "+ CRC-16 integrity verify) inside Arrow-batched mapInPandas, "
    "per-asset exact integer stats reduced inside the UDF — payload "
    "bytes never shuffle; the oracle replays the closed-form samples "
    "arithmetically. The engine's decode stub surface is now ZERO",
    tags=("llm", "multimodal", "bench"),
)
def q_multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    flac = assets.filter(F.col("asset_id") % 6 == 5)
    return mm.flac_stats(flac).orderBy("asset_id")


# --------------------------------------------------------------------------
# Unified mixed-format decode (r09 capstone). With every container
# decoding for real (WAV r07, PNG r08, JPEG+FLAC r09), ONE Arrow-
# batched pass decodes a MIXED asset table — the 100 TB shape where a
# crawl shard interleaves formats and per-format pre-splits would
# multiply the scan. Magic-byte dispatch inside the UDF; the oracle is
# the UNION of all six closed forms.
# --------------------------------------------------------------------------

_DECODE_ALL_ORACLE = f"""
WITH ids AS (SELECT unnest(range({_MM_N_ASSETS})) AS i),
dims AS (
  SELECT i, 8 + i % 5 AS w, 6 + i % 4 AS h,
         1 + i % 2 AS ch, 500 + 10 * i AS ns
  FROM ids
),
vals AS (
  SELECT i, 'synthetic' AS container, (31 * i + 7 * k.k) % 256 AS v
  FROM dims, UNNEST(generate_series(0, w * h - 1)) k(k) WHERE i % 6 = 0
  UNION ALL
  SELECT i, 'wav',
         CASE WHEN (3 * i + 2 * k.k) % 256
                   + 256 * ((3 * i + 2 * k.k + 1) % 256) >= 32768
              THEN (3 * i + 2 * k.k) % 256
                   + 256 * ((3 * i + 2 * k.k + 1) % 256) - 65536
              ELSE (3 * i + 2 * k.k) % 256
                   + 256 * ((3 * i + 2 * k.k + 1) % 256)
         END
  FROM dims, UNNEST(generate_series(0, ns * ch - 1)) k(k) WHERE i % 6 = 1
  UNION ALL
  SELECT i, 'ppm', (11 * i + 2 * k.k) % 256
  FROM dims, UNNEST(generate_series(0, w * h * 3 - 1)) k(k) WHERE i % 6 = 2
  UNION ALL
  SELECT i, 'jpeg',
         64 + (7 * i + 11 * ((yy.k // 8) * ((w + 7) // 8) + xx.k // 8)) % 128
         + (CASE WHEN xx.k % 4 IN (0, 3) THEN 1 ELSE -1 END)
         * (CASE WHEN yy.k % 4 IN (0, 3) THEN 1 ELSE -1 END)
         * (1 + (i + (yy.k // 8) * ((w + 7) // 8) + xx.k // 8) % 8)
  FROM dims,
       UNNEST(generate_series(0, w - 1)) xx(k),
       UNNEST(generate_series(0, h - 1)) yy(k),
       UNNEST(generate_series(0, CASE WHEN i % 12 = 9 THEN 2 ELSE 0 END)) c(c)
  WHERE i % 6 = 3
  UNION ALL
  SELECT i, 'png', (13 * i + 3 * k.k) % 256
  FROM dims, UNNEST(generate_series(0, w * h - 1)) k(k) WHERE i % 6 = 4
  UNION ALL
  SELECT i, 'flac',
         CASE WHEN c.c = 0 THEN (3 * i + 2 * k.k) % 4096 - 2048
              ELSE (3 * i + 7 * (k.k // 4096)) % 4096 - 2048 END
  FROM dims,
       UNNEST(generate_series(0, ns - 1)) k(k),
       UNNEST(generate_series(0, ch - 1)) c(c)
  WHERE i % 6 = 5
)
SELECT CAST(i AS BIGINT) AS asset_id,
       container,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(MIN(v) AS BIGINT) AS min_v,
       CAST(MAX(v) AS BIGINT) AS max_v,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM vals GROUP BY i, container ORDER BY asset_id
"""


@query(
    "multimodal_decode_all",
    _DECODE_ALL_ORACLE,
    "Unified MIXED-format decode: one Arrow-batched mapInPandas pass "
    "magic-dispatches every asset to its REAL decoder (synthetic / WAV "
    "PCM / PPM / baseline JPEG / PNG / FLAC) and reduces exact integer "
    "stats inside the UDF — the crawl-shard shape where formats "
    "interleave and per-format pre-splits would multiply the scan; "
    "oracle = the union of all six closed forms",
    tags=("llm", "multimodal", "bench"),
)
def q_multimodal_decode_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from reddit_data_pipeline_engineering_spark.sources import multimodal as mm

    assets = mm.synthesize_media_assets(spark, n=_MM_N_ASSETS)
    return mm.media_decode_stats(assets).orderBy("asset_id")
