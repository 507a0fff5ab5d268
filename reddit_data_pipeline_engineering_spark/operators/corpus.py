"""Corpus-preparation operators: decontamination, sequence packing, mixing.

No reference counterpart (the reference is an OpenAQ ETL,
``glue_jobs/process_openaq_raw.py``); these are the corpus-level steps a
large-scale training-data pipeline runs between dedup and the tokenizer:

- **benchmark decontamination** — drop/flag training documents that share
  word n-grams with an evaluation set. The eval set is tiny next to the
  corpus, so its distinct-shingle dim is BROADCAST and the whole pass is a
  map-side hash join fused into the corpus scan: no shuffle of the 100 TB
  side beyond the per-doc overlap count.
- **sequence packing** — assign documents to fixed-token-budget packs by
  offset-binning a per-group cumulative token count. One window (= one
  shuffle on the group key); groups are bounded (per-language), so no
  single-partition global window at scale.
- **mixture rebalancing** — compute per-source keep rates toward a uniform
  mix, then apply them with the same deterministic md5-bucket sampling the
  split queries use. The plan side is an S-row aggregate (S = number of
  sources); the apply side is a broadcast join + map filter — again nothing
  but one scan over the big side.

All arithmetic is integer or mirrored-IEEE so a DuckDB oracle reproduces
results bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions import text as tx


def benchmark_overlap(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    bench_pred: Column,
    shingle_len: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Flag corpus documents whose word n-grams overlap a benchmark subset.

    ``bench_pred`` (a boolean Column over ``docs``'s columns) selects the
    benchmark rows; every other row is scored by the count of distinct
    ``shingle_len``-gram shingles it shares with ANY benchmark document.

    Plan: tokens and shingle arrays are staged through projections (see
    functions.text.shingles_of on why inline tokenization is O(tokens^2)),
    the benchmark shingle dim is deduped and broadcast, and the overlap is
    a broadcast semi-ish inner join + per-doc countDistinct. The corpus
    side is touched once; only per-doc counts shuffle.
    """
    staged = docs.select(id_col, bench_pred.alias("__is_bench"), text_col)
    toks = staged.select(
        id_col, "__is_bench", tx.tokens(text_col).alias("__toks")
    )
    sh = toks.select(
        id_col,
        "__is_bench",
        F.array_distinct(tx.shingles_of("__toks", shingle_len)).alias("__sh"),
    )
    exploded = sh.select(
        id_col, "__is_bench", F.explode_outer("__sh").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    bench = exploded.filter(F.col("__is_bench")).select("shingle").distinct()
    corpus = exploded.filter(~F.col("__is_bench"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_overlap"))
    )
    base = docs.filter(~bench_pred).select(id_col)
    return base.join(hits, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint")).alias("n_overlap"),
        (
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint"))
            >= F.lit(min_overlap)
        ).alias("contaminated"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    max_tokens: int,
    partition_cols: Sequence[str],
) -> DataFrame:
    """Assign each row a pack id by offset-binning the running token count.

    Documents are laid end-to-end in ``order_col`` order within each
    partition group; a document belongs to the pack where it STARTS
    (``floor(preceding_tokens / max_tokens)``). Deterministic, one window
    shuffle on the group key, no state — the standard approximation of
    greedy sequence packing that stays embarrassingly parallel.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w).cast("bigint")
    start = cum - F.col(token_col)
    return df.withColumn("__cum_tokens", cum).withColumn(
        "pack_id",
        F.floor(start / F.lit(float(max_tokens))).cast("bigint"),
    )


def source_mix_plan(df: DataFrame, group_col: str) -> DataFrame:
    """Per-source uniform-mixture plan: quota = ceil(total / n_sources),
    next to each source's document count ``n_docs``.

    The window below is unpartitioned, which is normally a scale bug — here
    it runs over the S-row per-source aggregate (S = distinct sources), not
    the corpus, so the single task holds S rows regardless of data size.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w).cast("double")
    n_groups = F.count(F.lit(1)).over(w)
    quota = F.ceil(total / n_groups).cast("bigint")
    return counts.select(
        group_col,
        F.col("n_docs"),
        quota.alias("quota"),
        F.least(F.lit(1.0), quota / F.col("n_docs")).alias("keep_rate"),
    )


def md5_bucket(col: Column | str, buckets: int) -> Column:
    """Deterministic [0, buckets) bucket from a stable id — identical on
    any engine / cluster size / rerun (same expression as the split
    queries; DuckDB mirror: ('0x' || substr(md5(id), 1, 8))::BIGINT % B).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def chunk_documents(
    docs: DataFrame, text_col: str, id_col: str, chunk_words: int = 10
) -> DataFrame:
    """Split each document into consecutive ``chunk_words``-word chunks.

    The C4 pipeline dedups at the LINE level; this corpus has no line
    structure, so the deterministic equivalent is fixed-width word
    windows. Chunking is MAP-ONLY: the word array is sliced in place
    (``transform(sequence(...), slice)``) and exploded — no
    posexplode-then-regroup shuffle. Output: (id, chunk_idx, chunk_text).
    """
    arr = F.split(F.col(text_col), " ")
    n_chunks = F.floor((F.size(arr) + (chunk_words - 1)) / chunk_words)
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(arr, i * chunk_words + 1, chunk_words), " "
        ),
    )
    return docs.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )


def duplicate_spans(
    docs: DataFrame, text_col: str, id_col: str, chunk_words: int = 10
) -> DataFrame:
    """Maximal duplicated-span extraction — exact substring dedup at
    chunk resolution (the missing grain between doc-level and
    chunk-level survivorship; Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", find exact duplicated spans via
    suffix arrays — a sequential structure with no bounded distributed
    analogue, so this engine quantizes span boundaries to the existing
    ``chunk_documents`` windows instead).

    Pipeline (2 shuffles total, nothing all-pairs):

    1. map-only chunking into ``chunk_words``-word windows;
    2. corpus-wide duplicate flag per window: ``count() over
       (partition by md5(chunk_text))`` — one shuffle keyed on content
       hash (uniform by construction, no skew);
    3. gaps-and-islands run merge per document: ``chunk_idx -
       row_number() over (partition by id order by chunk_idx)`` groups
       consecutive duplicated windows into maximal spans — one shuffle
       keyed on ``id_col``, partition size bounded by document length;
    4. span aggregate on (id, run) — REUSES the step-3 hash
       partitioning on ``id_col`` (subset clustering), so no third
       shuffle.

    Adjacent duplicated windows merge into one span even when their
    copies live in different documents — the span is "text that exists
    elsewhere", not "text with a single common source", matching the
    remove-all-duplicated-bytes semantics of substring dedup.

    Output: (id_col, span_start [chunk index], span_chunks, span_chars).
    """
    chunks = chunk_documents(docs, text_col, id_col, chunk_words)
    freq_w = Window.partitionBy(F.md5("chunk_text"))
    run_w = Window.partitionBy(id_col).orderBy("chunk_idx")
    dup = chunks.withColumn("__n_occ", F.count(F.lit(1)).over(freq_w)).filter(
        F.col("__n_occ") > 1
    )
    runs = dup.withColumn(
        "__run", F.col("chunk_idx") - F.row_number().over(run_w)
    )
    return (
        runs.groupBy(id_col, "__run")
        .agg(
            F.min("chunk_idx").alias("span_start"),
            F.count(F.lit(1)).alias("span_chunks"),
            F.sum(F.length("chunk_text")).alias("span_chars"),
        )
        .drop("__run")
    )


def apply_mix_plan(
    df: DataFrame, plan: DataFrame, group_col: str, id_col: str
) -> DataFrame:
    """Apply a mixture plan: keep rows whose md5 bucket clears the per-group
    keep rate. The plan is S rows — broadcast — so this is a map-side
    filter over one corpus scan."""
    keep = md5_bucket(id_col, 10000) < F.floor(
        F.col("keep_rate") * F.lit(10000.0)
    ).cast("long")
    return df.join(F.broadcast(plan), group_col).filter(keep)
