"""Near-duplicate detection operators for document corpora.

LLM-data-pipeline extension (no reference counterpart — the reference's
only dedup is the relational window dedup, SURVEY.md §2.5). Four families:

- exact      — md5 hash-groupBy (operators/dedup.exact_hash_dedup)
- MinHash    — per-row signature (map-only!) + banded LSH bucket join
- n-gram Jaccard — shingle explode + equi-join on shingle
- SimHash    — bitwise majority of token hashes, per-row

Portability note: signatures use md5-derived hashes (not Spark's
murmur3 ``F.hash``) so a DuckDB oracle computes identical values.
MinHash "permutations" are min-of-keyed-md5 — statistically equivalent to
k independent hash functions.

Scale design:
- signatures are pure column expressions over the token/shingle array —
  zero shuffles; at 100 TB this is a map-only pass fused into the scan.
- LSH candidate pairs shuffle only on (band_id, band_hash) — bucket sizes
  are bounded by collision probability, so the join never explodes the way
  an all-pairs comparison would.
- Jaccard join shuffles on the shingle hash; frequent-shingle skew is the
  known hazard — ``jaccard_candidate_pairs`` takes ``max_shingle_freq`` to
  drop stop-shingles (standard practice) which also bounds skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions.text import shingles_of, tokens


def _keyed_md5(seed: int, col: Column) -> Column:
    return F.md5(F.concat(F.lit(f"{seed}|"), col))


def _keyed_md5_fn(seed: int):
    # NB: must return a ONE-parameter lambda — PySpark's higher-order
    # functions treat a second lambda parameter as the array index.
    return lambda s: _keyed_md5(seed, s)


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_len: int = 2,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: sig_k = min over shingles of
    md5(k || '|' || shingle). Map-only — no explode, no shuffle.

    Tokens and the shingle array are staged through separate projections so
    each is computed once per row; Catalyst keeps the stages because the
    aliased expressions are non-cheap and multiply referenced (inlining
    them re-tokenizes per shingle index and per signature — 10x slower).

    ``shingle_arrays`` lets a caller that already materialized the
    per-doc distinct-shingle arrays (``setsim._shingle_arrays`` shape:
    id, __arr) feed them directly — the tokenize+shingle pass is then
    skipped entirely (``lsh_quality_eval`` computes the exact-join and
    MinHash legs over the SAME shingle sets). The arrays must be the
    distinct ``shingle_len``-shingles of ``text_col`` — identical
    construction, identical signatures.
    """
    if shingle_arrays is not None:
        shingled = shingle_arrays.select(
            F.col(id_col), F.col("__arr").alias("__sh")
        )
    else:
        toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        shingled = toked.select(
            F.col(id_col),
            F.array_distinct(shingles_of("__toks", shingle_len)).alias("__sh"),
        )
    sigs = [
        F.array_min(F.transform("__sh", _keyed_md5_fn(k))).alias(f"sig_{k}")
        for k in range(num_hashes)
    ]
    return shingled.select(F.col(id_col), *sigs)


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Banded-LSH candidate pairs from a signature table.

    Hash each band (rows_per_band consecutive sigs) to a bucket key,
    group by (band_id, bucket), and generate within-bucket pairs from the
    collected sorted id list (id_a < id_b), then count matching bands per
    pair. One shuffle keyed on the bucket + one keyed on the pair — the
    expensive signature lineage is computed ONCE (a self-join would
    recompute it for both sides). Per-bucket memory is bounded because LSH
    bucket sizes are collision-bounded by construction.
    """
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    buckets = signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_id", "band.bucket")

    grouped = buckets.groupBy("band_id", "bucket").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    )
    # All ordered pairs from the sorted id list: element i with every
    # element after it (the 2-arg transform lambda receives (value, index)).
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def jaccard_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 2,
    max_shingle_freq: int | None = None,
    with_dropped_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for all shingle-sharing pairs.

    Each document's distinct-shingle set size rides along with the explode,
    so the whole computation is two shuffles and zero joins: group by
    shingle -> within-shingle pair generation from the collected (id, size)
    list -> per-pair intersection count; jaccard = i / (|A|+|B|-i).

    ``max_shingle_freq`` drops stop-shingles (standard practice): it bounds
    both the f^2 pair blow-up and per-shingle skew/memory at scale.

    ``with_dropped_shingles=True`` returns ``(pairs, dropped)`` where
    ``dropped`` lists the capped (shingle, n_docs) rows — the same
    batch-caller-visible recall accounting as
    ``simhash_hamming_pairs(with_dropped_buckets=True)`` (ADVICE r06):
    an intersection count can be UNDERSTATED for pairs sharing a
    dropped stop-shingle, and callers gate on that without a
    QueryExecutionListener.
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    shingled = toked.select(
        F.col(id_col),
        F.array_distinct(shingles_of("__toks", shingle_len)).alias("__sh"),
    )
    # explode_outer + null filter, NOT plain explode: Catalyst's
    # InferFiltersFromGenerate would push a size()>0 filter below the
    # staged projections, re-inlining the tokenization into an O(tokens^2)
    # per-row predicate (observed 8x on this operator's bench).
    doc_sh = shingled.select(
        F.col(id_col),
        F.size("__sh").alias("set_size"),
        F.explode_outer("__sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    grouped = doc_sh.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("set_size")))
        ).alias("docs")
    )
    dropped = grouped.limit(0).select(
        "shingle", F.size("docs").alias("n_docs")
    )
    if max_shingle_freq is not None:
        dropped = grouped.filter(
            F.size("docs") > max_shingle_freq
        ).select("shingle", F.size("docs").alias("n_docs"))
        # No-silent-caps: the dropped stop-shingle count rides the plan as a
        # named observation (free with the action; readable via listener /
        # QueryExecution.observedMetrics) instead of a second counting job.
        grouped = grouped.observe(
            "jaccard_shingle_cap",
            F.sum((F.size("docs") > max_shingle_freq).cast("long")).alias(
                "dropped_shingles"
            ),
            F.count(F.lit(1)).alias("total_shingles"),
        )
        grouped = grouped.filter(F.size("docs") <= max_shingle_freq)
    pairs = F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + F.lit(2), F.size("docs")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["set_size"].alias("size_a"),
                    y["set_size"].alias("size_b"),
                ),
            ),
        )
    )
    out = (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.size_a", "p.size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            "size_a",
            "size_b",
            (
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    if with_dropped_shingles:
        return out, dropped
    return out


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over token multiset, md5-derived bit planes.

    h(token) = first 8 md5 hex chars as a 32-bit int; bit i of the
    signature is the sign of sum over tokens of count * (±1 per h's bit i).
    Explode + one groupBy (partial-aggregated) — scales as a single
    shuffle keyed by document id.
    """
    # explode_outer: see jaccard_candidate_pairs — plain explode gets an
    # inferred size()>0 filter that re-tokenizes every row.
    tok = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("tok")
    ).filter(F.col("tok").isNotNull())
    counted = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    counted = counted.withColumn("h", h)
    bit_sums = [
        F.sum(
            F.col("cnt")
            * (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = counted.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(
    signatures: DataFrame,
    id_col: str,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = 64,
    with_dropped_buckets: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash (Manku et al., WWW'07).

    The fingerprint is split into ``bands`` contiguous bit blocks; by
    pigeonhole, any pair within hamming distance ``bands - 1`` shares at
    least one untouched block, so grouping on (band_id, block value)
    finds EVERY pair at distance <= max_hamming (which must be
    < bands) — the web-scale dedup scheme that needs no similarity join.
    Verification is native bit arithmetic: popcount(sig_a XOR sig_b).

    Plan shape: one bucket-keyed shuffle (map-side band explode), pair
    generation from the collected per-bucket member list (bucket sizes
    are bounded by the band width: 2^(bits/bands) buckets per band
    spread the corpus, and production widens to 64-bit/4x16 so buckets
    stay collision-bounded at any corpus size), one pair-keyed aggregate
    to dedup multi-band matches. The signature lineage is computed ONCE
    — no self-join.

    ``with_dropped_buckets=True`` returns ``(pairs, dropped)`` where
    ``dropped`` is a companion DataFrame of the (band_id, bucket,
    n_members) rows the skew cap excluded from candidate generation —
    recall loss is then detectable by any batch caller with a plain
    ``dropped.count()`` / threshold check, no QueryExecutionListener
    needed (ADVICE r06; the in-plan observe metric still fires either
    way for callers that do listen).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = signatures.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*band_structs)).alias("band"),
    ).select(id_col, "simhash", "band.band_id", "band.bucket")
    grouped = buckets.groupBy("band_id", "bucket").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"), F.col("simhash").alias("sig")
                )
            )
        ).alias("members")
    )
    dropped = grouped.limit(0).select(
        "band_id", "bucket", F.size("members").alias("n_members")
    )
    if max_bucket is not None:
        dropped = grouped.filter(F.size("members") > max_bucket).select(
            "band_id", "bucket", F.size("members").alias("n_members")
        )
        # Skew cap (the jaccard stop-shingle pattern): SimHash bits are
        # CORRELATED on homogeneous corpora — the majority sign of the
        # common vocabulary drives most documents' bits — so band values
        # do NOT spread uniformly and a hot bucket's in-memory pair
        # expansion is quadratic (measured: OOM at 50k docs without the
        # cap). A bucket matching more members than any plausible true
        # duplicate cluster has no discriminating power; it is dropped
        # from candidate generation with the count observed in-plan (no
        # silent caps). Size the cap above the largest expected
        # duplicate cluster — or run exact_dedup first so clusters
        # collapse to one survivor before near-dup detection.
        grouped = grouped.observe(
            "simhash_bucket_cap",
            F.sum((F.size("members") > max_bucket).cast("long")).alias(
                "dropped_buckets"
            ),
            F.count(F.lit(1)).alias("total_buckets"),
        )
        grouped = grouped.filter(F.size("members") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            "members",
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + F.lit(2), F.size("members")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    x["sig"].alias("sig_a"),
                    y["id"].alias("id_b"),
                    y["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .groupBy("id_a", "id_b", "sig_a", "sig_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    out = cand.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("sig_a").bitwiseXOR(F.col("sig_b"))
        ).cast("long").alias("hamming"),
        F.col("n_bands").cast("long").alias("n_bands"),
    ).filter(F.col("hamming") <= max_hamming)
    if with_dropped_buckets:
        return out, dropped
    return out
