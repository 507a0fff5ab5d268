"""Exact set-similarity self-join via prefix filtering (PPJoin-lite).

Bayardo et al., "Scaling Up All Pairs Similarity Search" (WWW'07) /
Chaudhuri et al. (ICDE'06): for Jaccard(A, B) >= t, order all set
elements by a consistent global ranking and keep each set's first
|X| - ceil(t*|X|) + 1 elements (its PREFIX); any qualifying pair must
share a prefix element, so candidate generation joins prefixes only and
exact verification runs on the (small) candidate set. Ranking
rarest-first (global document frequency ascending) makes the prefix
buckets the smallest ones the data allows.

This is the zero-false-negative complement of the MinHash/LSH path in
``operators/text_dedup.py``: no bands, no hash collisions, no recall
knob — the output is the exact Jaccard-threshold relation. The
correctness of the prefix bound is property-tested against brute-force
Jaccard in ``tests/test_properties.py``.

Scale shape (SCALE.md §4): one explode + distinct for (doc, shingle);
the df dim is O(shingle vocab) so it is NOT broadcast — the rank join
shuffles on the shingle key, colocated with the df build; candidates
are bounded by sum of df^2 over prefix shingles; verification fan-out
by candidates x doc size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint
from reddit_data_pipeline_engineering_spark.functions.text import shingles_of, tokens


def _shingle_arrays(
    docs: DataFrame, text_col: str, id_col: str, shingle_len: int
) -> DataFrame:
    """(id, __arr, n): per-doc DISTINCT shingle array + its size,
    materialized once (eager localCheckpoint). Every leg of the
    prefix-filter joins re-reads the shingle representation — df dim,
    rank window, and both verification sides — so without this the
    tokenize+shingle subtree re-executes four to five times per query.
    Carrying the array also makes the set SIZE a map-side ``size()``
    (the old shape re-aggregated the exploded rows per doc) and lets
    verification intersect the two arrays directly instead of
    re-joining the exploded relation twice and re-counting."""
    toked = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return checkpoint(
        toked.select(
            id_col,
            F.array_distinct(shingles_of("__toks", shingle_len)).alias(
                "__arr"
            ),
        )
        # cast: size() is INT where the old per-doc count() was LONG —
        # na*nb and the squared-cosine arithmetic downstream must not
        # overflow 32 bits for large shingle sets.
        .withColumn("n", F.size("__arr").cast("long")),
        eager=True,
    )


def setsim_join(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int,
    t_num: int,
    t_den: int,
    metric: str = "jaccard",
    arrs: DataFrame | None = None,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with shingle-set similarity >= t_num/t_den.

    ``metric="jaccard"`` returns (doc_a, doc_b, n_inter, n_union,
    jacc_bps), jacc_bps = n_inter * 10000 div n_union. The prefix bound
    is |d| - ceil(t*|d|) + 1: Jaccard >= t forces an overlap of at
    least ceil(t*|d|) elements, so a qualifying pair must share one of
    the first |d| - ceil(t*|d|) + 1 elements under the global order.

    ``metric="cosine"`` (binary set cosine i / sqrt(na*nb) — Bayardo et
    al.'s original metric) returns (doc_a, doc_b, n_inter, cos2_ppm),
    cos2_ppm = n_inter^2 * 10^6 div (na*nb), verified as i^2 * t_den^2
    >= t_num^2 * na * nb — squaring keeps everything integer. The
    prefix bound uses t^2: cos >= t implies i >= t*sqrt(na*nb) >=
    t*sqrt(na*i) (since nb >= i), hence i >= ceil(t^2 * na) — so the
    prefix is |d| - ceil(t^2 * |d|) + 1, a LONGER prefix than
    Jaccard's at the same threshold (cosine is the laxer metric).

    Integer arithmetic throughout either way — the relation is
    engine-exact.

    ``arrs`` lets a caller that already materialized the per-doc
    shingle-array relation (``_shingle_arrays`` shape: id, __arr, n)
    share it instead of paying the tokenize+shingle pass again —
    ``lsh_quality_eval`` runs this exact join and the MinHash leg over
    the SAME shingle sets, so the representation is computed once.
    """
    if metric not in ("jaccard", "cosine"):
        raise ValueError(f"unknown metric {metric!r} (jaccard|cosine)")
    if arrs is None:
        arrs = _shingle_arrays(docs, text_col, id_col, shingle_len)
    sh = arrs.select(id_col, "n", F.explode("__arr").alias("s"))
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "s")
    # n rides on the exploded rows (map-side size()), so the old
    # per-doc size re-aggregation + re-join is gone.
    ranked = sh.join(df, "s").withColumn("pos", F.row_number().over(w))
    # ceil(x*n) via (num*n + den - 1) div den on the (possibly squared) ratio
    if metric == "jaccard":
        min_overlap = f"({t_num} * n + {t_den} - 1) div {t_den}"
    else:
        min_overlap = (
            f"({t_num * t_num} * n + {t_den * t_den} - 1)"
            f" div {t_den * t_den}"
        )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(min_overlap) + 1
    ).select(id_col, "s", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter (Bayardo et al. §3): |A∩B| <= min(na, nb) while the
    # threshold forces |A∩B| >= t*max (Jaccard, via the union bound) or
    # min >= t^2*max (cosine, via i^2 >= t^2*na*nb) — so size-mismatched
    # pairs are shed INSIDE the candidate join, before the distinct and
    # the verification joins. A necessary condition of the exact
    # predicate: zero false negatives, result unchanged.
    if metric == "jaccard":
        length_ok = t_num * F.greatest(
            F.col("a.n"), F.col("b.n")
        ) <= t_den * F.least(F.col("a.n"), F.col("b.n"))
    else:
        length_ok = (t_num * t_num) * F.greatest(
            F.col("a.n"), F.col("b.n")
        ) <= (t_den * t_den) * F.least(F.col("a.n"), F.col("b.n"))
    # n is functional on the id, so carrying (na, nb) through the
    # candidate distinct costs nothing and saves two size re-joins (and
    # a second sz aggregation subtree) at the tail.
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & length_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # Verification: intersect the two materialized shingle arrays
    # map-side — candidates share a prefix shingle by construction, so
    # n_inter >= 1 exactly as the old exploded x⋈y⋈count produced.
    pa = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("__arr").alias("__arr_a")
    )
    pb = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("__arr").alias("__arr_b")
    )
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            # cast: size() is INT where the old count() was LONG — the
            # downstream squared-cosine arithmetic overflows 32 bits.
            F.size(F.array_intersect("__arr_a", "__arr_b"))
            .cast("long")
            .alias("n_inter"),
        )
    )
    return _setsim_finish(inter, metric, t_num, t_den)


def _setsim_finish(
    inter: DataFrame, metric: str, t_num: int, t_den: int
) -> DataFrame:
    if metric == "jaccard":
        return (
            inter.filter(
                F.col("n_inter") * t_den
                >= t_num * (F.col("na") + F.col("nb") - F.col("n_inter"))
            )
            .select(
                "doc_a",
                "doc_b",
                F.col("n_inter").cast("long").alias("n_inter"),
                (F.col("na") + F.col("nb") - F.col("n_inter"))
                .cast("long")
                .alias("n_union"),
                F.expr("n_inter * 10000 div (na + nb - n_inter)")
                .cast("long")
                .alias("jacc_bps"),
            )
            .orderBy("doc_a", "doc_b")
        )
    return (
        inter.filter(
            F.col("n_inter") * F.col("n_inter") * (t_den * t_den)
            >= (t_num * t_num) * F.col("na") * F.col("nb")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.expr("n_inter * n_inter * 1000000 div (na * nb)")
            .cast("long")
            .alias("cos2_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_join(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """All ORDERED pairs (doc_a != doc_b) with shingle-set containment
    |A ∩ B| / |A| >= t_num/t_den — the asymmetric dedup mode (quote /
    subset / excerpt detection) the symmetric Jaccard and cosine joins
    cannot express: a short document fully quoted inside a long one has
    high containment but low Jaccard.

    Prefix filtering is one-sided: containment >= t forces an overlap
    of ceil(t*na), so a qualifying pair shares one of A's first
    na - ceil(t*na) + 1 elements under the rarest-first global order —
    but B's own size bounds nothing (it only appears in the numerator),
    so the B side indexes ALL its shingles. Candidates are therefore
    bounded by sum over A-prefix shingles of df(s) — rarest-first
    ordering makes those the shortest posting lists the data allows
    (this is why the ranking exists). Verification and output are exact
    integer arithmetic: cont_bps = n_inter * 10000 div na.

    Returns (doc_a, doc_b, n_inter, na, cont_bps) — doc_a is the
    contained (quoted) document.
    """
    arrs = _shingle_arrays(docs, text_col, id_col, shingle_len)
    sh = arrs.select(id_col, "n", F.explode("__arr").alias("s"))
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "s")
    ranked = sh.join(df, "s").withColumn("pos", F.row_number().over(w))
    min_overlap = f"({t_num} * n + {t_den} - 1) div {t_den}"  # ceil(t*na)
    prefix_a = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(min_overlap) + 1
    ).select(F.col(id_col).alias("doc_a"), "s", F.col("n").alias("na"))
    full_b = sh.select(
        F.col(id_col).alias("doc_b"), "s", F.col("n").alias("nb")
    )
    cand = (
        prefix_a.join(
            full_b,
            (prefix_a["s"] == full_b["s"])
            & (F.col("doc_a") != F.col("doc_b"))
            # Length filter: i <= nb while containment >= t forces
            # i >= t*na, so nb*t_den >= na*t_num is necessary — shed
            # size-mismatched pairs inside the candidate join (exact,
            # zero false negatives).
            & (t_den * F.col("nb") >= t_num * F.col("na")),
        )
        .select("doc_a", "doc_b", "na")
        .distinct()
    )
    pa = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("__arr").alias("__arr_a")
    )
    pb = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("__arr").alias("__arr_b")
    )
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "na",
            # cast: size() is INT where the old count() was LONG — the
            # downstream squared-cosine arithmetic overflows 32 bits.
            F.size(F.array_intersect("__arr_a", "__arr_b"))
            .cast("long")
            .alias("n_inter"),
        )
    )
    return (
        inter.filter(F.col("n_inter") * t_den >= t_num * F.col("na"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("na").cast("long").alias("na"),
            F.expr("n_inter * 10000 div na").cast("long").alias("cont_bps"),
        )
        .orderBy("doc_a", "doc_b")
    )
