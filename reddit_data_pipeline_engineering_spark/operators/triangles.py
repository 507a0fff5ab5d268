"""Triangle counting over a co-occurrence graph (degree-oriented, sampled).

No reference counterpart (the reference is an OpenAQ ETL); this is the
third canonical distributed graph kernel next to connected components
(``operators/components.py``) and PageRank (``operators/pagerank.py``).

Scale design (the parts that survive a 100 TB co-purchase graph):

- **Degree orientation** (Schank & Wagner 2005; the MapReduce form is
  Suri & Vassilvitskii, WWW'11 "Counting triangles and the curse of the
  last reducer"): every undirected edge is directed from its lower
  (degree, node) endpoint to the higher one. Wedge generation then joins
  oriented edges on their SOURCE, so a hub of degree d contributes
  O(arboricity) wedges instead of O(d^2) — the classic skew killer for
  power-law graphs.
- **Deterministic edge sparsification** (DOULION, Tsourakakis et al.
  KDD'09): keep an edge iff its md5 bucket falls below ``pct``; the
  triangle count on the sampled graph times (100/pct)^3 is an unbiased
  estimate of the full count. md5 bucketing (not RNG) keeps the sample —
  and therefore the oracle replay — engine- and cluster-size-invariant.
- **Equi-join closure**: wedges (v, w) carry v < w by node id and the
  base edge set already stores each undirected pair as (u < v), so the
  closing-edge probe is a plain two-column hash equi-join — never an OR
  of two orderings (which would force a nested-loop join).

All arithmetic is integer, so a DuckDB oracle replays the whole pipeline
bit-for-bit, including the scaled estimator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint

# Wedge-closure Bloom prefilter sizing (guide §3.2): a single hash at
# ~8 bits/edge gives ~12% false positives — false positives only
# re-enter the exact closure join, never the result, so k=1 trades a
# little extra join input for halving the per-wedge probe cost (one
# xxhash64 + one array lookup) and an explode-free build, and 8 (not
# 16) bits/edge halves the bitmap-build stage for a still-7x wedge
# reduction (measured: build 1.0 s vs 1.5 s at 1.2M edges, filtered
# wedge rows 5.6M vs 3.3M of 41M). Below the edge floor the wedge set
# is too small for the two bitmap stages to pay for themselves. Tests
# force the device on tiny graphs by patching the module constant.
_BLOOM_BITS_PER_EDGE = 8
_BLOOM_K = 1
_BLOOM_MIN_EDGES = 500_000
_WORD_BITS = 64

# Exchange-free closure (guide §3.1 "broadcast the side that fits"):
# when the oriented adjacency (|E| total entries) fits a broadcast, the
# closure is computed map-side by intersecting the two endpoints'
# out-neighbor arrays — no wedge materialization and no closure
# exchange at all. Above the gate the wedge + bloom-prefilter path
# takes over (its bitmap is O(|E|) BITS, ~30x smaller state than the
# adjacency, so it survives graphs whose adjacency cannot broadcast).
# 4M entries ~ 64 MB of broadcast arrays — conservative for the
# default driver heap (0 disables the path).
_ADJ_BCAST_MAX_EDGES = 4_000_000


def _bloom_positions(u: Column, v: Column, m_bits: int) -> list[Column]:
    """k xxhash64 bit positions for one (u, v) edge key. Pure JVM
    expressions — this filter is plan-internal (never oracle-replayed:
    it cannot change results), so it uses the fast native hash, not the
    engine's oracle-mirrored salted-md5 device in ``operators/bloom``."""
    return [
        F.pmod(F.xxhash64(F.lit(seed), u, v), F.lit(m_bits))
        for seed in range(_BLOOM_K)
    ]


_PACK_CHUNK_WORDS = 2048


def _bloom_bits_df(edges: DataFrame, m_bits: int) -> DataFrame:
    """1-row ``(bits: array<long>)`` bitmap over the edge keys, built
    entirely executor-side: explode each edge to its k word/mask pairs,
    OR them per word (map-side partial agg -> one tiny shuffle), then
    pack the words into the final array in TWO levels — per-chunk
    arrays of ``_PACK_CHUNK_WORDS`` words built in parallel, then a
    final flatten over the few hundred chunk rows. A single-level pack
    (one collect_list+array_sort over all ~500k word structs) funnels
    the whole bitmap through one task and costs ~2.4 s at bench scale;
    the chunked pack does the same work in parallel tasks and leaves
    the single-task tail a ~256-row flatten. The bitmap never touches
    the driver or the py4j boundary."""
    n_words = m_bits // _WORD_BITS
    positions = _bloom_positions(F.col("u"), F.col("v"), m_bits)
    pos = (
        positions[0].alias("pos")
        if len(positions) == 1
        else F.explode(F.array(*positions)).alias("pos")
    )
    masks = edges.select(pos).select(
        (F.col("pos") / _WORD_BITS).cast("int").alias("word"),
        F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (F.col("pos") % _WORD_BITS).cast("int"),
        ).alias("mask"),
    )
    # Union a zero mask for every word so the per-word OR comes out
    # dense (absent words -> 0) without a separate densifying join.
    # (NOT via element_at on a collected map: map lookup is a linear
    # scan of ArrayBasedMapData, which would make this O(n_words^2).)
    zeros = edges.sparkSession.range(n_words).select(
        F.col("id").cast("int").alias("word"),
        F.lit(0).cast("long").alias("mask"),
    )
    dense = (
        masks.unionAll(zeros)
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    chunks = (
        dense.groupBy(
            (F.col("word") / _PACK_CHUNK_WORDS).cast("int").alias("chunk")
        )
        .agg(
            F.array_sort(F.collect_list(F.struct("word", "bits"))).alias("a")
        )
        .select(
            "chunk",
            F.transform(F.col("a"), lambda x: x["bits"]).alias("arr"),
        )
    )
    return chunks.agg(
        F.array_sort(F.collect_list(F.struct("chunk", "arr"))).alias("c")
    ).select(
        F.flatten(
            F.transform(F.col("c"), lambda x: x["arr"])
        ).alias("_bloom_bits")
    )


def _bloom_probe(bits: Column, u: Column, v: Column, m_bits: int) -> Column:
    """Membership test: k array lookups + bit tests, fused map-side into
    the wedge-producing stage — definite non-edges never reach the
    closure exchange."""
    cond = None
    for p in _bloom_positions(u, v, m_bits):
        word = F.element_at(bits, (p / _WORD_BITS).cast("int") + 1)
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (p % _WORD_BITS).cast("int"),
        )
        test = word.bitwiseAND(mask) != 0
        cond = test if cond is None else cond & test
    return cond


def _prefilter_wedges(
    wedges: DataFrame, edges: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """Bloom-prefilter candidate wedges ``(src, v, w)`` against the edge
    set before the closure join's exchange (guide §3.2): on the bench
    graph this drops the 41M-row wedge shuffle to ~1M rows for two
    k-row bitmap stages. The bitmap is O(bits/edge) broadcast state —
    ~30x smaller than broadcasting the edge set as a hash relation, so
    the device survives graphs whose edge list itself cannot broadcast.
    No false negatives, and false positives are shed by the exact join
    that follows, so the closure result is bit-identical."""
    if n_edges is None:
        n_edges = edges.count()
    if n_edges < _BLOOM_MIN_EDGES:
        return wedges
    m_bits = _WORD_BITS
    while m_bits < n_edges * _BLOOM_BITS_PER_EDGE:
        m_bits *= 2
    bits_df = _bloom_bits_df(edges, m_bits)
    return (
        wedges.join(F.broadcast(bits_df))
        .filter(
            _bloom_probe(
                F.col("_bloom_bits"), F.col("v"), F.col("w"), m_bits
            )
        )
        .drop("_bloom_bits")
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected part co-purchase edges (u < v) from order baskets.

    Basket self-join on the order key: shuffle is keyed by ``l_orderkey``
    and output is bounded by orders * basket_size^2 (TPC-H baskets are
    <= 7 rows), not by |lineitem|^2.
    """
    a = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    return (
        a.join(b, ["ok"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def sample_edges(edges: DataFrame, pct: int) -> DataFrame:
    """Deterministic DOULION edge sample: md5 bucket of "u:v" < pct."""
    key = F.concat(
        F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    return edges.filter(bucket < pct)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected (u < v) edge set.

    Returns a 1-row DataFrame ``(n_wedges, n_triangles)``. Degree table
    is |V|-sized (small next to |E|) and joins broadcast under AQE; the
    wedge join and the closure probe are hash equi-joins.
    """
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    e1 = oriented.select("src", F.col("dst").alias("v"))
    e2 = oriented.select("src", F.col("dst").alias("w"))
    wedges = e1.join(e2, ["src"]).filter(F.col("v") < F.col("w"))
    # No bloom prefilter here (unlike per_node_triangles): this
    # entry point serves the DOULION-sampled estimator, whose edge
    # sample already bounds closure work — the gate's n_edges count
    # job alone cost more than the prefilter saved at every measured
    # scale (2.52 -> 3.11 s noop at sf0.1).
    closed = wedges.join(
        edges.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
    )
    n_wedges = wedges.agg(F.count(F.lit(1)).alias("n_wedges"))
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_wedges.crossJoin(n_tri)


def per_node_triangles(
    edges: DataFrame, deg: DataFrame | None = None
) -> DataFrame:
    """Exact triangle count PER NODE, ``(node, t)``, for an undirected
    (u < v) edge set — the local-clustering companion of
    ``triangle_count``.

    Same degree-ordered orientation: each triangle materializes exactly
    once, then credits all three corners via a 3-way explode + one
    keyed count. The orientation bounds the closure work by
    sum(outdeg^2) <= O(|E|^1.5) — no hot-node cap needed, the standard
    enumeration guarantee. Nodes in no triangle are absent (left-join +
    coalesce at the call site).

    Two closure strategies behind one size gate (both exact, pinned
    equal by ``tests/test_graph.py``): at or below
    ``_ADJ_BCAST_MAX_EDGES`` the oriented adjacency is
    broadcast and each edge intersects its endpoints' out-neighbor
    arrays map-side (zero closure exchanges); above it, wedge
    generation + bloom prefilter + shuffled-hash closure join (bitmap
    state is O(|E|) bits, so the fallback survives graphs whose
    adjacency cannot broadcast).

    ``deg`` lets a caller that already materialized the ``(node, d)``
    degree table share it instead of paying the union+groupBy pass
    three more times (du broadcast, dv broadcast).
    """
    if deg is None:
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    n_edges = edges.count()
    if 0 < n_edges <= _ADJ_BCAST_MAX_EDGES:
        # Exchange-free closure: intersect the endpoints' broadcast
        # out-neighbor arrays per oriented edge. For a triangle with
        # orientation DAG x->y, x->z, y->z exactly one oriented edge
        # (x, y) sees z in N+(x) & N+(y), so each triangle appears
        # once with the same (x, y, z) corner multiset the wedge form
        # emits — only the enumeration order differs, which the corner
        # count cannot see.
        adj = oriented.groupBy("src").agg(
            F.collect_list("dst").alias("nbrs")
        )
        na = adj.select(F.col("src").alias("a"), F.col("nbrs").alias("na"))
        nb = adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nb"))
        closed = (
            oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .join(F.broadcast(na), "a")
            # inner join: a dst with no out-edges closes no triangle.
            .join(F.broadcast(nb), "b")
            .select(
                F.col("a").alias("src"),
                F.col("b").alias("v"),
                F.explode(F.array_intersect("na", "nb")).alias("w"),
            )
        )
    else:
        e1 = oriented.select("src", F.col("dst").alias("v"))
        e2 = oriented.select("src", F.col("dst").alias("w"))
        wedges = e1.join(e2, ["src"]).filter(F.col("v") < F.col("w"))
        closed = _prefilter_wedges(wedges, edges, n_edges=n_edges).join(
            # shuffled-hash, not sort-merge: the wedge side is the bulk
            # and a hash probe skips sorting it (guide §3.1); the edge
            # side is the per-partition build and is always the smaller
            # relation.
            edges.select(F.col("u").alias("v"), F.col("v").alias("w")).hint(
                "shuffle_hash"
            ),
            ["v", "w"],
        )
    # 3 corner branches share one pass
    closed = checkpoint(closed)
    corners = (
        closed.select(F.col("src").alias("node"))
        .unionAll(closed.select(F.col("v").alias("node")))
        .unionAll(closed.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
