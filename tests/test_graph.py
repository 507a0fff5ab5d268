"""Units for the integer-exact PageRank operator."""

from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.operators import pagerank as pr


def _ranks(spark, edges, iters=3):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pr.pagerank(df, iters=iters)
    return {r.node: r.rank for r in out.collect()}


def _case_symmetric_triangle_ranks_equal(spark):
    edges = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    got = _ranks(spark, edges)
    assert len(set(got.values())) == 1
    # Mass is conserved up to truncation: each rank stays ~scale.
    assert abs(next(iter(got.values())) - pr.SCALE) < 10


def _case_star_hub_outranks_leaves(spark):
    hub, leaves = 0, [1, 2, 3, 4]
    edges = [(hub, leaf) for leaf in leaves] + [(leaf, hub) for leaf in leaves]
    got = _ranks(spark, edges)
    assert all(got[hub] > got[leaf] for leaf in leaves)
    assert len({got[leaf] for leaf in leaves}) == 1  # leaves symmetric


def _case_no_inedge_node_gets_teleport_floor(spark):
    got = _ranks(spark, [(1, 2)], iters=2)
    teleport = (pr.SCALE * (pr.DAMP_DEN - pr.DAMP_NUM)) // pr.DAMP_DEN
    # Node 1 has no in-edges: exactly the teleport constant after any
    # iteration. Node 2 (dangling) accumulates 1's damped contribution.
    assert got[1] == teleport
    assert got[2] > teleport


def _case_iterations_are_deterministic_across_partitionings(spark):
    edges = [(a, b) for a in range(20) for b in range(20) if (a * 7 + b) % 5 == 0 and a != b]
    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    df8 = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    r1 = {r.node: r.rank for r in pr.pagerank(df1).collect()}
    r8 = {r.node: r.rank for r in pr.pagerank(df8).collect()}
    assert r1 == r8


def _case_triangle_count_matches_brute_force(spark):
    """Degree-oriented wedge counting must equal the O(V^3) definition on
    a fixed graph with hubs, chains, and overlapping triangles."""
    import itertools

    from reddit_data_pipeline_engineering_spark.operators import triangles as tri

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5), (3, 5),          # triangle sharing node 3
        (1, 4),                          # closes (1,3,4)
        (5, 6), (6, 7),                  # chain, no triangle
        (1, 5),                          # closes (1,4,5)? needs (1,4)+(4,5): yes
        (8, 9),                          # isolated edge
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    got = tri.triangle_count(df).head()
    nodes = sorted({n for e in edges for n in e})
    es = {frozenset(e) for e in edges}
    expected = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((a, c)), frozenset((b, c))} <= es
    )
    # (1,2,3), (3,4,5), (1,3,4), (1,4,5), (1,3,5)
    assert got.n_triangles == expected == 5


def _case_triangle_orientation_counts_each_once(spark):
    """K4: every one of the C(4,3)=4 triangles is counted exactly once
    even though all nodes have equal degree (tiebreak by node id)."""
    import itertools

    from reddit_data_pipeline_engineering_spark.operators import triangles as tri

    edges = [(a, b) for a, b in itertools.combinations(range(4), 2)]
    df = spark.createDataFrame(edges, "u long, v long")
    assert tri.triangle_count(df).head().n_triangles == 4


def _case_per_node_triangles_paths_agree(spark):
    """The broadcast-adjacency closure and the wedge(+bloom) closure are
    two strategies behind one size gate — both must emit the identical
    (node, t) relation, and match the O(V^3) brute force."""
    import itertools

    from reddit_data_pipeline_engineering_spark.operators import triangles as tri

    edges = [
        (a, b)
        for a, b in itertools.combinations(range(40), 2)
        if (a * 31 + b * 17) % 4 == 0
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    old_adj, old_bloom = tri._ADJ_BCAST_MAX_EDGES, tri._BLOOM_MIN_EDGES
    try:
        tri._ADJ_BCAST_MAX_EDGES = 10**9  # force adjacency broadcast
        via_adj = sorted(
            (r.node, r.t) for r in tri.per_node_triangles(df).collect()
        )
        tri._ADJ_BCAST_MAX_EDGES = 0  # force wedge path...
        tri._BLOOM_MIN_EDGES = 1  # ...with the bloom prefilter on
        via_wedge = sorted(
            (r.node, r.t) for r in tri.per_node_triangles(df).collect()
        )
    finally:
        tri._ADJ_BCAST_MAX_EDGES, tri._BLOOM_MIN_EDGES = old_adj, old_bloom
    assert via_adj == via_wedge
    es = {frozenset(e) for e in edges}
    brute = {}
    for a, b, c in itertools.combinations(range(40), 3):
        if {frozenset((a, b)), frozenset((a, c)), frozenset((b, c))} <= es:
            for n in (a, b, c):
                brute[n] = brute.get(n, 0) + 1
    assert via_adj == sorted(brute.items())
    assert sum(brute.values()) > 0  # fixture graph actually has triangles


def _case_bfs_levels_match_brute_force(spark):
    """Frontier expansion must produce exact hop distances — compared
    against a plain Python BFS on a graph with a cycle, a chain, and an
    unreachable component; nodes beyond the probe radius are absent."""
    from collections import deque

    from reddit_data_pipeline_engineering_spark.operators import bfs

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (7, 8)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src long, dst long")
    rounds = 3
    got = {r.node: r.dist for r in bfs.bfs_levels(df, 1, rounds).collect()}

    adj = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    dist = {1: 0}
    q = deque([1])
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    expected = {n: d for n, d in dist.items() if d <= rounds}
    assert got == expected
    assert 6 not in got          # 4 hops away: beyond the probe radius
    assert 7 not in got and 8 not in got  # unreachable component


def _case_kcore_peel_matches_brute_force(spark):
    """Fixed-round peeling must match a plain Python peel on a graph
    with a clique (survives), a pendant chain (peels immediately), and
    a triangle fringe (peels on the cascade round)."""
    from reddit_data_pipeline_engineering_spark.operators import kcore

    # 4-clique {1,2,3,4}; pendant chain 4-5-6; vertex 7 tied to 1 and 2
    # (degree 2) plus 8 tied to 7 (degree 1).
    und = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6), (1, 7), (2, 7), (7, 8),
    ]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    rounds, k = 3, 3
    got = [
        (r.round, r.nodes_alive, r.edges_alive)
        for r in kcore.kcore_peel(df, k=k, rounds=rounds).collect()
    ]

    edges = set(map(tuple, sym))
    expected = []
    for r in range(1, rounds + 1):
        deg = {}
        for a, _ in edges:
            deg[a] = deg.get(a, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        edges = {(a, b) for a, b in edges if a in alive and b in alive}
        expected.append((r, len(alive), len(edges) // 2))
    assert got == expected
    # the 4-clique is a 3-core: it must survive every round intact
    assert got[-1] == (rounds, 4, 6)
    # survival curve is monotone non-increasing
    assert all(got[i][1] >= got[i + 1][1] for i in range(len(got) - 1))


def test_kcore_bounded_path_equivalence(spark, monkeypatch):
    """The bounded-storage peel is only reachable at >=10M edges, so no
    ordinary test executes it (ADVICE r04). Force it by dropping the
    cutover to 0 and pin: identical rows to the lazy path on the same
    graph, and the full registry query still matches its DuckDB oracle
    while routed through the bounded loop."""
    from reddit_data_pipeline_engineering_spark import oracle as ora
    from reddit_data_pipeline_engineering_spark.operators import kcore
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    und = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6), (1, 7), (2, 7), (7, 8),
    ]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    lazy = [tuple(r) for r in kcore.kcore_peel(df, k=3, rounds=3).collect()]

    monkeypatch.setattr(kcore, "BOUNDED_STORAGE_MIN_EDGES", 0)
    bounded = [tuple(r) for r in kcore.kcore_peel(df, k=3, rounds=3).collect()]
    assert bounded == lazy

    queries()
    spec = REGISTRY["kcore_peel_counts"]
    res = ora.compare(
        "kcore_peel_counts[bounded]", spark, SF_SMALL, spec.fn, spec.oracle
    )
    assert res.ok, res.detail


def _case_label_propagation_matches_brute_force(spark):
    """Synchronous LPA with (max count, min label) tie-break against a
    plain Python replay: two cliques joined by one bridge edge must
    settle into two communities."""
    from reddit_data_pipeline_engineering_spark.operators import lpa

    und = [
        (1, 2), (1, 3), (2, 3),           # triangle A
        (4, 5), (4, 6), (5, 6), (4, 7), (5, 7), (6, 7),  # 4-clique B
        (3, 4),                            # bridge
    ]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    rounds = 3
    got = {
        r.node: r.label
        for r in lpa.label_propagation(df, rounds=rounds).collect()
    }

    adj = {}
    for a, b in sym:
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            counts = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(
                (lbl for lbl in counts),
                key=lambda lbl: (-counts[lbl], lbl),
            )
        labels = new
    assert got == labels
    # the 4-clique side must share one label distinct from the triangle's
    assert len({got[n] for n in (4, 5, 6, 7)}) == 1
    assert got[1] != got[4]


def _case_lpa_and_kcore_deterministic_across_partitionings(spark):
    """Both new kernels must produce identical results regardless of
    input partitioning — the window tie-breaks and count aggregates
    cannot depend on row order."""
    from reddit_data_pipeline_engineering_spark.operators import kcore, lpa

    und = [
        (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6),
        (6, 7), (7, 8), (8, 9), (9, 7),
    ]
    sym = und + [(b, a) for a, b in und]
    base = spark.createDataFrame(sym, "src long, dst long")
    for parts in (1, 3, 7):
        df = base.repartition(parts)
        got_l = sorted(
            (r.node, r.label)
            for r in lpa.label_propagation(df, rounds=3).collect()
        )
        got_k = sorted(
            tuple(r) for r in kcore.kcore_peel(df, k=2, rounds=3).collect()
        )
        if parts == 1:
            ref_l, ref_k = got_l, got_k
        else:
            assert got_l == ref_l
            assert got_k == ref_k


def test_lpa_colocated_path_equivalence(spark, monkeypatch):
    """The co-located LPA path (edges pre-partitioned/pre-sorted by src
    once, labels the only moving side — the sf10 fix for the broadcast->
    SMJ flip) is only reachable at >=10M edges. Force it with a zero
    cutover and pin identical labels to the default path, plus a green
    oracle compare for lpa_communities routed through it."""
    from reddit_data_pipeline_engineering_spark import oracle as ora
    from reddit_data_pipeline_engineering_spark.operators import lpa
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    und = [
        (1, 2), (1, 3), (2, 3),          # clique A
        (4, 5), (4, 6), (5, 6),          # clique B
        (3, 4),                          # bridge
        (6, 7),                          # pendant
    ]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    default = {
        (r.node, r.label)
        for r in lpa.label_propagation(df, rounds=3).collect()
    }
    monkeypatch.setattr(lpa, "COLOCATE_MIN_EDGES", 0)
    colocated = {
        (r.node, r.label)
        for r in lpa.label_propagation(df, rounds=3).collect()
    }
    assert colocated == default

    queries()
    spec = REGISTRY["lpa_communities"]
    res = ora.compare(
        "lpa_communities[colocated]", spark, SF_SMALL, spec.fn, spec.oracle
    )
    assert res.ok, res.detail


def test_eager_graph_kernels_release_their_caches(spark):
    """Kernels whose result is an eager checkpoint or a driver-built
    frame must leave no cache entry behind once the result is read:
    nothing reads their edge caches after the call, so a leftover entry
    is held until the periodic GC. Runs standalone (the cache manager
    is shared by every session of the context), after clearing what
    earlier tests left."""
    from reddit_data_pipeline_engineering_spark.operators import components as cc
    from reddit_data_pipeline_engineering_spark.operators import lpa

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 4), (7, 8)]
    df = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    kernels = {
        "pagerank": lambda: pr.pagerank(df),
        "personalized_pagerank": lambda: pr.personalized_pagerank(df, seeds),
        "connected_components[driver_finish]": (
            lambda: cc.connected_components(df, "src", "dst")
        ),
        "connected_components[distributed]": (
            lambda: cc.connected_components(
                df, "src", "dst", driver_finish_max_edges=0
            )
        ),
        "label_propagation": lambda: lpa.label_propagation(df, rounds=2),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    held = []
    for name, kernel in kernels.items():
        kernel().collect()
        if not cache.isEmpty():
            held.append(name)
            spark.catalog.clearCache()
    assert held == []


def _case_kcore_fixpoint_is_exact_core(spark):
    """Fixpoint peeling must return exactly the k-core: the 4-clique
    survives k=3 (every member keeps degree 3), everything else—
    including the triangle fringe that only dies on the cascade—is
    peeled, and convergence is detected (rounds << max_rounds)."""
    from reddit_data_pipeline_engineering_spark.operators import kcore

    und = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 6), (1, 7), (2, 7), (7, 8),
    ]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    surv, rounds = kcore.kcore_survivors(df, k=3, max_rounds=20)
    nodes = {r.src for r in surv.collect()}
    assert nodes == {1, 2, 3, 4}
    assert surv.count() == 12  # 4-clique, both directions
    assert rounds < 20
    # degree invariant: every survivor has >= k neighbors in the core
    from pyspark.sql import functions as SF
    degs = [r["cnt"] for r in surv.groupBy("src").agg(SF.count(SF.lit(1)).alias("cnt")).collect()]
    assert all(d >= 3 for d in degs)


def _case_sssp_distances_match_brute_force(spark):
    """Frontier-pruned Bellman-Ford must equal textbook full relaxation
    round-for-round — compared against a Python replay on a graph where
    the cheap path uses MORE hops than the direct edge (so a pure BFS
    would get it wrong), plus an unreachable component. Also pins the
    bounded-round semantics: the cheap long path to node 4 needs 3 edges,
    so a 2-round probe must report the expensive direct value instead."""
    from reddit_data_pipeline_engineering_spark.operators import bfs

    # 1 -> 4 direct costs 100; 1 -> 2 -> 3 -> 4 costs 3.
    edges = [
        (1, 4, 100),
        (1, 2, 1),
        (2, 3, 1),
        (3, 4, 1),
        (4, 5, 10),
        (7, 8, 1),  # unreachable from 1
    ]
    sym = edges + [(b, a, w) for a, b, w in edges]
    df = spark.createDataFrame(sym, "src long, dst long, w long")

    def brute(rounds):
        dist = {1: 0}
        for _ in range(rounds):
            nxt = dict(dist)
            for a, b, w in sym:
                if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                    nxt[b] = dist[a] + w
            dist = nxt
        return dist

    for rounds in (1, 2, 3, 4):
        got = {
            r.node: r.dist
            for r in bfs.sssp_distances(df, 1, rounds).collect()
        }
        assert got == brute(rounds), f"rounds={rounds}"
    assert bfs.sssp_distances(df, 1, 2).filter("node = 4").head().dist == 100
    assert bfs.sssp_distances(df, 1, 3).filter("node = 4").head().dist == 3


def _case_random_walks_match_brute_force(spark):
    """The md5-argmin hop choice must be replayable in plain Python
    (hashlib md5 over the same 'u|v|t' strings) — pins engine
    independence of the 'randomness' plus dead-end dropout and the
    path-string format."""
    import hashlib

    from reddit_data_pipeline_engineering_spark.operators import walks as wk

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 5)]  # 5 is a dead end
    df = spark.createDataFrame(edges, "src long, dst long")
    anchors = spark.createDataFrame([(1,), (4,)], "node long")
    steps = 3
    got = {
        r.walker: (r.node, r.path)
        for r in wk.random_walks(df, anchors, steps).collect()
    }

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    def h(u, v, t):
        return hashlib.md5(f"{u}|{v}|{t}".encode()).hexdigest()

    expected = {}
    for start in (1, 4):
        node, path, alive = start, str(start), True
        for t in range(1, steps + 1):
            nbrs = adj.get(node)
            if not nbrs:
                alive = False  # walker drops out, like the inner join
                break
            node = min(nbrs, key=lambda v: (h(node, v, t), v))
            path += f"->{node}"
        if alive:
            expected[start] = (node, path)
    assert got == expected
    assert 4 not in got  # died at the dead end before completing 3 hops


def _ppr_ranks(spark, edges, seed_nodes, iters=3):
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seed_nodes], "node long")
    out = pr.personalized_pagerank(df, seeds, iters=iters)
    return {r.node: r.rank for r in out.collect()}


def _ppr_brute(edges, seed_nodes, iters=3, scale=pr.SCALE):
    """Pure-python replay of the exact-integer PPR recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    teleport = (scale * (pr.DAMP_DEN - pr.DAMP_NUM)) // pr.DAMP_DEN
    rank = {n: (scale if n in seed_nodes else 0) for n in nodes}
    for _ in range(iters):
        m = {n: 0 for n in nodes}
        for u, v in edges:
            m[v] += rank[u] // deg[u]
        rank = {
            n: (teleport if n in seed_nodes else 0)
            + (pr.DAMP_NUM * m[n]) // pr.DAMP_DEN
            for n in nodes
        }
    return rank


def _case_ppr_matches_brute_force(spark):
    import random

    rng = random.Random(11)
    n = 15
    edges = list(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40)
        }
    )
    edges = [(u, v) for u, v in edges if u != v]
    seeds = {0, 1}
    got = _ppr_ranks(spark, edges, seeds)
    assert got == _ppr_brute(edges, seeds)


def _case_ppr_unreachable_nodes_hold_zero_mass(spark):
    # Two disjoint components; seeds live in one. The other component
    # must end with rank exactly 0 everywhere — restart mass never
    # teleports outside the seed set (the defining PPR property vs the
    # uniform-teleport pagerank, where every node holds >= teleport).
    edges = [(1, 2), (2, 1), (10, 11), (11, 10)]
    got = _ppr_ranks(spark, edges, {1})
    assert got[10] == got[11] == 0
    assert got[1] > 0 and got[2] > 0


def _case_ppr_seed_proximity_ordering(spark):
    # Chain seeded at one end. A path is bipartite, so finite power
    # iteration oscillates between parities (node 1 can transiently
    # trail node 2 — verified against the brute replay); the stable
    # proximity signal is WITHIN each parity class: rank decays with
    # distance from the seed among even positions and among odd ones.
    edges = []
    for i in range(4):
        edges += [(i, i + 1), (i + 1, i)]
    got = _ppr_ranks(spark, edges, {0}, iters=3)
    assert got[0] > got[2] > got[4]
    assert got[1] > got[3]



# --------------------------------------------------------------------------
# Concurrency harness (VERDICT r05 #5): every case above is a pure
# (build tiny graph -> run kernel -> assert) function against the shared
# session, so one module fixture runs them all over a thread pool. The
# two monkeypatch tests (bounded/colocated path equivalence) mutate
# MODULE GLOBALS (threshold constants) and therefore stay ordinary
# serial tests above.
# --------------------------------------------------------------------------

import pytest as _pytest
from concurrent.futures import ThreadPoolExecutor as _TPE

_GRAPH_CASES = {
    "symmetric_triangle_ranks_equal": _case_symmetric_triangle_ranks_equal,
    "star_hub_outranks_leaves": _case_star_hub_outranks_leaves,
    "no_inedge_node_gets_teleport_floor": _case_no_inedge_node_gets_teleport_floor,
    "iterations_are_deterministic_across_partitionings": _case_iterations_are_deterministic_across_partitionings,
    "triangle_count_matches_brute_force": _case_triangle_count_matches_brute_force,
    "triangle_orientation_counts_each_once": _case_triangle_orientation_counts_each_once,
    "per_node_triangles_paths_agree": _case_per_node_triangles_paths_agree,
    "bfs_levels_match_brute_force": _case_bfs_levels_match_brute_force,
    "kcore_peel_matches_brute_force": _case_kcore_peel_matches_brute_force,
    "label_propagation_matches_brute_force": _case_label_propagation_matches_brute_force,
    "lpa_and_kcore_deterministic_across_partitionings": _case_lpa_and_kcore_deterministic_across_partitionings,
    "kcore_fixpoint_is_exact_core": _case_kcore_fixpoint_is_exact_core,
    "sssp_distances_match_brute_force": _case_sssp_distances_match_brute_force,
    "random_walks_match_brute_force": _case_random_walks_match_brute_force,
    "ppr_matches_brute_force": _case_ppr_matches_brute_force,
    "ppr_unreachable_nodes_hold_zero_mass": _case_ppr_unreachable_nodes_hold_zero_mass,
    "ppr_seed_proximity_ordering": _case_ppr_seed_proximity_ordering,
}


@_pytest.fixture(scope="module")
def graph_outcomes(spark):
    def run(fn):
        try:
            fn(spark)
            return None
        except BaseException as exc:  # noqa: BLE001 - surfaced per test
            return exc

    with _TPE(max_workers=8) as ex:
        return dict(zip(_GRAPH_CASES, ex.map(run, _GRAPH_CASES.values())))


@_pytest.mark.parametrize("name", list(_GRAPH_CASES))
def test_graph_case(name, graph_outcomes):
    res = graph_outcomes[name]
    if res is not None:
        raise res
