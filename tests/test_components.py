"""Connected components: large-star/small-star against a union-find.

The star contraction (Kiveris et al., SoCC'14) must produce the
(id, component) labeling a plain Python union-find computes on the same
edges — with the distributed rounds forced (driver finish off), with
the driver finish taken at the upfront gate, and with it taken
mid-loop — and converge in O(log n) rounds on a chain, whose diameter
is n.
"""

import random

from reddit_data_pipeline_engineering_spark.operators import components as cc


def _labels(df):
    return {(r.id, r.component) for r in df.collect()}


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _union_find(pairs):
    """{(node, min node id reachable)} over ``pairs``; self-loops are
    dropped, as the operator drops them."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _case_star_matches_union_find_on_random_graphs(spark):
    # Three random graphs as ONE disjoint union (node offset 1000 per
    # trial): components never cross trial boundaries, so one iterative
    # execution checks all three trials.
    rng = random.Random(7)
    pairs = []
    for trial in range(3):
        n = 40
        pairs += [
            (trial * 1000 + rng.randrange(n), trial * 1000 + rng.randrange(n))
            for _ in range(30 + trial * 10)
        ]
    pairs = [(a, b) for a, b in pairs if a != b]
    star = _labels(
        cc.connected_components(
            _edges_df(spark, pairs), "id_a", "id_b", driver_finish_max_edges=0
        )
    )
    assert star == _union_find(pairs)


def _case_star_matches_union_find_on_disjoint_cliques(spark):
    # Three dense clusters (the near-dup shape) + one bridge pair.
    pairs = []
    for base in (0, 100, 200):
        members = [base + i for i in range(5)]
        pairs += [(a, b) for a in members for b in members if a < b]
    pairs.append((4, 104))  # merge first two clusters
    star = _labels(
        cc.connected_components(
            _edges_df(spark, pairs), "id_a", "id_b", driver_finish_max_edges=0
        )
    )
    assert star == _union_find(pairs)
    comps = {c for _, c in star}
    assert comps == {0, 200}


def _case_star_fewer_rounds_on_chain(spark):
    # Chain 0-1-2-...-L: diameter L. Min-label propagation would move the
    # min one hop per round (~L rounds); star contraction halves star
    # depth per round (~log L rounds).
    L = 16
    edges = _edges_df(spark, [(i, i + 1) for i in range(L)])
    st = {}
    star = _labels(
        cc.connected_components(
            edges, "id_a", "id_b", max_iterations=50, stats=st,
            driver_finish_max_edges=0,
        )
    )
    assert star == {(i, 0) for i in range(L + 1)}
    assert st["rounds"] <= 8  # O(log 16) + convergence check round


def _case_duplicate_clusters_members_and_canonical(spark):
    pairs = _edges_df(spark, [(1, 2), (2, 3), (10, 11)])
    out = {
        (r.component, r.n_members, r.canonical_id)
        for r in cc.duplicate_clusters(pairs).collect()
    }
    assert out == {(1, 3, 1), (10, 2, 10)}


def _case_driver_finish_matches_distributed(spark):
    """r11 hybrid: the bounded union-find finish must label identically
    to the pure-distributed fixed point and to the reference union-find
    — at the upfront gate and at a MID-LOOP gate (cap sized so one
    contraction round runs first). Random graphs with chains, cliques
    and self-loops, which every path drops."""
    rng = random.Random(41)
    pairs = []
    for trial in range(3):
        off = trial * 10_000
        n = 60
        pairs += [
            (off + rng.randrange(n), off + rng.randrange(n))
            for _ in range(45 + 12 * trial)
        ]
        pairs += [(off + 500 + i, off + 501 + i) for i in range(24)]  # chain
        pairs.append((off + 900, off + 900))  # self-loop only: no row
    edges = _edges_df(spark, pairs)
    expected = _union_find(pairs)
    pure = _labels(
        cc.connected_components(edges, "id_a", "id_b", driver_finish_max_edges=0)
    )
    assert pure == expected
    up_st = {}
    up = _labels(
        cc.connected_components(
            edges, "id_a", "id_b", stats=up_st,
            driver_finish_max_edges=10**6,  # gate fires upfront
        )
    )
    assert up == expected
    assert up_st["rounds"] == 0 and "driver_finish_edges" in up_st
    # Mid-loop gate: cap one below the canonical (undirected, distinct)
    # input edge count, which the contracted post-round-1 count is under
    # -> one distributed round, then the driver finish.
    n_in = len({(max(a, b), min(a, b)) for a, b in pairs})
    st = {}
    mid = _labels(
        cc.connected_components(
            edges, "id_a", "id_b",
            driver_finish_max_edges=n_in - 1, stats=st,
        )
    )
    assert mid == expected
    assert st["rounds"] >= 1 and "driver_finish_edges" in st, st


# Concurrent execution (VERDICT r06 #7, the parity/streaming fixture
# pattern): the cases are independent iterative-kernel executions — a
# module fixture runs them over a thread pool and the parametrized test
# re-raises each recorded outcome.

import pytest as _pytest
from concurrent.futures import ThreadPoolExecutor as _TPE

_CC_CASES = {
    "star_matches_union_find_on_random_graphs": _case_star_matches_union_find_on_random_graphs,
    "star_matches_union_find_on_disjoint_cliques": _case_star_matches_union_find_on_disjoint_cliques,
    "star_fewer_rounds_on_chain": _case_star_fewer_rounds_on_chain,
    "duplicate_clusters_members_and_canonical": _case_duplicate_clusters_members_and_canonical,
    "driver_finish_matches_distributed": _case_driver_finish_matches_distributed,
}


@_pytest.fixture(scope="module")
def cc_outcomes(spark):
    def run(fn):
        try:
            fn(spark)
            return None
        except BaseException as exc:  # noqa: BLE001 - re-raised per test
            return exc

    with _TPE(max_workers=4) as ex:
        return dict(zip(_CC_CASES, ex.map(run, _CC_CASES.values())))


@_pytest.mark.parametrize("name", list(_CC_CASES))
def test_components_case(name, cc_outcomes):
    res = cc_outcomes[name]
    if res is not None:
        raise res
