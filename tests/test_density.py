"""Grid-blocked DBSCAN: brute-force replay, semantics units, and the
connected-components loud-cap contract the operator depends on.

The replay recomputes DBSCAN independently (numpy all-pairs distances +
union-find over core-core edges — no grid, no SQL), so a shared
misconception between the grid blocking and the oracle's replay of it
cannot hide.
"""

import numpy as np
import pytest

from reddit_data_pipeline_engineering_spark.operators import density
from reddit_data_pipeline_engineering_spark.operators.components import (
    connected_components,
)
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries

from .conftest import SF_SMALL

queries()  # force registration

EPS, MIN_PTS = 15_000, 4


def _brute_dbscan(ids, P, eps, min_pts):
    """Returns ({cluster: (n_core, n_border)}, n_noise)."""
    n = len(ids)
    d2 = ((P[:, None, :].astype(np.int64) - P[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.iinfo(np.int64).max)
    adj = d2 <= eps * eps
    core = (adj.sum(1) + 1) >= min_pts
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in zip(*np.nonzero(adj & core[:, None] & core[None, :])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in range(n):
        if core[i]:
            comp.setdefault(find(i), []).append(i)
    # cluster label = min vec_id among the component's cores
    label_of_root = {r: min(ids[i] for i in members) for r, members in comp.items()}
    clusters = {
        lbl: [len(members), 0]
        for r, members in comp.items()
        for lbl in [label_of_root[r]]
    }
    n_noise = 0
    for i in range(n):
        if core[i]:
            continue
        core_nbrs = [j for j in np.nonzero(adj[i])[0] if core[j]]
        if not core_nbrs:
            n_noise += 1
            continue
        lbl = min(label_of_root[find(j)] for j in core_nbrs)
        clusters[lbl][1] += 1
    return clusters, n_noise


def test_dbscan_matches_bruteforce(spark):
    out = REGISTRY["dbscan_grid_clusters"].fn(spark, SF_SMALL).collect()
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding[1], embedding[2] FROM "
        f"'{SF_SMALL}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    P = np.array(
        [
            [int(np.floor(r[1] * 1e6)), int(np.floor(r[2] * 1e6))]
            for r in rows
        ]
    )
    clusters, n_noise = _brute_dbscan(ids, P, EPS, MIN_PTS)
    got = {r["cluster"]: (r["n_core"], r["n_border"]) for r in out}
    assert got.pop(-1) == (0, n_noise)
    assert got == {k: tuple(v) for k, v in clusters.items()}
    # non-degenerate fixture: real structure at this eps/min_pts
    assert len(clusters) >= 5 and n_noise > 0


def _pts_df(spark, pts):
    return spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(pts)],
        "vec_id long, x long, y long",
    )


from concurrent.futures import ThreadPoolExecutor as _TPE  # noqa: E402


@pytest.fixture(scope="module")
def dbscan_outcomes(spark):
    """Run the four independent synthetic cases concurrently (each is a
    tiny graph whose cost is all scheduling latency — the pooled-fixture
    pattern of test_components.py)."""

    def run(pts, eps, min_pts):
        return {
            r["cluster"]: (r["n_core"], r["n_border"])
            for r in density.dbscan_grid(
                _pts_df(spark, pts), "vec_id", "x", "y",
                eps=eps, min_pts=min_pts,
            ).collect()
        }

    sq = [(0, 0), (100, 0), (0, 100), (100, 100)]
    cases = {
        # Tight square of 4 (all core at min_pts=4), one border point
        # within eps=150 of (100, 0) only, one far noise point.
        "units": lambda: run(
            sq + [(240, 0), (10_000_000, 10_000_000)], 150, 4
        ),
        # Straddle the origin: floor-division cells must not split the
        # neighborhood (trunc-toward-zero would put -1 and +1 in the
        # SAME cell 0 and break the 3x3 invariant elsewhere).
        "negative": lambda: run(
            [(-100, -100), (100, 100), (-100, 100), (100, -100)], 500, 4
        ),
        "two_clusters": lambda: run(
            [(0, 0), (10, 0), (0, 10), (10, 10),
             (100_000, 0), (100_010, 0), (100_000, 10), (100_010, 10)],
            50, 4,
        ),
        # A 40-node chain is not contracted to stars in one round:
        # with max_iterations=1 the star loop must FAIL LOUDLY, never
        # return silently-split components (the DBSCAN sf0.1 lesson:
        # capped min-label rounds reported 30 clusters where the true
        # closure has 28). Within the default cap it contracts fine.
        "chain": lambda: _chain_case(spark),
    }
    with _TPE(max_workers=4) as ex:
        futs = {k: ex.submit(v) for k, v in cases.items()}
        return {k: f.result() for k, f in futs.items()}


def _chain_case(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "a long, b long"
    )
    try:
        connected_components(
            edges, "a", "b", max_iterations=1, driver_finish_max_edges=0,
        ).collect()
        capped_raised = False
    except ValueError as e:
        capped_raised = "did not converge" in str(e)
    comps = {
        r["component"]
        for r in connected_components(
            edges, "a", "b", driver_finish_max_edges=0
        ).collect()
    }
    return {"capped_raised": capped_raised, "components": comps}


def test_dbscan_semantics_units(dbscan_outcomes):
    assert dbscan_outcomes["units"] == {0: (4, 1), -1: (0, 1)}


def test_dbscan_negative_coordinates_cell_floor(dbscan_outcomes):
    # all four mutually within eps=500 (max dist 283) -> one cluster
    assert dbscan_outcomes["negative"] == {0: (4, 0), -1: (0, 0)}


def test_dbscan_two_separate_clusters_and_min_labels(dbscan_outcomes):
    assert dbscan_outcomes["two_clusters"] == {
        0: (4, 0), 4: (4, 0), -1: (0, 0),
    }


def test_cc_raises_loudly_past_round_cap(dbscan_outcomes):
    assert dbscan_outcomes["chain"]["capped_raised"] is True
    assert dbscan_outcomes["chain"]["components"] == {0}


def test_kdist_calibration_matches_bruteforce(spark):
    import duckdb
    import hashlib
    from reddit_data_pipeline_engineering_spark.plans.queries_density import (
        _KD_BUCKETS,
        _KD_K,
        _KD_MAX_ANCHORS,
        _KD_R,
    )

    out = {
        r["bucket"]: (r["r_frac_bp"], r["n_points"])
        for r in REGISTRY["kdist_eps_calibration"].fn(spark, SF_SMALL).collect()
    }
    rows = duckdb.sql(
        f"SELECT vec_id, embedding[1], embedding[2] FROM "
        f"'{SF_SMALL}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    P = np.array(
        [[int(np.floor(r[1] * 1e6)), int(np.floor(r[2] * 1e6))] for r in rows]
    )
    d2 = ((P[:, None, :].astype(np.int64) - P[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.iinfo(np.int64).max)

    thr = min(
        _KD_BUCKETS // 4,
        (_KD_MAX_ANCHORS * _KD_BUCKETS + len(rows) - 1) // len(rows),
    )

    def is_anchor(vid):
        h = hashlib.md5(str(vid).encode()).hexdigest()[:8]
        return int(h, 16) % _KD_BUCKETS < thr

    hist = {}
    censored = 0
    n_anchors = 0
    for i in range(len(P)):
        if not is_anchor(ids[i]):
            continue
        n_anchors += 1
        within = np.sort(d2[i][d2[i] <= _KD_R * _KD_R])
        if len(within) < _KD_K:
            censored += 1
            continue
        kd2 = int(within[_KD_K - 1])
        b = next(
            j for j in range(1, 11) if kd2 * 100 <= _KD_R * _KD_R * j * j
        )
        hist[b] = hist.get(b, 0) + 1
    assert 0 < n_anchors < len(P)  # the sample is real and proper
    expect = {b: (b * 1000, n) for b, n in hist.items()}
    expect[11] = (-1, censored)
    assert out == expect
    # non-degenerate: both measured and censored mass exist
    assert censored > 0 and sum(hist.values()) > 0


def test_kmeans_silhouette_matches_numpy(spark):
    import duckdb
    from reddit_data_pipeline_engineering_spark.operators import kmeans
    from reddit_data_pipeline_engineering_spark.plans.queries_llm import (
        _KM_ITERS,
        _KM_K,
        _fit_sample,
    )
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    out = {
        r["cluster"]: (r["n_points"], r["mean_sep_bp"])
        for r in REGISTRY["kmeans_silhouette_audit"].fn(spark, SF_SMALL).collect()
    }
    # independent replay of assignment + scoring from the fitted model
    # (the fit itself is covered by the kmeans suite and the unrolled-
    # CTE oracle): numpy exact integer distances on the same grid.
    emb = load_table(spark, SF_SMALL, "embeddings")
    [[cents]] = kmeans.lloyd_fit(
        _fit_sample(emb), "embedding", "vec_id", (1,), k=_KM_K, iters=_KM_ITERS
    )
    cents = np.array(cents, dtype=np.int64)
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet' "
        f"ORDER BY vec_id"
    ).fetchall()
    Q = np.array(
        [[int(np.floor(float(x) * 16384.0)) for x in r[1]] for r in rows],
        dtype=np.int64,
    )
    agg = {}
    for q in Q:
        d2 = (((q * 64)[None, :] - cents) ** 2).sum(1)
        order = np.lexsort((np.arange(len(cents)), d2))
        c1, c2 = order[0], order[1]
        d1, dd2 = int(d2[c1]), int(d2[c2])
        sep = 0 if dd2 == 0 else (dd2 - d1) * 10000 // dd2
        n, s = agg.get(c1, (0, 0))
        agg[c1] = (n + 1, s + sep)
    expect = {c: (n, s // n) for c, (n, s) in agg.items()}
    assert out == expect
    # separation scores live on the documented [0, 1e4] scale
    assert all(0 <= v[1] <= 10000 for v in out.values())


def test_dbscan_hot_cell_cap_raises(spark):
    """VERDICT r07 #6: eps far above the data's density scale makes the
    exact pair relation quadratic in the hottest cell — the guard must
    refuse loudly (naming the kdist recalibration fix) instead of
    launching the superlinear join; a cap above the true occupancy
    must not interfere."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from reddit_data_pipeline_engineering_spark.operators import density
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pts = emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1e6)
        .cast("long")
        .alias("y"),
    )
    with _pytest.raises(ValueError, match="kdist_eps_calibration"):
        density.dbscan_grid(
            pts, "vec_id", "x", "y", eps=15_000, min_pts=4,
            max_cell_occupancy=1,
        )
    out = density.dbscan_grid(
        pts, "vec_id", "x", "y", eps=15_000, min_pts=4,
        max_cell_occupancy=256,
    )
    assert out.count() >= 1  # clusters + noise bucket
