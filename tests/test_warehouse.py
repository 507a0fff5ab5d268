"""Units for the warehouse-layout operators: SCD2 build + Z-order key."""

import datetime

from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.operators.layout import (
    hilbert_key_2d,
    quantize,
    zorder_key,
)
from reddit_data_pipeline_engineering_spark.operators.scd import scd2


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_scd2_collapses_runs_and_closes_intervals(spark):
    rows = [
        # user 1: A A B A -> versions 1(A,2 events) 2(B,1) 3(A,1)
        (1, 10, _ts("2024-01-01T00:00:00"), "A"),
        (1, 11, _ts("2024-01-02T00:00:00"), "A"),
        (1, 12, _ts("2024-01-03T00:00:00"), "B"),
        (1, 13, _ts("2024-01-04T00:00:00"), "A"),
        # user 2: single open version
        (2, 20, _ts("2024-02-01T00:00:00"), "X"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    out = scd2(df, key="user_id", attr="event_type", ts="ts",
               order_cols=("event_id",)).orderBy("user_id", "version")
    got = [tuple(r) for r in out.collect()]
    assert got == [
        (1, 1, "A", _ts("2024-01-01T00:00:00"), _ts("2024-01-03T00:00:00"), False, 2),
        (1, 2, "B", _ts("2024-01-03T00:00:00"), _ts("2024-01-04T00:00:00"), False, 1),
        (1, 3, "A", _ts("2024-01-04T00:00:00"), None, True, 1),
        (2, 1, "X", _ts("2024-02-01T00:00:00"), None, True, 1),
    ]


def test_scd2_tiebreak_is_deterministic(spark):
    # Two events with identical ts: event_id orders them.
    rows = [
        (1, 2, _ts("2024-01-01T00:00:00"), "B"),
        (1, 1, _ts("2024-01-01T00:00:00"), "A"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    out = scd2(df, key="user_id", attr="event_type", ts="ts",
               order_cols=("event_id",)).orderBy("version")
    assert [r.event_type for r in out.collect()] == ["A", "B"]


def test_scd2_single_shuffle_plan(spark):
    df = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00"), "A")],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    plan = scd2(df, "user_id", "event_type", "ts", ("event_id",))
    executed = plan._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Exchange hashpartitioning") == 1


def test_zorder_key_interleaves_round_robin(spark):
    # a=0b0101 (5), b=0b0011 (3) -> interleave (b_i at 2i+1, a_i at 2i)
    # = 1 + 2 + 8 + 16 = 0b11011
    df = spark.createDataFrame([(5, 3)], "a long, b long")
    z = df.select(
        zorder_key([F.col("a"), F.col("b")], bits=4).alias("z")
    ).head()[0]
    # bit i of a at position 2i, bit i of b at position 2i+1
    expected = sum(((5 >> i) & 1) << (2 * i) for i in range(4)) + sum(
        ((3 >> i) & 1) << (2 * i + 1) for i in range(4)
    )
    assert z == expected == 0b11011


def test_zorder_locality_beats_single_column_sort(spark):
    # A z-ordered layout bounds BOTH columns' per-bucket extents; a
    # single-column sort leaves the other column's extent unbounded.
    import itertools

    rows = [(float(x), float(y)) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows, "x double, y double")
    qx = quantize(F.col("x"), 0.0, 1.0, 4)
    qy = quantize(F.col("y"), 0.0, 1.0, 4)
    out = (
        df.withColumn("z", zorder_key([qx, qy], 4))
        .withColumn("bucket", (F.col("z") / 16).cast("long"))  # 16 buckets
        .groupBy("bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("xspan"),
            (F.max("y") - F.min("y")).alias("yspan"),
        )
        .collect()
    )
    # Each 16-row z-bucket covers a 4x4 tile: both spans == 3 (vs 15 for
    # the unsorted dimension of a single-column sort).
    assert all(r.xspan == 3.0 and r.yspan == 3.0 for r in out)


def test_quantize_clamps_domain(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (7.5,), (1e9,)], "v double")
    got = [r[0] for r in df.select(quantize(F.col("v"), 0.0, 1.0, 4).alias("q")).collect()]
    assert got == [0, 0, 7, 15]


def test_bloom_no_false_negatives_and_reduces(spark):
    from reddit_data_pipeline_engineering_spark.operators import bloom

    keys = spark.range(0, 200).select(F.col("id").alias("k"))
    words = bloom.bloom_build(keys, "k", m_bits=4096, k_hashes=3)
    assert len(words) == 64
    probe = spark.range(0, 5000).select(F.col("id").alias("k"))
    passed = bloom.bloom_filter_rows(probe, F.col("k"), words, 4096, 3)
    got = {r.k for r in passed.collect()}
    # No false negatives: every inserted key passes.
    assert set(range(200)) <= got
    # Real reduction: far fewer than the 5000 probes pass.
    assert len(got) < 1000


def test_bloom_build_rejects_bad_width(spark):
    import pytest as _pytest

    from reddit_data_pipeline_engineering_spark.operators import bloom

    with _pytest.raises(ValueError):
        bloom.bloom_build(spark.range(1), "id", m_bits=100, k_hashes=2)


def test_bloom_query_plan_broadcasts_and_prefilters(spark):
    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries

    queries()
    from .conftest import SF_SMALL

    plan = (
        REGISTRY["bloom_semijoin_reduction"]
        .fn(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # The exact join must broadcast the dim, and the bloom membership
    # test must be a Filter on the fact scan side (pre-exchange), not a
    # post-join residual.
    assert "BroadcastHashJoin" in plan
    assert plan.count("md5") >= 3  # k literal-array probes in the filter


def test_hilbert_key_is_bijective_and_unit_adjacent(spark):
    # The Hilbert index must visit every cell exactly once AND step to a
    # Manhattan-distance-1 neighbor each time — the property Morton
    # order lacks (its seam jumps are why Hilbert buckets are tighter).
    import itertools

    rows = [(x, y) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.h
        for r in df.select(
            "x", "y", hilbert_key_2d(F.col("x"), F.col("y"), 4).alias("h")
        ).collect()
    }
    assert sorted(got.values()) == list(range(256))
    pos = {h: xy for xy, h in got.items()}
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1]) == 1
        for i in range(255)
    )


def test_hilbert_buckets_no_looser_than_zorder(spark):
    # Same 16-bucket layout audit as the z-order test: every Hilbert
    # bucket is a 4x4 tile too (spans == 3), and the total span is <=
    # the Morton layout's — the comparable pruning profile.
    import itertools

    rows = [(float(x), float(y)) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows, "x double, y double")
    qx = quantize(F.col("x"), 0.0, 1.0, 4)
    qy = quantize(F.col("y"), 0.0, 1.0, 4)

    def spans(key):
        out = (
            df.withColumn("k", key)
            .withColumn("bucket", (F.col("k") / 16).cast("long"))
            .groupBy("bucket")
            .agg(
                (F.max("x") - F.min("x")).alias("xspan"),
                (F.max("y") - F.min("y")).alias("yspan"),
            )
            .collect()
        )
        return sum(r.xspan + r.yspan for r in out)

    h = spans(hilbert_key_2d(qx, qy, 4))
    z = spans(zorder_key([qx, qy], 4))
    assert h <= z
    # 16 buckets x (3 + 3): every Hilbert bucket is a tight 4x4 tile.
    assert h == 96.0


def test_zorder_write_path_yields_disjoint_file_ranges(spark, tmp_path):
    """The documented write path — repartitionByRange(zkey) +
    sortWithinPartitions + write — must produce files whose zkey ranges
    are pairwise DISJOINT, i.e. every file covers a contiguous key slice
    (that is what makes parquet min/max stats prune on both quantized
    dimensions at once)."""
    import itertools

    rows = [(float(x), float(y)) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows, "x double, y double")
    qx = quantize(F.col("x"), 0.0, 1.0, 4)
    qy = quantize(F.col("y"), 0.0, 1.0, 4)
    keyed = df.withColumn("zkey", zorder_key([qx, qy], 4))
    out = str(tmp_path / "zsorted")
    (
        keyed.repartitionByRange(4, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    spans = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        .collect()
    )
    assert len(spans) == 4
    ordered = sorted((r.lo, r.hi) for r in spans)
    for (lo1, hi1), (lo2, hi2) in zip(ordered, ordered[1:]):
        assert hi1 < lo2  # pairwise disjoint, contiguous slices


def test_l_diversity_matches_pandas_bruteforce(spark):
    """Independent replay of the l-diversity audit: pandas groupby over
    the raw parquet, no SQL and no Spark expressions shared with the
    query (the oracle-parity suite covers Spark vs DuckDB; this covers
    both against a third formulation)."""
    import duckdb
    import math

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries as _q,
    )
    from .conftest import SF_SMALL

    _q()
    out = (
        REGISTRY["l_diversity_audit"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index("level")
    )
    c = duckdb.sql(
        f"SELECT c_nationkey, c_acctbal, c_mktsegment FROM "
        f"'{SF_SMALL}/customer.parquet'"
    ).df()
    c["balbucket"] = (c["c_acctbal"] / 1000).map(math.floor)
    for level, keys in (
        ("nation+balbucket", ["c_nationkey", "balbucket"]),
        ("nation", ["c_nationkey"]),
    ):
        g = c.groupby(keys).agg(
            l=("c_mktsegment", "nunique"), sz=("c_mktsegment", "size")
        )
        row = out.loc[level]
        assert row["n_classes"] == len(g)
        assert row["n_rows"] == int(g["sz"].sum())
        assert row["l_diversity"] == int(g["l"].min())
        homog = g[g["l"] < 2]
        assert row["homogeneous_classes"] == len(homog)
        assert row["rows_at_risk"] == int(homog["sz"].sum())
        assert row["at_risk_bps"] == int(homog["sz"].sum()) * 10000 // int(
            g["sz"].sum()
        )


def test_rfm_segmentation_matches_pandas(spark):
    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    queries()
    out = {
        (r["r_q"], r["f_q"], r["m_q"]): (
            r["n_customers"], r["segment_cents"],
            r["min_r_days"], r["max_r_days"],
        )
        for r in REGISTRY["rfm_segmentation"].fn(spark, SF_SMALL).collect()
    }
    cust = duckdb.sql(
        f"SELECT o_custkey AS ck, MAX(CAST(o_orderdate AS DATE)) AS last_day, "
        f"COUNT(*) AS f, "
        f"CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) "
        f"AS m FROM '{SF_SMALL}/orders.parquet' GROUP BY 1"
    ).fetchall()
    maxd = max(r[1] for r in cust)

    def ntile4(order):
        # NTILE semantics: n rows into 4 tiles, first (n % 4) tiles get
        # the extra row
        n = len(order)
        base, extra = divmod(n, 4)
        tiles = {}
        idx = 0
        for t in range(1, 5):
            size = base + (1 if t <= extra else 0)
            for _ in range(size):
                tiles[order[idx]] = t
                idx += 1
        return tiles

    r_t = ntile4([r[0] for r in sorted(cust, key=lambda r: (r[1], r[0]))])
    f_t = ntile4([r[0] for r in sorted(cust, key=lambda r: (r[2], r[0]))])
    m_t = ntile4([r[0] for r in sorted(cust, key=lambda r: (r[3], r[0]))])
    expect = {}
    for ck, last_day, f, m in cust:
        key = (r_t[ck], f_t[ck], m_t[ck])
        rd = (maxd - last_day).days
        n, cents, mn, mx = expect.get(key, (0, 0, 10**9, -1))
        expect[key] = (n + 1, cents + m, min(mn, rd), max(mx, rd))
    assert out == expect
    # all three scores span the full 1..4 range on the fixture
    assert {k[0] for k in out} == {1, 2, 3, 4}


def test_incremental_mart_merge_actually_merges(spark):
    """The merge identity must be exercised, not vacuous: the mid-month
    cutoff puts ym=199703 partials in BOTH legs, and the merged row for
    that month must equal base-partial + delta-partial computed
    independently here. The delta leg's date filter must reach the
    parquet scan (the 100 TB story: only delta partitions re-scanned)."""
    import duckdb

    from .conftest import SF_SMALL
    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY
    from reddit_data_pipeline_engineering_spark.plans.queries_warehouse import (
        _INCR_MERGE_CUTOFF,
    )

    out = {
        (r["ym"], r["o_orderpriority"]): (r["n_orders"], r["total_cents"])
        for r in REGISTRY["incremental_mart_merge"].fn(spark, SF_SMALL).collect()
    }
    legs = duckdb.sql(
        f"""
        SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
               o_orderpriority,
               COUNT(*) FILTER (o_orderdate <  DATE '{_INCR_MERGE_CUTOFF}') AS n_base,
               COUNT(*) FILTER (o_orderdate >= DATE '{_INCR_MERGE_CUTOFF}') AS n_delta,
               SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS cents
        FROM '{SF_SMALL}/orders.parquet'
        GROUP BY 1, 2
        """
    ).fetchall()
    both = [r for r in legs if r[2] > 0 and r[3] > 0]
    assert both, "cutoff must split at least one ym across both legs"
    assert all(ym == 199703 for ym, *_ in both)
    for ym, prio, n_base, n_delta, cents in legs:
        assert out[(ym, prio)] == (n_base + n_delta, int(cents))

    # Filter pushdown on the delta leg: the compiled plan's parquet scans
    # carry o_orderdate pushed filters (delta >=, base <).
    plan = (
        REGISTRY["incremental_mart_merge"]
        .fn(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_lorenz_deciles_semantics(spark):
    """Equal-count deciles (NTILE: sizes differ by at most 1, larger
    buckets first), shares sum to ~1e6 with monotone cumulative, and
    the curve is convex (spend share nondecreasing by decile — deciles
    are ascending by spend)."""
    import duckdb

    from .conftest import SF_SMALL
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()  # force registration
    rows = (
        REGISTRY["spend_lorenz_deciles"].fn(spark, SF_SMALL)
        .orderBy("decile")
        .collect()
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{SF_SMALL}/orders.parquet'"
    ).fetchone()[0]
    sizes = [r["n_customers"] for r in rows]
    assert sum(sizes) == n_cust
    base, extra = divmod(n_cust, 10)
    assert sizes == [base + (1 if i < extra else 0) for i in range(10)]
    shares = [r["share_ppm"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))  # convex
    cums = [r["cum_share_ppm"] for r in rows]
    assert all(b > a for a, b in zip(cums, cums[1:]))
    assert 1_000_000 - 10 <= cums[-1] <= 1_000_000  # div truncation only
    assert sum(r["spend_cents"] for r in rows) == duckdb.sql(
        f"SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) "
        f"FROM '{SF_SMALL}/orders.parquet'"
    ).fetchone()[0]


def test_kmv_sketch_matches_python_replay(spark):
    """Replay the KMV estimator in pure Python (hashlib md5 over the
    distinct user sets) — catches a shared Spark/DuckDB misconception
    in the hash device or the k-th-smallest selection."""
    import hashlib

    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY
    from reddit_data_pipeline_engineering_spark.plans.queries_prep2 import (
        _KMV_K,
        _KMV_SPACE,
    )

    from .conftest import SF_SMALL

    out = {
        r["event_type"]: r
        for r in REGISTRY["kmv_distinct_sketch"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .to_dict("records")
    }
    users = duckdb.sql(
        f"SELECT DISTINCT event_type, user_id FROM "
        f"'{SF_SMALL}/events.parquet'"
    ).fetchall()
    by_type = {}
    for t, u in users:
        by_type.setdefault(t, set()).add(u)
    by_type["ALL"] = set().union(*by_type.values())

    def h48(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)

    for t, uset in by_type.items():
        hs = sorted({h48(u) for u in uset})
        n = len(uset)
        est = n if n <= _KMV_K else (_KMV_K - 1) * _KMV_SPACE // hs[_KMV_K - 1]
        r = out[t]
        assert r["exact_distinct"] == n
        assert r["kmv_est"] == est
        assert r["err_ppm"] == abs(est - n) * 1_000_000 // n
    assert set(out) == set(by_type)


def test_fk_coverage_audit_replays_with_duckdb_sets(spark):
    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY
    from reddit_data_pipeline_engineering_spark.plans.queries_prep2 import (
        _FK_EDGES,
    )

    from .conftest import SF_SMALL

    out = {
        r["fk_edge"]: r
        for r in REGISTRY["fk_coverage_audit"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .to_dict("records")
    }
    assert len(out) == len(_FK_EDGES)
    for label, child, ckey, parent, pkey in _FK_EDGES:
        keys = duckdb.sql(
            f"SELECT {ckey}, COUNT(*) FROM '{SF_SMALL}/{child}.parquet' "
            f"GROUP BY 1"
        ).fetchall()
        parents = {
            r[0]
            for r in duckdb.sql(
                f"SELECT DISTINCT {pkey} FROM '{SF_SMALL}/{parent}.parquet'"
            ).fetchall()
        }
        r = out[label]
        assert r["child_rows"] == sum(c for _, c in keys)
        assert r["child_keys"] == len(keys)
        assert r["matched_keys"] == sum(1 for k, _ in keys if k in parents)
        assert r["orphan_rows"] == sum(c for k, c in keys if k not in parents)
        # the synthetic schema is referentially clean — the audit's
        # baseline value is zero orphans on every edge
        assert r["orphan_rows"] == 0


def test_t_closeness_matches_python_emd(spark):
    """Replay the ordered EMD per QI class in float arithmetic."""
    import duckdb
    import math

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    from .conftest import SF_SMALL

    queries()  # force registration
    out = (
        REGISTRY["t_closeness_audit"].fn(spark, SF_SMALL).toPandas()
    )
    rows = duckdb.sql(
        f"SELECT c_nationkey, c_mktsegment, "
        f"CAST(FLOOR(c_acctbal / 2000) AS BIGINT) FROM "
        f"'{SF_SMALL}/customer.parquet'"
    ).fetchall()
    from collections import Counter, defaultdict

    cls = defaultdict(Counter)
    glob = Counter()
    for nat, seg, b in rows:
        cls[(nat, seg)][b] += 1
        glob[b] += 1
    buckets = sorted(glob)
    m, N = len(buckets), len(rows)
    emds = {}
    for key, cnt in cls.items():
        n = sum(cnt.values())
        cum, acc = 0.0, 0.0
        for b in buckets:
            cum += cnt[b] / n - glob[b] / N
            acc += abs(cum)
        emds[key] = acc / (m - 1)
    # top-20 emitted; every emitted row's emd_bp must match the float
    # replay within one basis point plus float slack
    assert len(out) == min(20, len(cls))
    for _, r in out.iterrows():
        key = (r["nat"], r["seg"])
        assert key in emds
        assert abs(r["emd_bp"] / 10000 - emds[key]) < 2e-4
        assert r["class_n"] == sum(cls[key].values())
    # emitted in descending emd order
    assert (out["emd_bp"].diff().dropna() <= 0).all()


def test_rich_club_matches_python_replay(spark):
    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY
    from reddit_data_pipeline_engineering_spark.plans.queries_stats2 import (
        _RICH_KS,
    )

    from .conftest import SF_SMALL

    out = {
        int(r["k"]): r
        for r in REGISTRY["rich_club_coefficient"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .to_dict("records")
    }
    pairs = duckdb.sql(
        f"SELECT DISTINCT o_custkey, l_suppkey FROM "
        f"'{SF_SMALL}/orders.parquet' o JOIN '{SF_SMALL}/lineitem.parquet' l "
        f"ON o.o_orderkey = l.l_orderkey"
    ).fetchall()
    from collections import Counter

    edges = [(c * 2, s * 2 + 1) for c, s in pairs]
    edges += [(b, a) for a, b in edges]
    deg = Counter(a for a, _ in edges)
    for k in _RICH_KS:
        n_k = sum(1 for d in deg.values() if d > k)
        e_k = sum(1 for a, b in edges if deg[a] > k and deg[b] > k)
        r = out[k]
        assert (r["n_nodes"], r["n_edges_dir"]) == (n_k, e_k)
        if n_k > 1:
            assert r["phi_bp"] == e_k * 10000 // (n_k * (n_k - 1))


def test_kmv_jaccard_matches_python_replay(spark):
    """Replay both the sketch estimator and the exact Jaccard in pure
    Python over the high-engagement user sets."""
    import hashlib
    from itertools import combinations

    import duckdb

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )
    from reddit_data_pipeline_engineering_spark.plans.queries_prep2 import (
        _KJ_K,
    )

    from .conftest import SF_SMALL

    queries()
    out = {
        (r["ta"], r["tb"]): r
        for r in REGISTRY["kmv_jaccard_types"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .to_dict("records")
    }
    rows = duckdb.sql(
        f"SELECT DISTINCT event_type, user_id FROM "
        f"'{SF_SMALL}/events.parquet' WHERE value > 90"
    ).fetchall()
    sets = {}
    for t, u in rows:
        sets.setdefault(t, set()).add(u)

    def h48(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)

    kept = {t: set(sorted(h48(u) for u in us)[:_KJ_K]) for t, us in sets.items()}
    for ta, tb in combinations(sorted(sets), 2):
        merged = sorted(kept[ta] | kept[tb])[:_KJ_K]
        n_both = sum(1 for h in merged if h in kept[ta] and h in kept[tb])
        inter = len(sets[ta] & sets[tb])
        union = len(sets[ta] | sets[tb])
        r = out[(ta, tb)]
        assert r["k_used"] == len(merged)
        assert r["n_both"] == n_both
        assert r["jaccard_est_ppm"] == n_both * 1_000_000 // len(merged)
        assert r["jaccard_exact_ppm"] == inter * 1_000_000 // union
        assert r["err_ppm"] == abs(
            r["jaccard_est_ppm"] - r["jaccard_exact_ppm"]
        )
    assert len(out) == len(list(combinations(sets, 2)))


def test_bloom_filter_rows_matches_literal_form(spark):
    """The broadcast-relation membership test must keep EXACTLY the rows
    an independent replay keeps: bit positions from Python's hashlib.md5
    (the bloom_positions formula), tested against the built words."""
    import hashlib

    from pyspark.sql import functions as F

    from reddit_data_pipeline_engineering_spark.operators import bloom

    keys = spark.range(0, 200, 3).select(F.col("id").alias("k"))
    words = bloom.bloom_build(keys, "k", m_bits=4096, k_hashes=3)
    probe = spark.range(0, 400).select(F.col("id").alias("k"))

    def might_contain(key: int) -> bool:
        for i in range(3):
            h = hashlib.md5(f"{key}#{i}".encode()).hexdigest()
            pos = int(h[:8], 16) % 4096
            if not (words[pos // 64] >> (pos % 64)) & 1:
                return False
        return True

    lit_rows = {k for k in range(400) if might_contain(k)}
    rel_rows = {
        r["k"]
        for r in bloom.bloom_filter_rows(
            probe, F.col("k"), words, 4096, 3
        ).collect()
    }
    assert rel_rows == lit_rows
    assert set(range(0, 200, 3)) <= rel_rows  # no false negatives
