"""Scale-path operators: salted joins/aggregates equal their plain forms,
bucketed tables join without a shuffle, range audits count correctly."""

from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark import catalog as cat
from reddit_data_pipeline_engineering_spark.operators.audit import range_violations
from reddit_data_pipeline_engineering_spark.operators.salt import (
    salted_count_distinct,
    salted_join,
)
from reddit_data_pipeline_engineering_spark.sources.tables import load_table

from .conftest import SF_SMALL


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_salted_join_matches_plain_join(spark):
    ev = load_table(spark, SF_SMALL, "events")
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = ev.join(cust, "user_id").select("event_id", "c_name")
    salted = salted_join(
        ev, cust, "user_id", big_unique=["event_id"], n=8
    ).select("event_id", "c_name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # The join key really is widened with the salt.
    assert "__salt" in plan_of(
        salted_join(ev, cust, "user_id", big_unique=["event_id"], n=8)
    )


def test_salted_count_distinct_matches_exact(spark):
    ev = load_table(spark, SF_SMALL, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    salted = {
        r["event_type"]: r["n_distinct_user_id"]
        for r in salted_count_distinct(ev, ["event_type"], "user_id", n=8).collect()
    }
    assert salted == exact


def test_bucketed_join_has_no_shuffle(spark):
    # Warehouse dir is a per-session tmp dir (conftest) — managed tables
    # created here never touch the repo tree.
    ev = load_table(spark, SF_SMALL, "events")
    cust = load_table(spark, SF_SMALL, "customer")
    cat.save_bucketed_table(
        ev.select("event_id", "user_id", "value"),
        "ev_bucketed", ("user_id",), 4, sort_cols=("user_id",),
    )
    cat.save_bucketed_table(
        cust.select(F.col("c_custkey").alias("user_id"), "c_name"),
        "cust_bucketed", ("user_id",), 4, sort_cols=("user_id",),
    )
    # Force the shuffle-join path so bucketing (not broadcast) is what
    # eliminates the Exchange.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("ev_bucketed").join(
            spark.table("cust_bucketed"), "user_id"
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange (" not in plan  # co-located: zero shuffles
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS cust_bucketed")


def test_range_violations(spark):
    df = spark.createDataFrame(
        [(91.0, 10.0, 5.0), (45.0, -200.0, -1.0), (None, 0.0, 2.0)],
        "lat double, lon double, value double",
    )
    row = range_violations(
        df, {"lat": (-90.0, 90.0), "lon": (-180.0, 180.0), "value": (0.0, None)}
    ).collect()[0]
    assert row["lat_violations"] == 1  # 91; NULL not a violation
    assert row["lon_violations"] == 1  # -200
    assert row["value_violations"] == 1  # -1

def test_kmeans_fit_matches_reference(spark):
    """The DataFrame Lloyd fit must equal an independent pure-Python
    replay exactly: integer-grid determinism means no tolerance, any
    partitioning, any engine. Degenerate inputs ride along: duplicate
    vectors (4 seeds over 3 distinct vectors, so a seed cluster loses
    every member and the remaining ids renumber densely), k > rows and
    an empty frame."""
    import hashlib
    import math

    from reddit_data_pipeline_engineering_spark.operators import kmeans

    base = [
        (i, [((i * 37 + d * 11) % 200 - 100) / 97.0 for d in range(8)])
        for i in range(40)
    ]
    cases = {
        "base": (base, 4),
        "duplicates": ([(i, base[i % 3][1]) for i in range(12)], 4),
        "k_over_rows": (base[:3], 5),
        "empty": ([], 4),
    }
    iters = 2
    for name, (vecs, k) in cases.items():
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        [[got]] = kmeans.lloyd_fit(
            df, "embedding", "vec_id", (1,), k=k, iters=iters
        )

        # Independent replay (no Spark, no operator code paths).
        qx = {i: [math.floor(x * 16384.0) for x in v] for i, v in vecs}
        seed_ids = sorted(
            qx, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:k]
        cents = [[v * 64 for v in qx[i]] for i in seed_ids]
        for _ in range(iters):
            members = {}
            for i, q in qx.items():
                d = min(
                    (sum((a * 64 - b) ** 2 for a, b in zip(q, c)), ci)
                    for ci, c in enumerate(cents)
                )
                members.setdefault(d[1], []).append(q)
            cents = [
                [
                    int(math.floor((sum(col) * 64.0) / len(qs)))
                    for col in zip(*qs)
                ]
                for _, qs in sorted(members.items())
            ]
        assert got == cents, name
        if name == "duplicates":
            assert len(got) < k  # the case really drops a cluster

        # Assignment operator agrees with the reference argmin too.
        assigned = {
            r["vec_id"]: r["cluster"]
            for r in kmeans.assign_clusters(df, "embedding", got).collect()
        }
        for i, q in qx.items():
            ref = min(
                (sum((a * 64 - b) ** 2 for a, b in zip(q, c)), ci)
                for ci, c in enumerate(got)
            )[1]
            assert assigned[i] == ref, (name, i)


def test_pq_fit_assign_adc_match_reference(spark):
    """The one-shuffle-per-iteration multi-subspace PQ fit must equal an
    independent pure-Python replay exactly (integer-grid determinism),
    and the ADC shortlist must rank by the true integer table distances.
    Degenerate inputs ride along: duplicate vectors (3 seeds over 2
    distinct vectors, so every subspace drops a code and renumbers
    densely), k > rows and an empty frame (empty codebooks)."""
    import hashlib
    import math

    from reddit_data_pipeline_engineering_spark.operators import kmeans, pq

    dim, m, iters = 8, 2, 2
    subdim = dim // m
    base = [
        (i, [((i * 29 + d * 13) % 210 - 105) / 101.0 for d in range(dim)])
        for i in range(30)
    ]
    cases = {
        "base": (base, 3),
        "duplicates": ([(i, base[i % 2][1]) for i in range(10)], 3),
        "k_over_rows": (base[:2], 3),
        "empty": ([], 3),
    }
    for name, (vecs, k) in cases.items():
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        [got] = kmeans.lloyd_fit(
            df, "embedding", "vec_id", (m,), k=k, iters=iters
        )

        # Independent replay: per-subspace Lloyd on the shared seed rows.
        qx = {i: [math.floor(x * 16384.0) for x in v] for i, v in vecs}
        seed_ids = sorted(
            qx, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:k]
        books = []
        for s in range(m):
            sub = {i: q[s * subdim:(s + 1) * subdim] for i, q in qx.items()}
            cents = [[v * 64 for v in sub[i]] for i in seed_ids]
            for _ in range(iters):
                members = {}
                for i, q in sub.items():
                    d = min(
                        (sum((a * 64 - b) ** 2 for a, b in zip(q, c)), ci)
                        for ci, c in enumerate(cents)
                    )
                    members.setdefault(d[1], []).append(q)
                cents = [
                    [
                        int(math.floor((sum(col) * 64.0) / len(qs)))
                        for col in zip(*qs)
                    ]
                    for _, qs in sorted(members.items())
                ]
            books.append(cents)
        assert got == books, name
        if name == "duplicates":
            assert all(len(book) < k for book in got)

        # Encoding agrees with the per-subspace reference argmin.
        coded = {
            r["vec_id"]: list(r["codes"])
            for r in kmeans.assign_codes(df, "embedding", got).collect()
        }
        for i, q in qx.items():
            for s in range(m):
                sq = q[s * subdim:(s + 1) * subdim]
                ref = min(
                    (sum((a * 64 - b) ** 2 for a, b in zip(sq, c)), ci)
                    for ci, c in enumerate(got[s])
                )[1]
                assert coded[i][s] == ref, (name, i, s)
        if not vecs:
            continue

        # ADC: every emitted approx_dist equals the table sum for that
        # row's codes, and the shortlist is the true bottom-|short| of
        # those sums.
        qvec = vecs[0][1]
        dtab = pq.adc_table(got, qvec)
        out = pq.pq_adc_topk(
            df, "embedding", "vec_id", got, qvec, shortlist=10, k=10
        ).collect()
        truth = sorted(
            (sum(dtab[s][coded[i][s]] for s in range(m)), i) for i in coded
        )[:10]
        assert {r["vec_id"] for r in out} == {i for _, i in truth}, name
        for r in out:
            assert r["approx_dist"] == sum(
                dtab[s][coded[r["vec_id"]][s]] for s in range(m)
            )


def test_aqe_splits_skewed_join_partition(spark):
    """The runtime skew path SCALE.md §3 leans on: with one hot key, AQE
    must rewrite the sort-merge join to SortMergeJoin(skew=true) —
    splitting the oversized partition — in the FINAL adaptive plan.
    (Thresholds are lowered so test-sized data crosses them; salting in
    operators/salt.py is the plan-level fallback when AQE can't apply.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(small, "k")
        rows = j.count()
        # count() executes its own plan; force THIS DataFrame's execution
        # so its adaptive plan finalizes, then inspect it.
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert rows == 270100
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
