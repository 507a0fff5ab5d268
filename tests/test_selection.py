"""Bucket-bisection rank selection vs the straight sorted answer."""

import random

from reddit_data_pipeline_engineering_spark.operators import selection


def _middle_ranks(n):
    """1-based middle rank(s): one for odd n, two for even n."""
    return [(n + 1) // 2] if n % 2 else [n // 2, n // 2 + 1]


def select_ranks(df, ranks_of):
    """Run the bisection core on (g, v): ``ranks_of(n)`` lists the
    1-based ranks wanted from a group of n non-null values. Returns
    (profile, {(g, k): k-th smallest value})."""
    src, prof = selection._profile(df, "g", "v")
    try:
        want = {g: ranks_of(n) for g, (n, _, _) in prof.items()}
        got = selection._select_ranks(
            src, want, prof, selection.BUCKETS, selection.MAX_ROUNDS
        )
    finally:
        src.unpersist()
    return prof, got


def _assert_kth_sorted(groups, prof, got, ranks_of):
    for g, vs in groups.items():
        s = sorted(vs)
        assert prof[g][0] == len(s)
        for k in ranks_of(len(s)):
            assert got[(g, k)] == s[k - 1], (g, k, got[(g, k)], s[k - 1])


def _case_selection_median_matches_sorted_middle(spark):
    rng = random.Random(11)
    data = []
    groups = {
        "a": [rng.uniform(-100, 100) for _ in range(501)],   # odd n
        "b": [rng.uniform(0, 1) for _ in range(500)],        # even n
        "c": [3.25] * 40,                                    # all equal
        "d": [7.5],                                          # single value
        "e": [rng.choice([1.0, 2.0, 5.0]) for _ in range(333)],  # heavy dups
    }
    for g, vs in groups.items():
        data += [(g, v) for v in vs]
    data += [("a", None), ("b", None)]  # nulls ignored
    df = spark.createDataFrame(data, "g string, v double")
    prof, got = select_ranks(df, _middle_ranks)
    _assert_kth_sorted(groups, prof, got, _middle_ranks)


def _case_selection_median_long_groups(spark):
    rng = random.Random(5)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(2000)]
    df = spark.createDataFrame([(1, v) for v in vals], "g bigint, v double")
    prof, got = select_ranks(df, _middle_ranks)
    _assert_kth_sorted({1: vals}, prof, got, _middle_ranks)


def test_plan_side_and_driver_side_narrowing_agree(spark, monkeypatch):
    """The hybrid cutover (PLAN_SIDE_NARROW_MIN) is a pure performance
    choice: forcing EVERY round through the plan-side cumulative-window
    path and forcing every round through the driver-side counter scan
    must resolve identical middle ranks on a dataset with enough groups
    to exercise both regimes."""
    rng = random.Random(7)
    data = [
        (g, rng.uniform(-50, 50))
        for g in range(80)  # > PLAN_SIDE_NARROW_MIN brackets in round 1
        for _ in range(rng.randint(1, 60))
    ]
    df = spark.createDataFrame(data, "g long, v double")

    results = {}
    for label, cutover in (("plan", 1), ("driver", 10**9)):
        monkeypatch.setattr(selection, "PLAN_SIDE_NARROW_MIN", cutover)
        results[label] = select_ranks(df, _middle_ranks)[1]
    assert results["plan"] == results["driver"]
    assert len({g for g, _ in results["plan"]}) == 80


# Concurrency harness (VERDICT r05 #5): the cases above are independent
# (build df -> run selection -> assert); the narrowing-cutover test
# monkeypatches a module global and stays serial above.

import pytest as _pytest
from concurrent.futures import ThreadPoolExecutor as _TPE

_SEL_CASES = {
    "selection_median_matches_sorted_middle": _case_selection_median_matches_sorted_middle,
    "selection_median_long_groups": _case_selection_median_long_groups,
}


@_pytest.fixture(scope="module")
def selection_outcomes(spark):
    def run(fn):
        try:
            fn(spark)
            return None
        except BaseException as exc:  # noqa: BLE001 - surfaced per test
            return exc

    with _TPE(max_workers=len(_SEL_CASES)) as ex:
        return dict(zip(_SEL_CASES, ex.map(run, _SEL_CASES.values())))


@_pytest.mark.parametrize("name", list(_SEL_CASES))
def test_selection_case(name, selection_outcomes):
    res = selection_outcomes[name]
    if res is not None:
        raise res


def test_ntile_boundary_pairs_matches_window(spark):
    """The selection-based NTILE boundaries must reproduce the window
    formulation exactly, including heavy VALUE ties resolved by the
    tie column (the interior-tie bisection path) and n not divisible
    by the bucket count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from reddit_data_pipeline_engineering_spark.operators.selection import (
        ntile_boundary_pairs,
    )

    # 103 rows; metric m1 has only 5 distinct values (ties everywhere,
    # every boundary lands INSIDE a tie class), m2 is near-unique.
    rows = [(i, (i * 7) % 5, (i * 37) % 101) for i in range(1, 104)]
    df = spark.createDataFrame(rows, "k long, m1 long, m2 long")
    bnds = ntile_boundary_pairs(df, ["m1", "m2"], "k", 4)

    for m in ("m1", "m2"):
        expected = df.select(
            "k",
            F.col(m).alias("v"),
            F.ntile(4).over(Window.orderBy(m, "k")).alias("q"),
        )
        pairs = bnds[m]
        assert len(pairs) == 3
        score = F.lit(1)
        for bv, bt in pairs:
            score = score + (
                (F.col("v") > F.lit(bv))
                | ((F.col("v") == F.lit(bv)) & (F.col("k") > F.lit(bt)))
            ).cast("int")
        got = expected.withColumn("q2", score)
        bad = got.filter(F.col("q") != F.col("q2")).count()
        assert bad == 0, f"{m}: {bad} rows scored off the window ntile"


def test_global_position_matches_window_rank(spark):
    """Range-partitioned global ranking (operators/rank.py) must equal
    row_number/ntile/percent_rank over a global-sort window, with the
    count collect bounded by the partition count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from reddit_data_pipeline_engineering_spark.operators.rank import (
        ntile_from_position,
        with_global_position,
    )

    rows = [(i, float((i * 13) % 37)) for i in range(1, 202)]
    df = spark.createDataFrame(rows, "k long, v double")
    pos, n = with_global_position(df, ["v", "k"], pos_col="p", num_partitions=7)
    assert n == 201
    w = Window.orderBy("v", "k")
    wv = Window.partitionBy("v")
    exp = df.select(
        "k",
        F.row_number().over(w).alias("p_exp"),
        F.ntile(4).over(w).alias("q_exp"),
        F.percent_rank().over(Window.orderBy("v")).alias("pr_exp"),
    )
    got = pos.select(
        "k",
        "p",
        ntile_from_position("p", n, 4).alias("q"),
        (
            (F.min("p").over(wv) - F.lit(1)).cast("double")
            / F.lit(float(n - 1))
        ).alias("pr"),
    )
    j = got.join(exp, "k")
    assert j.filter(F.col("p") != F.col("p_exp")).count() == 0
    assert j.filter(F.col("q") != F.col("q_exp")).count() == 0
    assert j.filter(F.col("pr") != F.col("pr_exp")).count() == 0


def test_ntile_boundary_pairs_deep_tie_and_bisect_paths(spark, monkeypatch):
    """Force BOTH rare branches: hist_max_distinct=0 pushes every metric
    through the bucket-bisection value path, and FINAL_PASS_MAX_ROWS=2
    pushes every boundary tie class through the class bisection (the
    mass-tied regime where collect_list would not be bounded)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import reddit_data_pipeline_engineering_spark.operators.selection as sel

    monkeypatch.setattr(sel, "FINAL_PASS_MAX_ROWS", 2)
    rows = [(i, (i * 7) % 3) for i in range(1, 62)]  # classes of ~20 rows
    df = spark.createDataFrame(rows, "k long, m long")
    bnds = sel.ntile_boundary_pairs(df, ["m"], "k", 4, hist_max_distinct=0)
    expected = df.select(
        "k",
        F.col("m").alias("v"),
        F.ntile(4).over(Window.orderBy("m", "k")).alias("q"),
    )
    score = F.lit(1)
    for bv, bt in bnds["m"]:
        score = score + (
            (F.col("v") > F.lit(bv))
            | ((F.col("v") == F.lit(bv)) & (F.col("k") > F.lit(bt)))
        ).cast("int")
    assert expected.withColumn("q2", score).filter(
        F.col("q") != F.col("q2")
    ).count() == 0
