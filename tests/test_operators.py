"""Operator unit tests on tiny inline DataFrames (the reference's strongest
test layer, SURVEY.md §5: operator unit / schema contract / invariants),
plus the differential dedup-key test SURVEY §2.5 calls for and an AQI
edge-case matrix (the reference plan's unshipped ~30-test matrix)."""

import pytest
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions.datetime_fns import (
    derive_partitions,
    drop_invalid_datetime,
)
from reddit_data_pipeline_engineering_spark.functions.text import normalize_token
from reddit_data_pipeline_engineering_spark.operators.audit import (
    assert_columns,
    assert_schema,
    null_counts,
)
from reddit_data_pipeline_engineering_spark.operators.dedup import (
    distinct_by_key,
    window_dedup,
)
from reddit_data_pipeline_engineering_spark.operators.enrich import (
    coalesce_defaults,
    map_literal,
)
from reddit_data_pipeline_engineering_spark.operators.pivot import (
    pivot_conditional,
    pivot_dynamic,
    unpivot,
)

from .test_aqi import aqi_both


@pytest.fixture(scope="module")
def long_df(spark):
    rows = [
        # (location, ts, param, value, extracted_at)
        (101, "2025-01-15 01:00:00", "pm25", 35.5, "t1"),
        (101, "2025-01-15 01:00:00", "pm25", 99.9, "t2"),  # dup, later extract
        (101, "2025-01-15 01:00:00", "pm10", 61.0, "t1"),  # co-timestamped param
        (202, "2025-01-15 01:00:00", "pm25", 12.0, "t1"),
    ]
    return spark.createDataFrame(
        rows, ["location_id", "ts", "parameter", "value", "extracted_at"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_window_dedup_three_part_key_keeps_cotimestamped_params(long_df):
    """SURVEY §2.5: the production 2-part key drops co-timestamped
    pollutants; the engine's 3-part key must not."""
    two_key = window_dedup(long_df, ["location_id", "ts"], ["extracted_at"])
    three_key = window_dedup(
        long_df, ["location_id", "ts", "parameter"], ["extracted_at"]
    )
    assert two_key.count() == 2  # pm10 row discarded — the reference bug
    assert three_key.count() == 3  # pm10 survives
    kept = {
        (r["location_id"], r["parameter"]): r["value"] for r in three_key.collect()
    }
    # Deterministic tiebreak: first extracted_at wins.
    assert kept[(101, "pm25")] == 35.5


def test_window_dedup_keep_last(long_df):
    last = window_dedup(
        long_df, ["location_id", "ts", "parameter"], ["extracted_at"], keep="last"
    )
    kept = {(r["location_id"], r["parameter"]): r["value"] for r in last.collect()}
    assert kept[(101, "pm25")] == 99.9


def test_distinct_by_key(long_df):
    assert distinct_by_key(long_df, ["location_id"]).count() == 2


def test_pivot_conditional_matches_dynamic(long_df):
    """The static conditional pivot must agree with the reference-style
    dynamic pivot on the same data (modulo column set)."""
    static = pivot_conditional(
        long_df, ["location_id", "ts"], "parameter", "value", ["pm25", "pm10"]
    )
    dynamic = pivot_dynamic(long_df, ["location_id", "ts"], "parameter", "value")
    srows = {r["location_id"]: r.asDict() for r in static.collect()}
    drows = {r["location_id"]: r.asDict() for r in dynamic.collect()}
    for loc in srows:
        assert srows[loc]["pm25"] == drows[loc]["pm25"]
    # Mean absorbs residual duplicates exactly like pivot().agg(mean).
    assert srows[101]["pm25"] == pytest.approx((35.5 + 99.9) / 2)
    assert srows[101]["pm10"] == 61.0
    assert srows[202]["pm10"] is None


def test_unpivot_roundtrip(long_df):
    wide = pivot_conditional(
        long_df.dropDuplicates(["location_id", "ts", "parameter"]),
        ["location_id", "ts"],
        "parameter",
        "value",
        ["pm25", "pm10"],
    )
    back = unpivot(wide, ["location_id", "ts"], ["pm25", "pm10"]).filter(
        F.col("value").isNotNull()
    )
    assert back.count() == 3
    assert set(back.columns) == {"location_id", "ts", "parameter", "value"}


def test_datetime_parse_offsets_and_invalid(spark):
    df = spark.createDataFrame(
        [("2025-01-15T08:00:00+07:00",), ("2025-01-15T01:00:00Z",),
         ("garbage",), (None,)],
        ["datetime"],
    )
    out = drop_invalid_datetime(df, "datetime", "ts")
    vals = sorted(str(r["ts"]) for r in out.collect())
    # Both valid rows normalize to the same UTC instant (session tz pinned).
    assert vals == ["2025-01-15 01:00:00", "2025-01-15 01:00:00"]


def test_derive_partitions_zero_padding(spark):
    df = spark.createDataFrame([("2025-03-05 07:00:00",)], ["datetime"]).withColumn(
        "datetime", F.col("datetime").cast("timestamp")
    )
    row = derive_partitions(df).collect()[0]
    assert (row["year"], row["month"], row["day"]) == (2025, "03", "05")


def test_normalize_token(spark):
    df = spark.createDataFrame([("PM2.5",), ("NO2",), ("pm10",)], ["p"])
    got = [r[0] for r in df.select(normalize_token("p")).collect()]
    assert got == ["pm25", "no2", "pm10"]


def test_map_literal_and_defaults(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, None)], ["id", "city"]
    )
    out = df.withColumn(
        "city", F.coalesce(map_literal({1: "Hanoi"}, F.col("id")), F.col("city"))
    )
    out = coalesce_defaults(out, {"city": "Unknown"})
    got = {r["id"]: r["city"] for r in out.collect()}
    assert got == {1: "Hanoi", 2: "x", 3: "Unknown"}


def test_audit_asserts_and_null_counts(spark):
    df = spark.createDataFrame([(1, None), (2, "a")], ["id", "v"])
    assert_columns(df, ["id", "v"])
    with pytest.raises(ValueError, match="missing critical columns"):
        assert_columns(df, ["id", "nope"])
    with pytest.raises(ValueError, match="type mismatch|unexpected|missing"):
        assert_schema(df, df.select(F.col("id").cast("string"), "v").schema)
    counts = null_counts(df, ["id", "v"]).collect()[0]
    assert (counts["id_nulls"], counts["v_nulls"]) == (0, 1)


# ---------------------------------------------------------------------------
# AQI edge-case matrix (reference plan lines 69-90)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def aqi_eval(spark):
    """``(aqi, dominant pollutant, level)`` of one row of concentrations,
    from the AQI SQL strings; Spark and DuckDB must agree on the row."""

    def ev(**conc):
        _, srows, drows = aqi_both(spark, [conc])
        assert srows == drows
        *_, a, dom, level = srows[0]
        return a, dom, level

    return ev


def test_aqi_breakpoint_boundaries(aqi_eval):
    a, dom, level = aqi_eval(pm25=12.0)  # top of Good bracket
    assert a == 50.0 and dom == "pm25" and level == "Good"
    a, _, level = aqi_eval(pm25=35.4)
    assert a == 100.0 and level == "Moderate"
    a, _, level = aqi_eval(pm25=0.0)
    assert a == 0.0 and level == "Good"


def test_aqi_interpolation_midpoint(aqi_eval):
    # Midpoint of (12.1..35.4 -> 51..100): linear interpolation.
    a, _, _ = aqi_eval(pm25=23.75)
    expected = (100 - 51) / (35.4 - 12.1) * (23.75 - 12.1) + 51
    assert a == pytest.approx(expected)


def test_aqi_max_combine_and_dominant(aqi_eval):
    a, dom, _ = aqi_eval(pm25=10.0, o3=80.0)  # o3 sub ~134 > pm25 sub ~42
    assert dom == "o3" and a > 100


def test_aqi_missing_and_negative(aqi_eval):
    a, dom, level = aqi_eval()  # all null
    assert a is None and dom is None and level == "Unknown"
    a, dom, _ = aqi_eval(pm25=-5.0, pm10=54.0)  # negative skipped
    assert dom == "pm10" and a == 50.0


def test_aqi_uncapped_above_500(aqi_eval):
    a, _, level = aqi_eval(pm25=600.0)  # beyond table: extrapolate, uncap
    assert a > 500 and level == "Hazardous"

def test_expectations_one_pass_and_results(spark):
    from reddit_data_pipeline_engineering_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", None), (3, "zz", -1.0), (3, "b", 7.0)],
        "id long, cat string, v double",
    )
    report = ex.validate(
        df,
        [
            ex.not_null("v"),
            ex.in_range("v", 0, 10),
            ex.accepted_values("cat", ["a", "b"]),
            ex.unique("id"),
        ],
    )
    got = {r["rule"]: (r["n_violations"], r["passed"]) for r in report.collect()}
    assert got == {
        "v_not_null": (1, False),
        "v_in_range": (1, False),  # nulls don't count as range violations
        "cat_accepted_values": (1, False),
        "id_unique": (1, False),
    }
    # Single scan: exactly one Location (one file source) in the plan.
    plan = report._sc._jvm.PythonSQLUtils.explainString(
        report._jdf.queryExecution(), "formatted"
    )
    # One scan NODE total (AQE prints the tree twice plus a detail
    # section; the numbered detail header appears once per node).
    import re

    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 1

    clean = spark.createDataFrame([(1, "a", 5.0)], "id long, cat string, v double")
    assert all(
        r["passed"] for r in ex.validate(clean, [ex.not_null("v")]).collect()
    )


def test_ivfpq_joint_fit_matches_separate_fits(spark):
    """Each partition of a joint (1, 4) Lloyd fit must be bit-identical
    to its single-partition fit: same seeds, same per-iteration
    aggregate arithmetic, disjoint book keys in the shared job."""
    import random

    from reddit_data_pipeline_engineering_spark.operators import kmeans

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(180)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def fit(subspaces):
        return kmeans.lloyd_fit(
            df, "embedding", "vec_id", subspaces, k=4, iters=2
        )

    cents_j, books_j = fit((1, 4))
    assert [cents_j] == fit((1,))
    assert [books_j] == fit((4,))
    with pytest.raises(ValueError):  # dim 16 % m
        fit((1, 3))


def test_minhash_signature_from_shared_shingle_arrays_identical(spark):
    """r11 optimization: lsh_quality_eval computes its exact-join and
    MinHash legs over ONE shared shingle-array relation; the signatures
    derived from the shared arrays must equal the ones the direct
    tokenize+shingle path computes."""
    from reddit_data_pipeline_engineering_spark.operators import (
        setsim,
        text_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "lorem ipsum dolor sit amet consectetur"),
            (4, "short"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    direct = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=3
    )
    arrs = setsim._shingle_arrays(docs, "text", "doc_id", shingle_len=3)
    shared = text_dedup.minhash_signature(
        docs, "text", "doc_id", num_hashes=8, shingle_len=3,
        shingle_arrays=arrs,
    )
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(direct.collect(), key=key) == sorted(
        shared.collect(), key=key
    )
