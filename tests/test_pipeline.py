"""End-to-end batch pipeline tests (the reference's DAG collapsed to one
session) + schema contract + idempotency + catalog/query surface.

Mirrors the reference's test layers (SURVEY.md §5): operator flow with
Hanoi/HCMC-style fixture rows, 15-column contract, partition-dir layout,
plus what the reference lacks: a re-run idempotency check (its append mode
double-counts, SURVEY.md §7.3).
"""

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark import catalog as cat
from reddit_data_pipeline_engineering_spark.pipeline import run_pipeline, transform_raw
from reddit_data_pipeline_engineering_spark.plans.marts import write_marts
from reddit_data_pipeline_engineering_spark.schemas import MARTS
from reddit_data_pipeline_engineering_spark.sources.raw_zone import (
    read_raw_zone,
    write_raw_zone,
)

RAW_ROWS = [
    # Hanoi, two params same hour + one exact duplicate (dedup target)
    {"sensor_id": 1, "datetime": "2025-01-15T08:00:00+07:00", "value": 35.5,
     "parameter": "PM2.5", "unit": "µg/m³", "extracted_at": "2025-01-15T02:00:00",
     "location_id": 101, "location_name": "Hanoi Station", "city": "Hanoi",
     "timezone": "Asia/Bangkok", "country": "VN", "latitude": 21.03, "longitude": 105.85},
    {"sensor_id": 1, "datetime": "2025-01-15T08:00:00+07:00", "value": 99.9,
     "parameter": "PM2.5", "unit": "µg/m³", "extracted_at": "2025-01-15T03:00:00",
     "location_id": 101, "location_name": "Hanoi Station", "city": "Hanoi",
     "timezone": "Asia/Bangkok", "country": "VN", "latitude": 21.03, "longitude": 105.85},
    {"sensor_id": 2, "datetime": "2025-01-15T08:00:00+07:00", "value": 61.0,
     "parameter": "pm10", "unit": "µg/m³", "extracted_at": "2025-01-15T02:00:00",
     "location_id": 101, "location_name": "Hanoi Station", "city": "Hanoi",
     "timezone": "Asia/Bangkok", "country": "VN", "latitude": 21.03, "longitude": 105.85},
    # HCMC, null city (fillna target), next day
    {"sensor_id": 3, "datetime": "2025-01-16T09:00:00+07:00", "value": 12.1,
     "parameter": "no2", "unit": "µg/m³", "extracted_at": "2025-01-16T03:00:00",
     "location_id": 202, "location_name": "HCMC Station", "city": None,
     "timezone": "Asia/Bangkok", "country": None, "latitude": None, "longitude": None},
    # invalid datetime -> dropped (P3)
    {"sensor_id": 4, "datetime": "not-a-date", "value": 1.0,
     "parameter": "o3", "unit": "µg/m³", "extracted_at": "2025-01-16T03:00:00",
     "location_id": 202, "location_name": "HCMC Station", "city": None,
     "timezone": "Asia/Bangkok", "country": "VN", "latitude": 10.82, "longitude": 106.63},
]


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_zone")
    with open(d / "raw_batch1.json", "w") as f:
        for r in RAW_ROWS:
            f.write(json.dumps(r) + "\n")
    return str(d)


def test_transform_contract_and_semantics(spark, raw_dir):
    wide = transform_raw(read_raw_zone(spark, raw_dir))
    rows = {
        (r["location_id"], str(r["datetime"])): r.asDict()
        for r in wide.collect()
    }
    # Invalid datetime dropped; 2 surviving (location, ts) groups.
    assert len(rows) == 2
    # UTC normalization: +07:00 08:00 -> 01:00 UTC.
    hanoi = rows[("101", "2025-01-15 01:00:00")]
    # Dedup keeps first by (extracted_at, value): 35.5, not 99.9;
    # 'PM2.5' normalized into the pm25 column; pm10 co-timestamped kept.
    assert hanoi["pm25"] == 35.5
    assert hanoi["pm10"] == 61.0
    assert hanoi["year"] == 2025 and hanoi["month"] == "01" and hanoi["day"] == "15"
    hcmc = rows[("202", "2025-01-16 02:00:00")]
    # fillna defaults (reference P5): Unknown city, VN country, 0.0 coords.
    assert hcmc["city_name"] == "Unknown"
    assert hcmc["country_code"] == "VN"
    assert hcmc["latitude"] == 0.0 and hcmc["longitude"] == 0.0
    assert hcmc["no2"] == 12.1


def test_marts_schema_contract(spark, raw_dir):
    wide = transform_raw(read_raw_zone(spark, raw_dir))
    out_cols = {f.name: f.dataType.simpleString() for f in wide.schema.fields}
    contract = {f.name: f.dataType.simpleString() for f in MARTS.fields}
    assert out_cols == contract


def test_pipeline_end_to_end_and_idempotency(spark, raw_dir, tmp_path):
    out = str(tmp_path / "marts")
    res = run_pipeline(spark, raw_dir, out, table="marts_vietnam")
    assert res.rows_written == 2
    assert res.validation_counts["marts_vietnam"] == 2
    # Hive partition layout exists (year=2025/month=01/day=15).
    assert os.path.isdir(os.path.join(out, "year=2025", "month=01", "day=15"))
    # Re-run: dynamic partition overwrite => same count (reference's append
    # mode would double it).
    res2 = run_pipeline(spark, raw_dir, out, table="marts_vietnam")
    assert res2.rows_written == 2
    # Catalog + query surface (S9/S10).
    assert "marts_vietnam" in cat.list_tables(spark)
    assert cat.get_table_count(spark, "marts_vietnam") == 2
    pdf = spark.sql(
        "SELECT location_id, pm25 FROM marts_vietnam "
        "WHERE year = 2025 AND month = '01' AND day = '15'"
    ).toPandas()
    assert pdf["pm25"].tolist() == [35.5]
    assert spark.sql("SELECT 1 AS ok").collect()[0][0] == 1


def test_write_marts_leaves_the_session_overwrite_mode(spark, raw_dir, tmp_path):
    """Dynamic partition overwrite is scoped to the marts write: the
    session's mode is unchanged afterwards (a later partitioned overwrite
    elsewhere still truncates), and a rewrite of one day's partition
    leaves the other day's partition in place."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "marts")
        wide = transform_raw(read_raw_zone(spark, raw_dir))
        write_marts(wide, out)
        assert spark.conf.get(key) == "static"
        write_marts(
            wide.filter(F.col("day") == "15").withColumn("pm25", F.lit(1.0)),
            out,
        )
        assert spark.conf.get(key) == "static"
        got = {
            (r["location_id"], r["pm25"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == {("101", 1.0), ("202", None)}
    finally:
        spark.conf.set(key, before)


def _station_hour(path, hour, loc_ids):
    """Land one NDJSON file: a pm25 reading from each station in
    ``loc_ids``, in that order, for UTC ``hour`` of 2025-01-15."""
    with open(path, "w") as f:
        for loc in loc_ids:
            f.write(json.dumps({
                "sensor_id": loc, "datetime": f"2025-01-15T{hour + 7:02d}:00:00+07:00",
                "value": float(loc % 97), "parameter": "pm25", "unit": "µg/m³",
                "extracted_at": "2025-01-15T00:00:00", "location_id": loc,
                "location_name": f"Station {loc}", "city": "Hanoi",
                "timezone": "Asia/Bangkok", "country": "VN",
                "latitude": 21.03, "longitude": 105.85,
            }) + "\n")


def _assert_clustered_by_location(out):
    import pyarrow.parquet as pq

    files = [
        os.path.join(d, n)
        for d, _, names in os.walk(out)
        for n in names
        if n.endswith(".parquet")
    ]
    assert files
    for path in files:
        ids = pq.read_table(path, columns=["location_id"]).column(0).to_pylist()
        assert ids == sorted(ids), path


def test_marts_files_are_clustered_by_location(spark, tmp_path):
    """The backfill and a merge both leave every partition file sorted by
    ``location_id`` (row-group statistics stay selective), whatever order
    the stations arrive in. The merge runs without AQE partition
    coalescing, so its survivors reach the write from several tasks."""
    from reddit_data_pipeline_engineering_spark.maintenance import merge_upsert

    rng = random.Random(7)
    ids = list(range(1000, 1200))
    raw = tmp_path / "raw"
    raw.mkdir()
    for hour in range(3):
        rng.shuffle(ids)
        _station_hour(raw / f"raw_h{hour:02d}.json", hour, ids)
    out = str(tmp_path / "marts")
    run_pipeline(spark, str(raw), out)
    _assert_clustered_by_location(out)

    inc = tmp_path / "inc"
    inc.mkdir()
    rng.shuffle(ids)
    _station_hour(inc / "raw_h03.json", 3, ids)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        merge_upsert(
            spark,
            out,
            transform_raw(read_raw_zone(spark, str(inc))),
            keys=("location_id", "datetime"),
            partition_cols=("year", "month", "day"),
        )
    finally:
        spark.conf.set(key, old)
    assert spark.read.parquet(out).count() == 4 * len(ids)
    _assert_clustered_by_location(out)


def test_compact_partitions(spark, tmp_path):
    from reddit_data_pipeline_engineering_spark.maintenance import compact_partitions

    out = str(tmp_path / "frag")
    # 100 rows over 2 day-partitions, deliberately written as many small
    # files (the reference's repartition-by-non-partition-col anti-pattern).
    df = spark.range(100).select(
        F.col("id"),
        F.lit(2025).alias("year"),
        F.lit("01").alias("month"),
        F.when(F.col("id") % 2 == 0, "15").otherwise("16").alias("day"),
    )
    df.repartition(8, "id").write.partitionBy("year", "month", "day").parquet(out)

    def files_in(part):
        d = os.path.join(out, "year=2025", "month=01", part)
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in("day=15")) > 1  # fragmented
    before = sorted(r["id"] for r in spark.read.parquet(out).collect())
    n = compact_partitions(spark, out, ("year", "month", "day"))
    assert n == 100
    assert len(files_in("day=15")) == 1  # one file per partition now
    after = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert after == before  # content identical


def test_empty_rewrites_write_nothing(spark, tmp_path):
    """A compaction predicate that matches no partition, and a rollup
    batch with no rows, count 0 rows and leave every file as it was
    (their plans read no input partition, so no write metrics arrive);
    a rollup whose first batch was empty still takes the next one."""
    from reddit_data_pipeline_engineering_spark.maintenance import (
        compact_partitions,
        incremental_rollup,
    )

    def tree(path):
        return {
            os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
            for d, _, names in os.walk(path)
            for n in names
        }

    out = str(tmp_path / "frag")
    spark.range(10).select(
        "id", F.lit(2025).alias("year"), F.lit("01").alias("month")
    ).write.partitionBy("year", "month").parquet(out)
    before = tree(out)
    assert compact_partitions(spark, out, ("year", "month"), "month = '02'") == 0
    assert tree(out) == before

    ev = spark.createDataFrame(
        [(1, "2025-01-01 10:00:00", 1.5), (1, "2025-01-01 10:30:00", 2.5)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    inc = str(tmp_path / "inc")
    assert incremental_rollup(spark, inc, ev.limit(0), ["user_id"], "ts", "value") == 0
    assert incremental_rollup(spark, inc, ev, ["user_id"], "ts", "value") == 1
    before = tree(inc)
    assert incremental_rollup(spark, inc, ev.limit(0), ["user_id"], "ts", "value") == 0
    assert tree(inc) == before


def test_merge_upsert(spark, tmp_path):
    """Key-level MERGE into partitioned parquet: updates replace matching
    keys, inserts add new keys, untouched partitions keep their files, and
    replaying the batch is idempotent."""
    from reddit_data_pipeline_engineering_spark.maintenance import merge_upsert

    out = str(tmp_path / "marts")
    base = spark.createDataFrame(
        [
            (1, "d1", 10.0, 2025),
            (2, "d1", 20.0, 2025),
            (3, "d2", 30.0, 2024),  # partition the updates never touch
        ],
        ["key", "name", "value", "year"],
    )
    base.write.partitionBy("year").parquet(out)
    untouched_before = sorted(
        os.listdir(os.path.join(out, "year=2024"))
    )

    updates = spark.createDataFrame(
        [
            (2, "d1", 99.0, 2025),  # update existing key
            (4, "d1", 40.0, 2025),  # insert new key
        ],
        ["key", "name", "value", "year"],
    )
    n = merge_upsert(spark, out, updates, keys=("key",), partition_cols=("year",))
    got = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    assert n == 3  # survivors written for the touched partition only
    # The 2024 partition was never rewritten.
    assert sorted(os.listdir(os.path.join(out, "year=2024"))) == untouched_before

    # Replay the same batch: identical result (no append double-count).
    merge_upsert(spark, out, updates, keys=("key",), partition_cols=("year",))
    got2 = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got2 == got


def test_pipeline_cli_args(spark, raw_dir, tmp_path, capsys):
    from reddit_data_pipeline_engineering_spark.pipeline import main

    out = str(tmp_path / "marts_cli")
    res = main(["--input", raw_dir, "--output", out])
    assert res.rows_written == 2
    assert "rows_written=2" in capsys.readouterr().out


def test_raw_zone_roundtrip(spark, raw_dir, tmp_path):
    raw = read_raw_zone(spark, raw_dir)
    dest = str(tmp_path / "rezone")
    write_raw_zone(raw.filter(F.col("datetime") != "not-a-date"), dest)
    # Hour-grain Hive layout (reference's aq_raw/Y/M/D/H path templating).
    assert os.path.isdir(
        os.path.join(dest, "year=2025", "month=01", "day=15", "hour=01")
    )
    back = read_raw_zone(spark, dest)
    assert back.count() == 4


def test_merge_upsert_zero_padded_partition(spark, tmp_path):
    """Zero-padded STRING partition values (month=01) must not fork the
    layout: with type inference guarded off, the touched-partition filter
    matches the string literal and the rewrite lands back in month=01,
    never a duplicate month=1 directory."""
    from reddit_data_pipeline_engineering_spark.maintenance import merge_upsert

    out = str(tmp_path / "padded")
    base = spark.createDataFrame(
        [(1, 10.0, "01"), (2, 20.0, "01"), (3, 30.0, "02")],
        ["key", "value", "month"],
    )
    base.write.partitionBy("month").parquet(out)

    updates = spark.createDataFrame(
        [(2, 99.0, "01"), (4, 40.0, "01")], ["key", "value", "month"]
    )
    merge_upsert(spark, out, updates, keys=("key",), partition_cols=("month",))

    dirs = sorted(
        d for d in os.listdir(out) if d.startswith("month=")
    )
    assert dirs == ["month=01", "month=02"]  # no month=1 fork
    got = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    # The session conf the guard toggles is restored afterwards.
    assert (
        spark.conf.get(
            "spark.sql.sources.partitionColumnTypeInference.enabled"
        )
        == "true"
    )


def test_pipeline_cli_with_config_file(spark, raw_dir, tmp_path, capsys):
    """The full CLI run driven by a config file's file_paths section —
    no --input/--output flags (settings.py precedence chain)."""
    from reddit_data_pipeline_engineering_spark.pipeline import main

    out = str(tmp_path / "marts_conf")
    conf = tmp_path / "settings.conf"
    conf.write_text(
        f"[file_paths]\ninput_path = {raw_dir}\noutput_path = {out}\n"
    )
    res = main(["--config", str(conf)])
    assert res.rows_written > 0
    assert os.path.isdir(out)
    assert "rows_written" in capsys.readouterr().out


def test_wrapped_json_roundtrip(spark, tmp_path):
    """S4 wrapped-JSON archive sink: one {meta, results} document per
    batch; read-back explodes to the original rows with batch metadata."""
    from reddit_data_pipeline_engineering_spark.sources.raw_zone import (
        read_wrapped_json,
        write_wrapped_json,
    )

    out = str(tmp_path / "wrapped")
    df = spark.createDataFrame(
        [(1, "pm25", 10.5), (2, "pm10", 20.0), (3, "o3", 30.25)],
        ["sensor_id", "parameter", "value"],
    )
    write_wrapped_json(df, out, extracted_at="2025-01-15T00:00:00")

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1  # single wrapped document
    with open(os.path.join(out, parts[0])) as f:
        doc = json.loads(f.read())
    assert doc["meta"]["found"] == 3
    assert doc["meta"]["name"] == "openaq-api"
    assert len(doc["results"]) == 3

    back = read_wrapped_json(spark, out)
    got = sorted(
        (r["sensor_id"], r["parameter"], r["value"], r["batch_found"])
        for r in back.collect()
    )
    assert got == [
        (1, "pm25", 10.5, 3), (2, "pm10", 20.0, 3), (3, "o3", 30.25, 3)
    ]


def test_incremental_rollup_converges_to_batch(spark, tmp_path):
    """Any batch split of the input folds to the identical aggregate
    table (mergeable decimal-exact state), and each increment rewrites
    only touched date partitions."""
    from reddit_data_pipeline_engineering_spark.maintenance import (
        incremental_rollup,
        read_rollup,
    )
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    from .conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    lo = ev.agg(F.min("ts")).head()[0]
    two_days = ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 2 DAYS"))

    inc_path = str(tmp_path / "inc")
    cut = F.lit(lo) + F.expr("INTERVAL 1 DAYS")
    incremental_rollup(
        spark, inc_path, two_days.filter(F.col("ts") < cut),
        ["user_id"], "ts", "value",
    )
    incremental_rollup(
        spark, inc_path, two_days.filter(F.col("ts") >= cut),
        ["user_id"], "ts", "value",
    )
    # Overlapping second run on day 1's last hour must NOT double-count:
    # increments are additive, so feed disjoint batches only (documented);
    # here we assert convergence of the disjoint split against one shot.
    batch_path = str(tmp_path / "batch")
    incremental_rollup(
        spark, batch_path, two_days, ["user_id"], "ts", "value",
    )

    cols = ["bucket_hour", "user_id", "n_values", "sum_value", "avg_value"]
    got = sorted(
        map(tuple, read_rollup(spark, inc_path).select(*cols).collect())
    )
    want = sorted(
        map(tuple, read_rollup(spark, batch_path).select(*cols).collect())
    )
    assert got == want and len(got) > 0


def test_incremental_join_view_converges_to_batch(spark, tmp_path):
    """The delta rule (dA join (B union dB)  UNION  A join dB) must make
    the accumulated view equal the full join of the accumulated bases
    for ANY batch split — including batches where only one side has new
    rows — with every write a pure append."""
    from reddit_data_pipeline_engineering_spark.maintenance import (
        incremental_join_view,
        read_join_view,
    )
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    from .conftest import SF_SMALL

    cust = (
        load_table(spark, SF_SMALL, "customer")
        .select(F.col("c_custkey").alias("k"), "c_name")
    )
    orders = (
        load_table(spark, SF_SMALL, "orders")
        .select(F.col("o_custkey").alias("k"), "o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 7 == 0)  # keep the test small
    )

    inc = str(tmp_path / "inc")
    # Batch 1: first half of customers, no orders yet.
    empty_orders = orders.limit(0)
    n1 = incremental_join_view(
        spark, inc, cust.filter("k % 2 = 0"), empty_orders, on="k"
    )
    assert n1 == 0  # no right rows -> no pairs yet
    # Batch 2: all orders arrive, plus the remaining customers.
    n2 = incremental_join_view(
        spark, inc, cust.filter("k % 2 = 1"), orders, on="k"
    )
    # Batch 3: right-only delta (an order replay stream would be wrong —
    # this is a NEW disjoint slice, here: none) — exercise the
    # one-sided path with an empty left delta.
    n3 = incremental_join_view(spark, inc, cust.limit(0), empty_orders, on="k")
    assert n3 == 0

    want = sorted(map(tuple, cust.join(orders, "k").collect()))
    got_df = read_join_view(spark, inc)
    got = sorted(
        map(tuple, got_df.select(*cust.join(orders, "k").columns).collect())
    )
    assert got == want
    assert n1 + n2 + n3 == len(want)


def test_incremental_source_ledger_bookmarks(spark, tmp_path):
    """VERDICT r05 #7 — the Glue-bookmark analog: a re-run over the raw
    zone processes only files not yet committed to the ledger; replaying
    all increments equals one full read; an uncommitted batch is
    re-presented on the next run (at-least-once)."""
    import time

    from reddit_data_pipeline_engineering_spark.maintenance import (
        read_raw_zone_incremental,
    )

    zone = tmp_path / "zone"
    zone.mkdir()
    ledger = str(tmp_path / "ledger")

    def land(name, rows):
        with open(zone / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    land("raw_h08.json", RAW_ROWS[:3])

    # batch 1: everything is new
    df, files, commit = read_raw_zone_incremental(spark, str(zone), ledger)
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h08.json"]
    assert df.count() == 3
    commit(3, "batch-1")

    # new hour lands; ensure a distinct mtime granularity tick
    time.sleep(0.05)
    land("raw_h09.json", RAW_ROWS[3:])

    # batch 2: ONLY the new file is presented
    df, files, commit = read_raw_zone_incremental(spark, str(zone), ledger)
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h09.json"]
    got_ids = {r["sensor_id"] for r in df.collect()}
    assert got_ids == {r["sensor_id"] for r in RAW_ROWS[3:]}
    # crash before commit: the same files are re-presented (at-least-once)
    df2, files2, commit2 = read_raw_zone_incremental(spark, str(zone), ledger)
    assert files2 == files
    commit2(df2.count(), "batch-2")

    # steady state: nothing new -> empty frame with the pinned schema
    df, files, _ = read_raw_zone_incremental(spark, str(zone), ledger)
    assert files == [] and df.count() == 0
    assert [f.name for f in df.schema.fields][:2] == ["sensor_id", "datetime"]

    # a REWRITTEN file (newer mtime) re-processes, bookmark-style
    time.sleep(0.05)
    land("raw_h08.json", RAW_ROWS[:2])
    df, files, commit = read_raw_zone_incremental(spark, str(zone), ledger)
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h08.json"]
    assert df.count() == 2
    commit(2, "batch-3")

    # union of committed increments == full zone read (convergence):
    # h08 now holds its rewritten 2 rows, h09 its 2
    full = read_raw_zone(spark, str(zone)).count()
    assert full == 4

    # a rewrite landing WITHIN the mtime granularity (equal mtime,
    # different size) still re-processes via the size tiebreak
    # (ADVICE r06): pin the file's mtime back to the committed value.
    import os

    target = zone / "raw_h08.json"
    committed_mtime_ns = os.stat(target).st_mtime_ns
    land("raw_h08.json", RAW_ROWS[:1])  # 1 row now — size shrinks
    os.utime(target, ns=(committed_mtime_ns, committed_mtime_ns))
    df, files, commit = read_raw_zone_incremental(spark, str(zone), ledger)
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h08.json"]
    assert df.count() == 1
    commit(1, "batch-4")
    df, files, _ = read_raw_zone_incremental(spark, str(zone), ledger)
    assert files == [] and df.count() == 0
