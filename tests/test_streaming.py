"""Structured Streaming kernel tests.

The key property: the streaming kernel over a file-source raw zone,
drained with availableNow, produces the same wide rows as the equivalent
batch plan on the same input (differential batch-vs-streaming check — the
strongest guarantee the reference (batch-only, SURVEY.md §2.9) never had).

Throughput (VERDICT r05 #5): every case below is an independent
availableNow drain with its own source dir, sink and checkpoint, so a
module fixture runs ALL of them concurrently over a thread pool —
concurrent structured-streaming queries in one session are a core Spark
feature (each query has its own scheduler thread anyway). Assertions
stay inside each case; the parametrized tests re-raise the recorded
outcome, preserving per-test reporting.
"""

import ast
import json
import os
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.operators.pivot import pivot_conditional
from reddit_data_pipeline_engineering_spark.schemas import RAW_MEASUREMENT
from reddit_data_pipeline_engineering_spark.sources.raw_zone import read_raw_zone
from reddit_data_pipeline_engineering_spark.streaming.kernel import (
    read_raw_stream,
    run_scaled_drain,
    run_stream_to_completion,
    sessionize_stream,
    streaming_marts,
    write_marts_stream,
)

from .conftest import SF_SMALL

PARAMS = ["pm25", "pm10", "no2"]


def _raw_rows():
    rows = []
    for hour in (8, 9):
        for loc, val in ((101, 30.0 + hour), (202, 50.0 + hour)):
            for p in ("pm25", "pm10"):
                rows.append(
                    {
                        "sensor_id": loc * 10,
                        "datetime": f"2025-02-01T{hour:02d}:15:00+00:00",
                        "value": val,
                        "parameter": p,
                        "extracted_at": "2025-02-01T12:00:00",
                        "location_id": loc,
                        "location_name": f"loc{loc}",
                        "city": f"city{loc}",
                        "country": "VN",
                        "unit": "µg/m³",
                        "timezone": "UTC",
                        "latitude": 1.0,
                        "longitude": 2.0,
                    }
                )
    # A duplicate row (same location/ts/parameter) the stream must drop.
    rows.append(dict(rows[0]))
    return rows


# Appended last: pushes the event-time watermark past every real window so
# append-mode emits them before the availableNow drain terminates (without
# it, windows ending after max_event_time - watermark stay in state and the
# sink receives nothing).
SENTINEL = {
    "sensor_id": 0,
    "datetime": "2025-02-01T23:00:00+00:00",
    "value": 0.0,
    "parameter": "sentinel",
    "extracted_at": "2025-02-01T23:00:00",
    "location_id": 999,
    "location_name": "sentinel",
    "city": "sentinel",
    "country": "VN",
    "unit": "µg/m³",
    "timezone": "UTC",
    "latitude": 0.0,
    "longitude": 0.0,
}


def _emit(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _dim(spark):
    return spark.createDataFrame(
        [(101, "Hanoi"), (202, "HCMC")], ["location_id", "city_name"]
    )


# --------------------------------------------------------------------------
# Cases. Each takes (spark, tmp: pathlib.Path) and asserts its own
# invariants; the fixture below runs them all concurrently.
# --------------------------------------------------------------------------


def _case_streaming_matches_batch(spark, tmp):
    raw = tmp / "stream_raw"
    raw.mkdir()
    rows = _raw_rows()
    chunks = (rows[: len(rows) // 2], rows[len(rows) // 2 :], [SENTINEL])
    for i, chunk in enumerate(chunks):
        _emit(raw / f"raw_{i}.json", chunk)
    stream_raw_dir = str(raw)

    stream = read_raw_stream(
        spark, stream_raw_dir, RAW_MEASUREMENT, max_files_per_trigger=1
    ).withColumn("ts", F.col("datetime").cast("timestamp"))

    wide = streaming_marts(
        stream,
        _dim(spark),
        entity_col="location_id",
        ts_col="ts",
        param_col="parameter",
        value_col="value",
        param_values=PARAMS,
        dim_key="location_id",
        dim_cols={"city_name": "city_name"},
        watermark="2 hours",
        window_duration="1 hour",
    )
    out = str(tmp / "marts_stream")
    ckpt = str(tmp / "ckpt")
    run_stream_to_completion(write_marts_stream(wide, out, ckpt))

    got = {
        (r["location_id"], str(r["window_start"])): r.asDict()
        for r in spark.read.parquet(out).collect()
        if r["location_id"] != "999"
    }

    # Batch reference plan on the same files: dedup + hourly pivot + join.
    batch = (
        read_raw_zone(spark, stream_raw_dir)
        .withColumn("ts", F.col("datetime").cast("timestamp"))
        .dropDuplicates(["location_id", "ts", "parameter"])
        .withColumn("win", F.window("ts", "1 hour"))
    )
    expected_wide = pivot_conditional(
        batch, ["location_id", "win"], "parameter", "value", PARAMS, agg="avg"
    )
    expected = {
        (str(r["location_id"]), str(r["win"]["start"])): r.asDict()
        for r in expected_wide.collect()
        if r["location_id"] != 999
    }

    assert set(got) == set(expected)
    for key, row in got.items():
        for p in PARAMS:
            assert row[p] == expected[key][p], (key, p)
    # Stream-static enrichment applied.
    assert got[("101", "2025-02-01 08:00:00")]["city_name"] == "Hanoi"
    # Duplicate was dropped across micro-batches: pm25 avg is the single
    # value, not skewed by the dup.
    assert got[("101", "2025-02-01 08:00:00")]["pm25"] == 38.0


def _case_checkpoint_incremental_restart(spark, tmp):
    """Exactly-once across restarts: a second availableNow run with the
    same checkpoint processes ONLY files added since the first run — the
    incremental-batch semantics the reference approximated with Airflow
    re-runs (and which double-counted on retry)."""
    src = tmp / "inc_raw"
    src.mkdir()

    def run_once():
        stream = (
            spark.readStream.format("json")
            .schema("location_id long, datetime string, value double")
            .load(str(src))
            .withColumn("ts", F.col("datetime").cast("timestamp"))
        )
        q = (
            stream.select("location_id", "ts", "value")
            .writeStream.format("parquet")
            .option("path", str(tmp / "inc_out"))
            .option("checkpointLocation", str(tmp / "inc_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    _emit(src / "batch1.json", [
        {"location_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "value": 1.0},
        {"location_id": 2, "datetime": "2025-02-01T08:05:00+00:00", "value": 2.0},
    ])
    run_once()
    assert spark.read.parquet(str(tmp / "inc_out")).count() == 2

    _emit(src / "batch2.json", [
        {"location_id": 3, "datetime": "2025-02-01T09:00:00+00:00", "value": 3.0},
    ])
    run_once()
    out = spark.read.parquet(str(tmp / "inc_out"))
    # 3 rows total: batch1 NOT reprocessed (no double-count), batch2 added.
    assert out.count() == 3
    assert sorted(r["location_id"] for r in out.collect()) == [1, 2, 3]


def _case_foreach_batch_upsert(spark, tmp):
    """Update-mode aggregation through the keyed upsert sink: a window
    re-emitted with more data REPLACES its row (no duplicate rows) —
    parquet-level MERGE semantics."""
    from reddit_data_pipeline_engineering_spark.streaming.kernel import (
        write_stream_upsert,
    )

    src = tmp / "up_raw"
    src.mkdir()
    out = str(tmp / "up_out")
    ckpt = str(tmp / "up_ckpt")

    def run_once():
        stream = (
            spark.readStream.format("json")
            .schema("location_id long, datetime string, value double")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .withColumn("ts", F.col("datetime").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy("location_id", F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(
                "location_id",
                F.col("w.start").alias("window_start"),
                "n",
                "total",
            )
        )
        q = write_stream_upsert(
            agg,
            out,
            ckpt,
            partition_cols=("location_id",),
            keys=("location_id", "window_start"),
        )
        run_stream_to_completion(q)

    _emit(src / "b1.json", [
        {"location_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "value": 1.0},
    ])
    run_once()
    # Same window gains a row in a later file: update-mode re-emits it and
    # the sink must REPLACE, not append.
    _emit(src / "b2.json", [
        {"location_id": 1, "datetime": "2025-02-01T08:30:00+00:00", "value": 2.0},
    ])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # one row for the (1, 08:00) window — no dupes
    assert rows[0]["n"] == 2 and rows[0]["total"] == 3.0


def _case_corrupt_record_quarantine(spark, tmp):
    from reddit_data_pipeline_engineering_spark.sources.raw_zone import (
        split_corrupt,
    )

    d = tmp / "corrupt_raw"
    d.mkdir()
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps({"sensor_id": 1, "datetime": "2025-01-01T00:00:00",
                            "value": 1.0, "parameter": "pm25"}) + "\n")
        f.write("{this is not json\n")
        f.write(json.dumps({"sensor_id": 2, "datetime": "2025-01-01T01:00:00",
                            "value": 2.0, "parameter": "pm10"}) + "\n")
    df = read_raw_zone(spark, str(d), keep_corrupt=True)
    clean, corrupt = split_corrupt(df)
    assert clean.count() == 2
    assert corrupt.count() == 1
    assert "not json" in corrupt.collect()[0][0]


def _case_stream_stream_interval_join(spark, tmp):
    """Two watermarked file streams inner-joined on key within an
    event-time interval; result must equal the equivalent batch join
    (payments matched to the order they follow within 1 hour)."""
    from reddit_data_pipeline_engineering_spark.streaming.kernel import (
        stream_stream_interval_join,
    )

    orders = [
        {"user_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "order_id": 10},
        {"user_id": 1, "datetime": "2025-02-01T10:00:00+00:00", "order_id": 11},
        {"user_id": 2, "datetime": "2025-02-01T08:00:00+00:00", "order_id": 20},
    ]
    payments = [
        # within 1h of order 10 -> matches
        {"user_id": 1, "datetime": "2025-02-01T08:30:00+00:00", "pay_id": 100},
        # 90 min after order 10, before order 11 -> matches NOTHING
        {"user_id": 1, "datetime": "2025-02-01T09:30:00+00:00", "pay_id": 101},
        # exactly at order 11 -> matches order 11
        {"user_id": 1, "datetime": "2025-02-01T10:00:00+00:00", "pay_id": 102},
        # wrong user for order 20's window -> no match
        {"user_id": 3, "datetime": "2025-02-01T08:10:00+00:00", "pay_id": 300},
    ]
    for name, rows in (("orders", orders), ("payments", payments)):
        d = tmp / name
        d.mkdir()
        _emit(d / "data.json", rows)

    def src(name, extra):
        return (
            spark.readStream.format("json")
            .schema(f"user_id long, datetime string, {extra} long")
            .load(str(tmp / name))
            .withColumn("ts", F.col("datetime").cast("timestamp"))
            .drop("datetime")
        )

    joined = stream_stream_interval_join(
        src("orders", "order_id").withColumnRenamed("ts", "order_ts"),
        src("payments", "pay_id").withColumnRenamed("ts", "pay_ts"),
        key="user_id",
        left_ts="order_ts",
        right_ts="pay_ts",
        watermark="2 hours",
        within="1 hour",
    ).select("l.user_id", "order_id", "pay_id")
    out = str(tmp / "join_out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp / "join_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = sorted(
        (r["order_id"], r["pay_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(10, 100), (11, 102)]


def _case_ema_stream_cross_batch_state(spark, tmp):
    """applyInPandasWithState: the per-key EMA recurrence folds ACROSS
    micro-batches — batch 2's first output row must continue from batch
    1's final state, proving keyed state survives the trigger boundary."""
    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        ema_stream,
    )

    src = tmp / "ema_raw"
    src.mkdir()
    batches = [
        [  # micro-batch 1
            {"user_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "value": 10.0},
            {"user_id": 1, "datetime": "2025-02-01T08:10:00+00:00", "value": 20.0},
            {"user_id": 2, "datetime": "2025-02-01T08:00:00+00:00", "value": 5.0},
        ],
        [  # micro-batch 2
            {"user_id": 1, "datetime": "2025-02-01T09:00:00+00:00", "value": 30.0},
            {"user_id": 2, "datetime": "2025-02-01T09:00:00+00:00", "value": 7.0},
            {"user_id": 2, "datetime": "2025-02-01T09:10:00+00:00", "value": 9.0},
        ],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        _emit(p, rows)
        # Distinct mtimes pin the file source's processing order.
        os.utime(p, (1700000000 + i, 1700000000 + i))

    stream = (
        spark.readStream.format("json")
        .schema("user_id long, datetime string, value double")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withColumn("ts", F.col("datetime").cast("timestamp"))
        .select("user_id", "ts", "value")
    )
    out = str(tmp / "ema_out")
    q = (
        ema_stream(stream, "user_id", "ts", "value", alpha=0.5)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp / "ema_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)

    got = {
        (r["user_id"], r["n_seen"]): (r["ema"], r["value"])
        for r in spark.read.parquet(out).collect()
    }
    # Exact fp64 fold: ema = 0.5*v + 0.5*prev, seeded with the first value.
    assert got[(1, 1)] == (10.0, 10.0)
    assert got[(1, 2)] == (15.0, 20.0)
    assert got[(1, 3)] == (22.5, 30.0)  # continues from batch-1 state
    assert got[(2, 1)] == (5.0, 5.0)
    assert got[(2, 2)] == (6.0, 7.0)
    assert got[(2, 3)] == (7.5, 9.0)
    assert len(got) == 6


def _case_sessionize_stream(spark, tmp):
    src = tmp / "sess_raw"
    src.mkdir()
    events = [
        {"location_id": 1, "datetime": "2025-02-01T08:00:00+00:00"},
        {"location_id": 1, "datetime": "2025-02-01T08:10:00+00:00"},
        # 40-minute gap -> new session (gap threshold 30m)
        {"location_id": 1, "datetime": "2025-02-01T08:50:00+00:00"},
        {"location_id": 2, "datetime": "2025-02-01T08:00:00+00:00"},
        # Watermark-advancing sentinel (see SENTINEL above).
        {"location_id": 99, "datetime": "2025-02-01T23:00:00+00:00"},
    ]
    _emit(src / "e.json", events)

    stream = (
        spark.readStream.format("json")
        .schema("location_id long, datetime string")
        .load(str(src))
        .withColumn("ts", F.col("datetime").cast("timestamp"))
    )
    sessions = sessionize_stream(stream, "location_id", "ts", gap="30 minutes")
    out = str(tmp / "sessions")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp / "sess_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = sorted(
        (r["location_id"], r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["location_id"] != 99
    )
    assert got == [(1, 1), (1, 2), (2, 1)]


def _case_foreach_batch_upsert_keyed_two_windows(spark, tmp):
    """A partition that holds SEVERAL re-emittable windows: update mode
    re-emits only the changed window, so the keyed merge path must keep
    the untouched window's row instead of wiping the whole partition."""
    from reddit_data_pipeline_engineering_spark.streaming.kernel import (
        write_stream_upsert,
    )

    src = tmp / "kup_raw"
    src.mkdir()
    out = str(tmp / "kup_out")
    ckpt = str(tmp / "kup_ckpt")

    def run_once():
        stream = (
            spark.readStream.format("json")
            .schema("location_id long, datetime string, value double")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .withColumn("ts", F.col("datetime").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy("location_id", F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(
                "location_id",
                F.col("w.start").alias("window_start"),
                "n",
                "total",
            )
        )
        q = write_stream_upsert(
            agg,
            out,
            ckpt,
            partition_cols=("location_id",),
            keys=("location_id", "window_start"),
        )
        run_stream_to_completion(q)

    _emit(src / "b1.json", [
        {"location_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "value": 1.0},
    ])
    run_once()
    # A LATER window for the same partition key: only this window is
    # re-emitted; the 08:00 row must survive the upsert.
    _emit(src / "b2.json", [
        {"location_id": 1, "datetime": "2025-02-01T10:00:00+00:00", "value": 5.0},
    ])
    run_once()
    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r["window_start"]
    )
    assert len(rows) == 2  # both windows present
    assert [r["total"] for r in rows] == [1.0, 5.0]


def _case_cusum_stream_restart_from_checkpoint(spark, tmp):
    """The strongest stateful guarantee: a NEW query started on the SAME
    checkpoint after more data lands must CONTINUE each key's CUSUM state
    (not re-seed it), and the two drains together must equal the closed-
    form batch replay over all three micro-batches."""
    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        cusum_stream,
    )

    src = tmp / "cusum_raw"
    src.mkdir()
    # drift k=10 (scaled 1000), threshold h=1500. Values chosen so the
    # running score crosses 0 and the threshold across batch boundaries.
    batches = [
        [{"user_id": 1, "datetime": "2025-02-01T08:00:00+00:00", "value": 25.0},
         {"user_id": 1, "datetime": "2025-02-01T08:10:00+00:00", "value": 5.0}],
        [{"user_id": 1, "datetime": "2025-02-01T09:00:00+00:00", "value": 22.0}],
        [{"user_id": 1, "datetime": "2025-02-01T10:00:00+00:00", "value": 13.0},
         {"user_id": 1, "datetime": "2025-02-01T10:10:00+00:00", "value": 2.0}],
    ]

    def write_batch(i):
        p = src / f"b{i}.json"
        _emit(p, batches[i])
        os.utime(p, (1700000000 + i, 1700000000 + i))

    out = str(tmp / "cusum_out")
    ckpt = str(tmp / "cusum_ckpt")

    def drain():
        stream = (
            spark.readStream.format("json")
            .schema("user_id long, datetime string, value double")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
            .withColumn("ts", F.col("datetime").cast("timestamp"))
            .select("user_id", "ts", "value")
        )
        q = (
            cusum_stream(stream, "user_id", "ts", "value",
                         drift=1000, threshold=1500)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    write_batch(0)
    write_batch(1)
    drain()                      # first run: batches 0-1
    write_batch(2)
    drain()                      # RESTART from checkpoint: batch 2 only
    drain()                      # no new data: must be a no-op (idempotent)

    got = sorted(
        (r["cusum"], r["alarm"])
        for r in spark.read.parquet(out).collect()
    )
    # Hand fold (scaled x100, k=1000):
    # 2500: s=1500 F(=h, not >) | 500: s=max(0,1500-500)=1000 F
    # 2200: s=2200 T | 1300: s=2500 T | 200: s=1700 T
    assert got == sorted(
        [(1500, False), (1000, False), (2200, True), (2500, True),
         (1700, True)]
    )


def _case_pit_tiled_stream_matches_batch(spark, tmp):
    """VERDICT r06 #5 — the streaming PIT interval tiling: past the
    broadcast threshold the SCD2 dimension is exploded into half-open
    (key, epoch-bucket) tiles and the stream-static join runs as a hash
    equi-join on (key, bucket) with the interval containment residual.
    Equivalence: the tiled STREAM drain, the tiled BATCH join, and the
    broadcast BATCH join must all produce identical rows; and the tiled
    batch plan must not contain a nested-loop join."""
    import datetime as dt

    from reddit_data_pipeline_engineering_spark.streaming.pit import (
        pit_enrich_stream,
        tile_scd2,
    )

    base = dt.datetime(2025, 1, 1)
    day = dt.timedelta(days=1)
    us = lambda t: int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)

    # Two keys x two SCD2 versions cut at +3d; horizon [base, base+7d).
    dim_rows = [
        (uid, seg, dt.datetime(1970, 1, 1), base + 3 * day, 1,
         base, base + 7 * day)
        for uid, seg in ((1, "A"), (2, "B"))
    ] + [
        (uid, seg + "#v2", base + 3 * day, dt.datetime(2100, 1, 1), 2,
         base, base + 7 * day)
        for uid, seg in ((1, "A"), (2, "B"))
    ]
    dim_schema = (
        "user_id long, seg string, eff_from timestamp_ntz, "
        "eff_to timestamp_ntz, version int, "
        "h_start timestamp_ntz, h_end timestamp_ntz"
    )
    dim = spark.createDataFrame(dim_rows, dim_schema)

    # Tile audit: versions clamp to the horizon — v1 covers days 0-2
    # (3 tiles), v2 clamps its 2100 end to day 7 (4 tiles: days 3-6).
    tiles = tile_scd2(
        dim, eff_from="eff_from", eff_to="eff_to",
        horizon_start="h_start", horizon_end="h_end",
        bucket_seconds=86_400,
    )
    per_version = {
        (r["user_id"], r["version"]): r["n"]
        for r in tiles.groupBy("user_id", "version")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_version == {(1, 1): 3, (2, 1): 3, (1, 2): 4, (2, 2): 4}

    # Events inside the horizon (the tiling contract: the horizon must
    # cover the stream's event-time range).
    events = [
        (1, base + 1 * day, 10.0),          # v1
        (1, base + 3 * day, 20.0),          # boundary: eff_from inclusive -> v2
        (2, base + 2 * day + dt.timedelta(hours=23), 30.0),  # v1
        (2, base + 6 * day + dt.timedelta(hours=12), 40.0),  # v2
        (3, base + 1 * day, 99.0),          # unknown key: no match
    ]
    want = {(1, "A", 1, 10.0), (1, "A#v2", 2, 20.0),
            (2, "B", 1, 30.0), (2, "B#v2", 2, 40.0)}

    raw = tmp / "raw"
    raw.mkdir()
    with open(raw / "events.json", "w") as f:
        for uid, ts, val in events:
            f.write(json.dumps(
                {"user_id": uid, "ts_us": us(ts), "value": val}) + "\n")

    def decode(df):
        return df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts_us,"
                   " TIMESTAMP_NTZ'1970-01-01 00:00:00')"),
        ).drop("ts_us")

    schema = "user_id long, ts_us long, value double"
    kwargs = dict(
        on="user_id", ts_col="ts",
        horizon_start="h_start", horizon_end="h_end",
    )

    # Stream leg, tiled (max_broadcast_rows=0 forces the tiled path).
    out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    stream = decode(
        spark.readStream.format("json").schema(schema).load(str(raw))
    )
    q = (
        pit_enrich_stream(stream, dim, dim_rows=4, max_broadcast_rows=0,
                          **kwargs)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got_stream = {
        (r["user_id"], r["seg"], r["version"], r["value"])
        for r in spark.read.parquet(out).collect()
    }

    # Batch legs on the same staged input: tiled and broadcast.
    batch = decode(
        spark.read.format("json").schema(schema).load(str(raw))
    )
    tiled_batch = pit_enrich_stream(
        batch, dim, dim_rows=4, max_broadcast_rows=0, **kwargs
    )
    bcast_batch = pit_enrich_stream(
        batch, dim, dim_rows=4, max_broadcast_rows=1_000, **kwargs
    )
    as_set = lambda df: {
        (r["user_id"], r["seg"], r["version"], r["value"])
        for r in df.collect()
    }
    assert got_stream == want
    assert as_set(tiled_batch) == want
    assert as_set(bcast_batch) == want
    # The tiled join must be an equi-join on (key, bucket) — hash or
    # sort-merge — never a nested loop over the range predicate.
    plan = tiled_batch._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "__pit_bucket" in plan




def _case_kmv_stream_restart_from_checkpoint(spark, tmp):
    """The KMV sketch variant of the restart guarantee: a NEW query on
    the SAME checkpoint must merge new ids into the CARRIED k-smallest
    hash set (not re-seed it), and because the fold is a set operation
    the final sketch must equal the all-at-once hashlib replay."""
    import hashlib

    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        kmv_stream,
    )

    src = tmp / "kmv_raw"
    src.mkdir()
    batches = [
        [{"event_type": "view", "user_id": u} for u in range(20)],
        [{"event_type": "view", "user_id": u} for u in range(10, 35)],
        [{"event_type": "view", "user_id": u} for u in range(30, 60)],
    ]

    def write_batch(i):
        p = src / f"b{i}.json"
        _emit(p, batches[i])
        os.utime(p, (1700000000 + i, 1700000000 + i))

    out = str(tmp / "kmv_out")
    ckpt = str(tmp / "kmv_ckpt")

    def drain():
        stream = (
            spark.readStream.format("json")
            .schema("event_type string, user_id long")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        q = (
            kmv_stream(stream, "event_type", "user_id", k=8)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    write_batch(0)
    write_batch(1)
    drain()                      # first run: batches 0-1
    write_batch(2)
    drain()                      # RESTART from checkpoint: batch 2 only
    drain()                      # no new data: no-op (idempotent)

    rows = {
        int(r["batch_seq"]): (int(r["sketch_size"]), int(r["kmv_est"]))
        for r in spark.read.parquet(out).collect()
    }
    assert set(rows) == {1, 2, 3}

    def replay(uset):
        hs = sorted({
            int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)
            for u in uset
        })
        size = min(8, len(hs))
        est = size if size < 8 else 7 * (1 << 48) // hs[7]
        return size, est

    seen = set()
    for i, b in enumerate(batches):
        seen |= {r["user_id"] for r in b}
        assert rows[i + 1] == replay(seen)


def _case_median_stream_restart_from_checkpoint(spark, tmp):
    """r10 14th streaming query: a NEW query on the SAME checkpoint must
    merge new values into the CARRIED multiset (not re-seed it), and
    because the fold is a multiset accumulation the per-batch medians
    must equal the all-at-once sorted replay's order statistics."""
    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        median_stream,
    )

    src = tmp / "med_raw"
    src.mkdir()
    batches = [
        [{"event_type": "view", "v4": v} for v in (50, 10, 30)],
        [{"event_type": "view", "v4": v} for v in (20, 40)],
        [{"event_type": "view", "v4": v} for v in (60, 5, 70, 80)],
    ]

    def write_batch(i):
        p = src / f"b{i}.json"
        _emit(p, batches[i])
        os.utime(p, (1700000000 + i, 1700000000 + i))

    out = str(tmp / "med_out")
    ckpt = str(tmp / "med_ckpt")

    def drain():
        stream = (
            spark.readStream.format("json")
            .schema("event_type string, v4 long")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        q = (
            median_stream(stream, "event_type", "v4")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    write_batch(0)
    write_batch(1)
    drain()                      # first run: batches 0-1
    write_batch(2)
    drain()                      # RESTART from checkpoint: batch 2 only
    drain()                      # no new data: no-op (idempotent)

    rows = {
        int(r["batch_seq"]): (int(r["n_values"]), int(r["median2"]))
        for r in spark.read.parquet(out).collect()
    }
    assert set(rows) == {1, 2, 3}

    vals: list[int] = []
    for i, b in enumerate(batches):
        vals = sorted(vals + [r["v4"] for r in b])
        n = len(vals)
        assert rows[i + 1] == (n, vals[(n - 1) // 2] + vals[n // 2])


def _case_window_topk_matches_pandas(spark, tmp):
    """r09 13th streaming query: the drained per-window heavy-hitter
    ranks must equal an independent pandas replay of the first-7-day
    hourly (window, user) counts with the (count desc, user asc)
    tiebreak."""
    import pandas as pd

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()  # force registration
    got = REGISTRY["streaming_window_topk"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas()

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ts = pd.to_datetime(ev["ts"])
    week = ev[ts < ts.min() + pd.Timedelta(days=7)].copy()
    week["window_start"] = pd.to_datetime(week["ts"]).dt.floor("h")
    counts = (
        week.groupby(["window_start", "user_id"]).size().reset_index(name="n")
    )
    counts = counts.sort_values(
        ["window_start", "n", "user_id"], ascending=[True, False, True]
    )
    counts["rnk"] = counts.groupby("window_start").cumcount() + 1
    exp = counts[counts["rnk"] <= 3]
    exp_t = [
        (r.window_start.to_pydatetime().replace(tzinfo=None), r.rnk,
         r.user_id, r.n)
        for r in exp.itertuples()
    ]
    got_t = [
        (r.window_start.to_pydatetime().replace(tzinfo=None), r.rnk,
         r.user_id, r.n_events)
        for r in got.itertuples()
    ]
    assert got_t == exp_t


def _case_median_sketch_contract(spark, tmp):
    """r11 bounded-state median (VERDICT r10 #6): the log-bucket sketch's
    reported bucket must CONTAIN the exact running lower median (zero
    rank error at bucket granularity — counts are exact), the bucket
    width must respect the <=12.5% contract, state must stay bounded
    regardless of distinct-value count, and a checkpoint restart must
    merge new values into the CARRIED histogram."""
    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        median_sketch_stream,
    )

    src = tmp / "medsk_raw"
    src.mkdir()
    # 3 batches, 700 distinct values spanning magnitudes 1 .. ~5M —
    # crossing many dyadic levels so bucketing actually engages.
    batches = [
        [{"event_type": "view", "v4": (7 * i + 3) ** 2 % 4_999_999}
         for i in range(300)],
        [{"event_type": "view", "v4": 13 * i + 1} for i in range(250)],
        [{"event_type": "view", "v4": (i * i * i) % 777_777}
         for i in range(150)],
    ]

    def write_batch(i):
        p = src / f"b{i}.json"
        _emit(p, batches[i])
        os.utime(p, (1700000000 + i, 1700000000 + i))

    out = str(tmp / "medsk_out")
    ckpt = str(tmp / "medsk_ckpt")

    def drain():
        stream = (
            spark.readStream.format("json")
            .schema("event_type string, v4 long")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        q = (
            median_sketch_stream(stream, "event_type", "v4")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)

    write_batch(0)
    write_batch(1)
    drain()                      # first run: batches 0-1
    write_batch(2)
    drain()                      # RESTART from checkpoint: batch 2 only

    rows = {
        int(r["batch_seq"]): (
            int(r["n_values"]), int(r["sketch_size"]),
            int(r["med_lo"]), int(r["med_hi"]),
        )
        for r in spark.read.parquet(out).collect()
    }
    assert set(rows) == {1, 2, 3}

    vals: list[int] = []
    for i, b in enumerate(batches):
        vals = sorted(vals + [r["v4"] for r in b])
        n = len(vals)
        exact_lower_median = vals[(n - 1) // 2]
        n_values, sketch_size, lo, hi = rows[i + 1]
        assert n_values == n
        # Rank-error contract: the bucket CONTAINS the exact lower median.
        assert lo <= exact_lower_median <= hi, (
            f"batch {i + 1}: exact median {exact_lower_median} "
            f"outside sketch bucket [{lo}, {hi}]"
        )
        # Width contract: dyadic top-4-bit buckets — width <= lo/8
        # (singleton below 16).
        assert (hi - lo) <= max(0, lo >> 3)
        # Bounded state: 16 singletons + 8 buckets per magnitude level;
        # v4 < 2^23 here -> hard ceiling far below the distinct count.
        assert sketch_size <= 16 + 8 * 23
        if n > 400:
            assert sketch_size < n // 3  # genuinely sub-linear


_CASES = {
    "streaming_matches_batch": _case_streaming_matches_batch,
    "median_sketch_contract": _case_median_sketch_contract,
    "pit_tiled_stream_matches_batch": _case_pit_tiled_stream_matches_batch,
    "checkpoint_incremental_restart": _case_checkpoint_incremental_restart,
    "foreach_batch_upsert": _case_foreach_batch_upsert,
    "corrupt_record_quarantine": _case_corrupt_record_quarantine,
    "stream_stream_interval_join": _case_stream_stream_interval_join,
    "ema_stream_cross_batch_state": _case_ema_stream_cross_batch_state,
    "sessionize_stream": _case_sessionize_stream,
    "kmv_stream_restart_from_checkpoint": (
        _case_kmv_stream_restart_from_checkpoint
    ),
    "foreach_batch_upsert_keyed_two_windows": (
        _case_foreach_batch_upsert_keyed_two_windows
    ),
    "cusum_stream_restart_from_checkpoint": (
        _case_cusum_stream_restart_from_checkpoint
    ),
    "window_topk_matches_pandas": _case_window_topk_matches_pandas,
    "median_stream_restart_from_checkpoint": (
        _case_median_stream_restart_from_checkpoint
    ),
}


@pytest.fixture(scope="module")
def stream_outcomes(spark, tmp_path_factory):
    """Run every streaming case concurrently; record None or the raised
    exception per case (re-raised by the owning test)."""

    def run(item):
        name, fn = item
        try:
            fn(spark, tmp_path_factory.mktemp(f"stream_{name}"))
            return None
        except BaseException as exc:  # noqa: BLE001 - surfaced per test
            return exc

    with ThreadPoolExecutor(max_workers=6) as ex:
        return dict(zip(_CASES, ex.map(run, _CASES.items())))


@pytest.mark.parametrize("name", list(_CASES))
def test_streaming_case(name, stream_outcomes):
    res = stream_outcomes[name]
    if res is not None:
        raise res


def test_ordered_folds_sort_the_whole_micro_batch(spark, tmp_path):
    """One key's four rows land in ONE micro-batch in ts order 3, 1, 4, 2
    and reach the fold as two-row Arrow chunks. The EMA, CUSUM and TWA
    folds must still see them in (ts, value) order 1, 2, 3, 4, not
    sorted chunk by chunk (1, 3, then 2, 4). Runs in its own session so
    the tiny chunk size does not reach the concurrent cases."""
    from reddit_data_pipeline_engineering_spark.streaming.stateful import (
        cusum_stream,
        ema_stream,
        twa_stream,
    )

    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    src = tmp_path / "raw"
    src.mkdir()
    _emit(src / "b0.json", [
        {"user_id": 1, "tag": "a", "datetime": f"2025-02-01T08:0{m}:00",
         "value": float(m)}
        for m in (3, 1, 4, 2)
    ])
    stream = (
        s.readStream.format("json")
        .schema("user_id long, tag string, datetime string, value double")
        .load(str(src))
        .withColumn("ts", F.col("datetime").cast("timestamp"))
        .select("user_id", "tag", "ts", "value")
    )

    def drain(name, frame):
        q = (
            frame.writeStream.format("parquet")
            .option("path", str(tmp_path / name))
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        run_stream_to_completion(q)
        rows = s.read.parquet(str(tmp_path / name)).orderBy("ts").collect()
        return [r.asDict() for r in rows]

    ema = drain("ema", ema_stream(stream, "user_id", "ts", "value", alpha=0.5))
    assert [(r["value"], r["ema"], r["n_seen"]) for r in ema] == [
        (1.0, 1.0, 1), (2.0, 1.5, 2), (3.0, 2.25, 3), (4.0, 3.125, 4)
    ]
    # drift 2.5 (250 on the x100 grid): y = -150, -50, 50, 150.
    cusum = drain("cusum", cusum_stream(
        stream, "user_id", "ts", "value", drift=250, threshold=100
    ))
    assert [(r["v_scaled"], r["cusum"], r["alarm"]) for r in cusum] == [
        (100, 0, False), (200, 0, False), (300, 50, False), (400, 200, True)
    ]
    twa = drain("twa", twa_stream(stream, ("user_id", "tag"), "ts", "value"))
    minute = 60_000_000
    assert [(r["covered_micros"], r["twa"]) for r in twa] == [
        (0, None), (minute, 1.0), (2 * minute, 1.5), (3 * minute, 2.0)
    ]


def test_duckdb_lambda_greatest_bug_workaround_pinned():
    """DuckDB 1.0's list_reduce miscompiles GREATEST over both lambda
    params inside struct_pack (the fold silently keeps only the first
    step) — discovered wiring the TWA oracle's late-event clamp. The
    oracle uses the equivalent CASE form; this test pins BOTH facts so
    a DuckDB upgrade that fixes the bug surfaces here (at which point
    the CASE workaround may be simplified, or kept — it is correct
    either way)."""
    import duckdb

    base = """
    WITH seq AS (
      SELECT [struct_pack(t := CAST(100 AS BIGINT), v := CAST(2.0 AS DOUBLE),
                          acc := CAST(0.0 AS DOUBLE)),
              struct_pack(t := CAST(200 AS BIGINT), v := CAST(3.0 AS DOUBLE),
                          acc := CAST(0.0 AS DOUBLE)),
              struct_pack(t := CAST(500 AS BIGINT), v := CAST(4.0 AS DOUBLE),
                          acc := CAST(0.0 AS DOUBLE))] AS els
    )
    SELECT list_reduce(els, {lam}).acc FROM seq
    """
    con = duckdb.connect()
    case_lam = (
        "(acc, x) -> struct_pack("
        "t := CASE WHEN x.t >= acc.t THEN x.t ELSE acc.t END, "
        "v := CASE WHEN x.t >= acc.t THEN x.v ELSE acc.v END, "
        "acc := acc.acc + acc.v * CAST("
        "CASE WHEN x.t >= acc.t THEN x.t - acc.t ELSE 0 END AS DOUBLE))"
    )
    expected = 2.0 * 100 + 3.0 * 300  # 1100
    (got,) = con.execute(base.format(lam=case_lam)).fetchone()
    assert got == expected  # the workaround folds correctly
    greatest_lam = (
        "(acc, x) -> struct_pack("
        "t := GREATEST(acc.t, x.t), v := x.v, "
        "acc := acc.acc + acc.v * CAST(x.t - acc.t AS DOUBLE))"
    )
    (buggy,) = con.execute(base.format(lam=greatest_lam)).fetchone()
    if buggy == expected:  # pragma: no cover - future DuckDB fix
        import warnings

        warnings.warn(
            "DuckDB fixed the GREATEST-in-lambda miscompile — the TWA "
            "oracle's CASE workaround can be revisited",
            stacklevel=1,
        )
    else:
        assert buggy == 2.0 * 100  # the documented miscompile shape


def test_scaled_state_partition_count(spark, tmp_path):
    """r11 optimization: stateful-shuffle partitions are DERIVED from the
    staged raw-zone size (ceil(bytes/target), clamped to [1, 3*cores]) —
    never a constant tuned for one host."""
    from reddit_data_pipeline_engineering_spark.streaming.kernel import (
        scaled_state_partition_count,
    )

    staged = tmp_path / "raw"
    staged.mkdir()
    (staged / "a.json").write_bytes(b"x" * (3 * (1 << 20) + 1))
    cores = spark.sparkContext.defaultParallelism
    # 3 MiB + 1 byte at the 1 MiB default target -> 4 partitions.
    assert scaled_state_partition_count(spark, str(staged)) == 4
    # Tiny stage floors at 1; huge target collapses to the floor.
    assert (
        scaled_state_partition_count(spark, str(staged), target_bytes=1 << 30)
        == 1
    )
    # 1-byte target would ask for ~3M partitions: capped at 3x cores —
    # the cluster-profile shuffle sizing, so the rule degrades to the
    # standard multiple at real volumes instead of a local constant.
    assert (
        scaled_state_partition_count(spark, str(staged), target_bytes=1)
        == 3 * cores
    )
    # Empty/missing dir floors at 1 (never 0 partitions).
    assert (
        scaled_state_partition_count(spark, str(tmp_path / "missing")) == 1
    )


def test_run_scaled_drain_sets_and_restores_conf(spark, tmp_path):
    """The drain runs under the derived partition count and the prior
    session conf is restored afterwards. Restore-after-await is exact
    even when drains overlap, because run_scaled_drain serializes them
    (see test_run_scaled_drain_serializes_overlapping_drains)."""
    staged = tmp_path / "raw"
    staged.mkdir()
    (staged / "a.json").write_bytes(b"x" * (2 * (1 << 20)))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    class _Done:
        def awaitTermination(self, timeout_s):
            seen["during"] = spark.conf.get("spark.sql.shuffle.partitions")
            return True

    run_scaled_drain(spark, str(staged), lambda: _Done())
    assert seen["during"] == "2"  # 2 MiB / 1 MiB target
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_run_scaled_drain_serializes_overlapping_drains(spark, tmp_path):
    """Two drains overlapping on one session each run under their own
    partition count, and the session conf is back at its prior value
    once both are done. Unserialized, the drain that finished last
    restored the count the other drain had set."""
    staged = {}
    for name, mib in (("a", 2), ("b", 3)):
        (tmp_path / name).mkdir()
        (tmp_path / name / "x.json").write_bytes(b"x" * (mib << 20))
        staged[name] = str(tmp_path / name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev not in ("2", "3")
    a_draining, b_draining, a_done = (threading.Event() for _ in range(3))
    seen = {}

    class _Query:
        """Records the conf it drains under, signals ``started``, then
        stays draining until ``wait_for`` is set or ``wait_s`` passes."""

        def __init__(self, name, started, wait_for, wait_s):
            self.name, self.started = name, started
            self.wait_for, self.wait_s = wait_for, wait_s

        def awaitTermination(self, timeout_s):
            seen[self.name] = spark.conf.get("spark.sql.shuffle.partitions")
            self.started.set()
            self.wait_for.wait(timeout=self.wait_s)
            return True

    def drain_a():
        # Waits (at most 1 s) for drain b to start inside it.
        query = _Query("a", a_draining, b_draining, 1)
        run_scaled_drain(spark, staged["a"], lambda: query)
        a_done.set()

    def drain_b():
        # Starts while a drains, and outlasts it.
        a_draining.wait(timeout=30)
        query = _Query("b", b_draining, a_done, 30)
        run_scaled_drain(spark, staged["b"], lambda: query)

    threads = [threading.Thread(target=f) for f in (drain_a, drain_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"a": "2", "b": "3"}
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_streaming_queries_leave_only_the_sink(spark, tmp_path, monkeypatch):
    """A streaming registry query leaves only its parquet sink on disk:
    the raw zone, the staging files and the checkpoint are removed once
    the drain returns, for one-batch and several-batch staging alike,
    and the returned frame still reads the sink."""
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()  # force registration
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("streaming_window_topk", "streaming_kmv_distinct"):
        before = set(os.listdir(tmp_path))
        df = REGISTRY[name].fn(spark, SF_SMALL)
        (made,) = set(os.listdir(tmp_path)) - before
        left = os.listdir(tmp_path / made)
        assert len(left) == 1, (name, sorted(left))
        sink = str(tmp_path / made / left[0])
        assert df.count() > 0
        assert all(
            urlparse(f).path.startswith(sink + os.sep) for f in df.inputFiles()
        ), name


def test_stateful_folds_share_one_skeleton():
    """Regrowth guard for streaming/stateful.py: only ``_keyed_fold``
    calls ``applyInPandasWithState`` (exactly once), sorts, or reads and
    writes the group state; every operator is a step plus schemas."""
    from reddit_data_pipeline_engineering_spark.streaming import stateful

    with open(stateful.__file__) as f:
        tree = ast.parse(f.read())
    scaffold = {"applyInPandasWithState", "sort_values", "exists"}

    def hits(node):
        for sub in ast.walk(node):
            if not isinstance(sub, ast.Attribute):
                continue
            on_state = isinstance(sub.value, ast.Name) and sub.value.id == "state"
            if sub.attr in scaffold or (on_state and sub.attr in ("get", "update")):
                yield sub.attr, sub.lineno

    outside = [
        hit
        for node in tree.body
        if not (isinstance(node, ast.FunctionDef) and node.name == "_keyed_fold")
        for hit in hits(node)
    ]
    assert not outside, f"fold scaffold outside _keyed_fold: {outside}"
    calls = [h for h in hits(tree) if h[0] == "applyInPandasWithState"]
    assert len(calls) == 1, calls


def test_streaming_queries_share_one_drain_harness():
    """Regrowth guard for plans/queries_streaming.py: only ``_drain``
    creates the temp dir, pins file mtimes, opens the stream, starts the
    sink and runs the drain, and no stream schema is written by hand —
    each stream reads its staged frame's own schema."""
    from reddit_data_pipeline_engineering_spark.plans import queries_streaming

    with open(queries_streaming.__file__) as f:
        tree = ast.parse(f.read())
    scaffold = {
        "mkdtemp", "utime", "readStream", "writeStream",
        "read_raw_stream", "write_marts_stream", "run_scaled_drain",
    }

    def names(node):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Attribute):
                yield sub.attr, sub.lineno
            elif isinstance(sub, ast.Name):
                yield sub.id, sub.lineno

    outside = [
        (name, line)
        for node in tree.body
        if not (isinstance(node, ast.FunctionDef) and node.name == "_drain")
        for name, line in names(node)
        if name in scaffold
    ]
    assert not outside, f"scaffold outside _drain: {outside}"
    assert not [n for n in names(tree) if n[0] == "StructType"]
    ddl = [
        call.lineno
        for call in ast.walk(tree)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in ("schema", "createDataFrame")
        and any(
            isinstance(a, ast.Constant) and isinstance(a.value, str)
            for a in [*call.args, *(k.value for k in call.keywords)]
        )
    ]
    assert not ddl, f"hand-written DDL schema at lines {ddl}"
