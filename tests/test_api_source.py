"""Extraction operator tests (S1/S2/P2/P8): the active-sensor filter on
a fixture locations frame, and extract-then-enrich through the ``openaq``
source's synthetic transport — the reference's Lambda extraction flow,
Spark-side."""

import pytest
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.schemas import (
    API_LOCATION,
    RAW_MEASUREMENT,
)
from reddit_data_pipeline_engineering_spark.sources import api
from reddit_data_pipeline_engineering_spark.sources.datasource import (
    OpenAQDataSource,
)

LOCS = [
    {  # active, pm25+pm10 sensors
        "id": 101, "name": "Hanoi Station", "locality": "Hanoi",
        "timezone": "Asia/Bangkok",
        "coordinates": {"latitude": 21.03, "longitude": 105.85},
        "country": {"id": 56, "code": "VN", "name": "Vietnam"},
        "datetimeLast": {"utc": "2025-01-14T23:00:00"},
        "sensors": [
            {"id": 1, "parameter": {"id": 2, "name": "PM2.5", "units": "µg/m³"}},
            {"id": 2, "parameter": {"id": 1, "name": "pm10", "units": "µg/m³"}},
            {"id": 3, "parameter": {"id": 9, "name": "temperature", "units": "C"}},
        ],
    },
    {  # stale (datetimeLast 30 days old) -> filtered out
        "id": 202, "name": "Old Station", "locality": None,
        "timezone": "Asia/Bangkok",
        "coordinates": {"latitude": 10.82, "longitude": 106.63},
        "country": {"id": 56, "code": "VN", "name": "Vietnam"},
        "datetimeLast": {"utc": "2024-12-16T00:00:00"},
        "sensors": [
            {"id": 4, "parameter": {"id": 2, "name": "pm25", "units": "µg/m³"}},
        ],
    },
]


def openaq(spark, **options):
    """``spark.read.format("openaq")`` over the synthetic transport: 7
    locations (ids 1-7, locality ``city{id % 3}``), each with a pm25
    sensor ``id*10`` and a pm10 sensor ``id*10 + 1``, last reported
    2025-06-01."""
    spark.dataSource.register(OpenAQDataSource)
    reader = spark.read.format("openaq").option("transport", "synthetic")
    return reader.options(**options).load()


def test_fetch_and_active_filter(spark):
    locs = spark.createDataFrame(LOCS, API_LOCATION)
    assert locs.count() == 2
    sensors = api.active_sensors(locs, now_utc="2025-01-15 00:00:00")
    rows = {r["sensor_id"]: r.asDict() for r in sensors.collect()}
    # Stale location dropped (P2 lookback); non-required parameter
    # (temperature, sensor 3) dropped; 'PM2.5' normalized to pm25 (F4).
    assert set(rows) == {1, 2}
    assert rows[1]["parameter"] == "pm25"
    assert rows[2]["parameter"] == "pm10"
    assert rows[1]["location_id"] == 101


def test_extract_and_enrich(spark):
    locs = openaq(spark, table="locations")
    sensors = api.active_sensors(locs, now_utc="2025-06-01 00:00:00")
    ids = sorted(r["sensor_id"] for r in sensors.select("sensor_id").collect())
    assert ids == [i * 10 + k for i in range(1, 8) for k in (0, 1)]
    meas = openaq(
        spark,
        table="measurements",
        sensor_ids=",".join(map(str, ids)),
        date_from="2025-06-01T00:00:00Z",
        date_to="2025-06-01T02:00:00Z",
    ).withColumn("extracted_at", F.lit("2025-06-01T03:00:00Z"))
    assert meas.count() == 2 * len(ids)  # 2 hours per sensor
    enriched = api.enrich_measurements(meas, sensors)
    rows = {
        (r["sensor_id"], r["datetime"]): r.asDict() for r in enriched.collect()
    }
    row = rows[(31, "2025-06-01T01:00:00Z")]
    assert row["location_id"] == 3
    assert row["city"] == "city0"
    assert row["country"] == "VN"
    assert row["extracted_at"] == "2025-06-01T03:00:00Z"
    # Schema feeds the raw zone: same long-format field set.
    assert set(enriched.columns) == {f.name for f in RAW_MEASUREMENT.fields}


def test_validate_event():
    ok = api.validate_event(
        {"file_name": "run1", "lookback_hours": 24,
         "required_parameters": ["PM2.5", "pm10"]}
    )
    assert ok["required_parameters"] == ["pm25", "pm10"]
    with pytest.raises(ValueError, match="file_name"):
        api.validate_event({"lookback_hours": 24})
    with pytest.raises(ValueError, match="lookback_hours"):
        api.validate_event({"file_name": "x", "lookback_hours": 0})
    with pytest.raises(ValueError, match="required_parameters"):
        api.validate_event({"file_name": "x", "required_parameters": "pm25"})