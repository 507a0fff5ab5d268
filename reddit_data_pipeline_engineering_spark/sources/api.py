"""OpenAQ extraction operators (reference S1/S2/P2/P8).

The reference's Lambda fetches OpenAQ REST pages driver-side
(``lambda_functions/openaq_fetcher/extract_api.py``): S1 pages all
locations until an empty page (:38-104), P2 filters to active sensors with
the required parameters (:111-186), S2 pulls time-ranged measurements per
sensor and flattens the nested JSON (:193-268), and P8 validates the
trigger payload (handler.py:104-134).

Engine shape: the page loop (S1) and the per-sensor measurement fetch (S2)
run on the executors as the ``openaq`` Python Data Source
(``sources/datasource.py``: ``spark.read.format("openaq")`` and
``readStream``). This module holds what comes after the scan, all of it
Spark: nested structs are flattened with dot-path projections (F7), the
active-sensor filter is expressed as Spark filters, the sensor dimension
joins the measurements as a broadcast, and the trigger payload is checked
in plain Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.config import (
    ACTIVE_LOOKBACK_DAYS,
    POLLUTANTS,
)
from reddit_data_pipeline_engineering_spark.functions.text import normalize_token


def flatten_locations(locations: DataFrame) -> DataFrame:
    """F7: dot-path struct flattening (extract_api.py:381-404) — the
    engine's projection replaces per-row dict digging."""
    return locations.select(
        F.col("id").alias("location_id"),
        F.col("name").alias("location_name"),
        "locality",
        "timezone",
        F.col("coordinates.latitude").alias("latitude"),
        F.col("coordinates.longitude").alias("longitude"),
        F.col("country.code").alias("country_code"),
        F.col("datetimeLast.utc").cast("timestamp").alias("datetime_last"),
        "sensors",
    )


def active_sensors(locations: DataFrame, now_utc: str) -> DataFrame:
    """P2: sensors of locations that reported in the last
    ``ACTIVE_LOOKBACK_DAYS`` whose parameter (after lower/strip-dot
    normalization, F4) is one of ``POLLUTANTS``.

    One explode + two filters — the semi-join semantics SURVEY §2.3 calls
    for, with the parameter normalization fix of extract_api.py:168-179
    ('PM2.5' matches 'pm25').
    """
    flat = flatten_locations(locations)
    cutoff = F.lit(now_utc).cast("timestamp") - F.expr(
        f"INTERVAL {ACTIVE_LOOKBACK_DAYS} DAYS"
    )
    recent = flat.filter(F.col("datetime_last") >= cutoff)
    sensors = recent.select(
        "location_id",
        "location_name",
        "locality",
        "timezone",
        "country_code",
        "latitude",
        "longitude",
        F.explode("sensors").alias("sensor"),
    ).select(
        F.col("sensor.id").alias("sensor_id"),
        normalize_token(F.col("sensor.parameter.name")).alias("parameter"),
        F.col("sensor.parameter.units").alias("unit"),
        "location_id",
        "location_name",
        "locality",
        "timezone",
        "country_code",
        "latitude",
        "longitude",
    )
    return sensors.filter(F.col("parameter").isin(list(POLLUTANTS)))


def normalize_token_py(p: str) -> str:
    """Python twin of functions.text.normalize_token for literal lists."""
    return p.lower().replace(".", "")


def enrich_measurements(measurements: DataFrame, sensors: DataFrame) -> DataFrame:
    """J2 as a broadcast hash join: the reference's per-row dict lookup
    (extract_api.py:374-422) becomes one broadcast of the sensor dim."""
    dim = sensors.select(
        "sensor_id",
        "location_id",
        "location_name",
        F.col("locality").alias("city"),
        "timezone",
        F.col("country_code").alias("country"),
        "latitude",
        "longitude",
    ).dropDuplicates(["sensor_id"])
    return measurements.join(F.broadcast(dim), "sensor_id", "left")


def validate_event(event: dict) -> dict:
    """P8: trigger-payload validation (handler.py:104-134) — plain Python
    argument checking at the engine API boundary."""
    problems = []
    if not isinstance(event.get("file_name"), str) or not event.get("file_name"):
        problems.append("file_name: non-empty string required")
    if "lookback_hours" in event:
        lb = event["lookback_hours"]
        if not isinstance(lb, int) or isinstance(lb, bool) or not 1 <= lb <= 168:
            problems.append("lookback_hours: int in [1, 168] required")
    params = event.get("required_parameters", list(POLLUTANTS))
    if not isinstance(params, list) or not all(isinstance(p, str) for p in params):
        problems.append("required_parameters: list[str] required")
    if problems:
        raise ValueError("; ".join(problems))
    return {
        "file_name": event["file_name"],
        "lookback_hours": event.get("lookback_hours", 24),
        "required_parameters": [normalize_token_py(p) for p in params],
    }
