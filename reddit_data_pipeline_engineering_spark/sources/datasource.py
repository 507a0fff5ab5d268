"""The ``openaq`` Python Data Source: the engine's one extraction path.

The reference's Lambda pages the OpenAQ locations endpoint until an
empty page (S1, ``extract_api.py:38-104``) and fetches each sensor's
time-ranged measurements (S2, :193-268) in a driver loop. Here both
loops are a Spark source, built on PySpark 4's Python Data Source API
(SPARK-44076): register once, then

    spark.dataSource.register(OpenAQDataSource)
    spark.read.format("openaq")
         .option("table", "locations").option("api_key", ...).load()
    spark.read.format("openaq")
         .option("table", "measurements")
         .option("sensor_ids", "101,202,303")
         .option("date_from", "2025-01-01T00:00:00Z")
         .option("date_to", "2025-01-02T00:00:00Z").load()

and ``spark.readStream.format("openaq")`` for the same measurements as
time-windowed micro-batches. The string options are the one way to
configure extraction (``api_key``, ``base_url``, ``transport``,
``page_size``, ``limit``, …). ``sources/api.py`` holds the Spark
operators that consume what this source returns (flatten, active-sensor
filter, enrichment).

Executor-side parallelism replaces the driver loop:

- **locations**: N strided page partitions — partition *i* walks pages
  ``i+1, i+1+N, i+1+2N, …`` until its first empty page (the API's
  pages are prefix-contiguous, so an empty page means past-the-end on
  every stride). The page loop's stop condition is unchanged from the
  reference (``extract_api.py:94-104``); it just runs N-wide.
- **measurements**: one partition per sensor-id chunk; the time-range
  predicate stays pushed into the API call itself (S2's server-side
  pushdown), and Catalyst-pushed ``sensor_id`` equality/IN filters
  prune the sensor set BEFORE partition planning — a filter on
  ``sensor_id`` never even plans a fetch for other sensors.

Retry/backoff/fault-isolation come from the shared ``OpenAQClient``
(429 Retry-After, bounded 5xx backoff, failing sensor yields no rows).
Readers are pickled to executors, so the transport is configured by
NAME (options are strings): ``transport=requests`` (default) or
``transport=synthetic`` — a deterministic, clearly-synthetic in-process
fake for tests/demos with no network (same shapes as
``data/mock_locations_vn.json``).
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from reddit_data_pipeline_engineering_spark.config import (
    LOCATIONS_PAGE_SIZE,
    MEASUREMENTS_LIMIT,
)
from reddit_data_pipeline_engineering_spark.schemas import (
    API_LOCATION,
    MEASUREMENT_SCHEMA,
)


# --------------------------------------------------------------------------
# Deterministic synthetic transport (tests/demo). SYNTHETIC DATA — not a
# stand-in for the live API's content, only for its shapes and paging
# behavior: 7 locations over 3 pages (page_size-respecting), 2 sensors
# each, hourly measurements derived from (sensor_id, hour).
# --------------------------------------------------------------------------

_SYN_N_LOCATIONS = 7
_SYN_PARAMS = ("pm25", "pm10")


def synthetic_transport(
    url: str, params: dict, headers: dict, timeout: float
) -> tuple[int, dict, dict]:
    if url.endswith("/locations"):
        page = int(params.get("page", 1))
        size = int(params.get("limit", 3))
        start = (page - 1) * size
        ids = range(start + 1, min(start + size, _SYN_N_LOCATIONS) + 1)
        results = [
            {
                "id": i,
                "name": f"loc{i}",
                "locality": f"city{i % 3}",
                "timezone": "UTC",
                "coordinates": {"latitude": 10.0 + i, "longitude": 106.0 + i},
                "country": {"id": 56, "code": "VN", "name": "Vietnam"},
                "datetimeLast": {"utc": "2025-06-01T00:00:00Z"},
                "sensors": [
                    {
                        "id": i * 10 + k,
                        "parameter": {
                            "id": k,
                            "name": p,
                            "units": "µg/m³",
                        },
                    }
                    for k, p in enumerate(_SYN_PARAMS)
                ],
            }
            for i in ids
        ]
        return 200, {"results": results}, {}
    if "/sensors/" in url and url.endswith("/measurements"):
        sid = int(url.rsplit("/", 2)[-2])
        d0 = _dt.datetime.fromisoformat(
            params["datetime_from"].replace("Z", "+00:00")
        )
        d1 = _dt.datetime.fromisoformat(
            params["datetime_to"].replace("Z", "+00:00")
        )
        hours = int((d1 - d0).total_seconds() // 3600)

        def _value(t: _dt.datetime) -> float:
            # Function of ABSOLUTE event time (mod 48h), not of the
            # request window: a windowed (streaming) fetch and one big
            # batch fetch must agree row-for-row.
            abs_h = int(t.timestamp()) // 3600 % 48
            return float(sid % 100) + abs_h * 0.5

        results = [
            {
                "period": {
                    "datetimeFrom": {
                        "utc": (d0 + _dt.timedelta(hours=h)).strftime(
                            "%Y-%m-%dT%H:%M:%SZ"
                        )
                    }
                },
                "parameter": {
                    "name": _SYN_PARAMS[sid % len(_SYN_PARAMS)],
                    "units": "µg/m³",
                },
                "value": _value(d0 + _dt.timedelta(hours=h)),
            }
            for h in range(min(hours, int(params.get("limit", 1000))))
        ]
        return 200, {"results": results}, {}
    return 404, {}, {}


_TRANSPORTS = {"requests": None, "synthetic": synthetic_transport}


def _client(options):
    from reddit_data_pipeline_engineering_spark.sources.http_client import (
        DEFAULT_BASE_URL,
        OpenAQClient,
        requests_transport,
    )

    name = options.get("transport", "requests")
    if name not in _TRANSPORTS:
        raise ValueError(
            f"unknown transport {name!r}: expected one of {sorted(_TRANSPORTS)}"
        )
    transport = _TRANSPORTS[name] or requests_transport
    sleep = (lambda s: None) if name == "synthetic" else None
    return OpenAQClient(
        api_key=options.get("api_key", ""),
        base_url=options.get("base_url", DEFAULT_BASE_URL),
        transport=transport,
        sleep=sleep,
    )


def _location_row(d: dict) -> tuple:
    """Nested dict -> tuple aligned with API_LOCATION field order."""
    coord = d.get("coordinates") or {}
    country = d.get("country") or {}
    last = d.get("datetimeLast") or {}
    return (
        d.get("id"),
        d.get("name"),
        d.get("locality"),
        d.get("timezone"),
        (coord.get("latitude"), coord.get("longitude")),
        (country.get("id"), country.get("code"), country.get("name")),
        (last.get("utc"),),
        [
            (
                s.get("id"),
                (
                    (s.get("parameter") or {}).get("id"),
                    (s.get("parameter") or {}).get("name"),
                    (s.get("parameter") or {}).get("units"),
                ),
            )
            for s in (d.get("sensors") or [])
        ],
    )


def _sensor_ids(options, what: str) -> list[int]:
    """The required ``sensor_ids`` option (comma-separated) as ints."""
    raw = options.get("sensor_ids", "")
    ids = [int(s) for s in raw.split(",") if s.strip()]
    if not ids:
        raise ValueError(
            f"{what} requires option sensor_ids (comma-separated), "
            "e.g. from an active_sensors() pass"
        )
    return ids


def _measurement_rows(
    options, sensor_ids: list[int], date_from: str, date_to: str
) -> Iterator[tuple]:
    """S2: each sensor's time-ranged fetch (the range is pushed into the
    API call) as tuples aligned with MEASUREMENT_SCHEMA."""
    fetch = _client(options).measurements_fetcher()
    limit = int(options.get("limit", MEASUREMENTS_LIMIT))
    for sid in sensor_ids:
        for m in fetch(sid, date_from, date_to, limit):
            yield (
                m.get("sensor_id"),
                m.get("datetime"),
                m.get("value"),
                m.get("parameter"),
                m.get("unit"),
            )


class _PagePartition(InputPartition):
    def __init__(self, start_page: int, stride: int):
        self.start_page = start_page
        self.stride = stride


class _LocationsReader(DataSourceReader):
    def __init__(self, options):
        self.options = dict(options)
        self.n = max(1, int(options.get("num_partitions", 4)))

    def partitions(self) -> Sequence[InputPartition]:
        return [_PagePartition(i + 1, self.n) for i in range(self.n)]

    def read(self, partition: _PagePartition) -> Iterator[tuple]:
        client = _client(self.options)
        fetch = client.locations_page_fetcher(
            countries_id=int(self.options.get("countries_id", 56))
        )
        size = int(self.options.get("page_size", LOCATIONS_PAGE_SIZE))
        max_pages = int(self.options.get("max_pages", 1000))
        page = partition.start_page
        while page <= max_pages:
            batch = fetch(page, size)
            if not batch:
                break  # prefix-contiguous pages: past-the-end on stride
            for d in batch:
                yield _location_row(d)
            page += partition.stride


class _SensorChunkPartition(InputPartition):
    def __init__(self, sensor_ids: list[int]):
        self.sensor_ids = sensor_ids


class _MeasurementsReader(DataSourceReader):
    def __init__(self, options):
        self.options = dict(options)
        self.sensor_ids = _sensor_ids(options, "openaq measurements read")
        for k in ("date_from", "date_to"):
            if not options.get(k):
                raise ValueError(f"openaq measurements read requires {k}")
        self.n = max(1, int(options.get("num_partitions", 8)))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Catalyst sensor_id equality/IN filters prune the fetch plan:
        partitions are built only for surviving ids, so a filtered read
        never contacts the API for other sensors. Everything else is
        evaluated by Spark post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("sensor_id",):
                self.sensor_ids = [
                    s for s in self.sensor_ids if s == int(f.value)
                ]
            elif isinstance(f, In) and f.attribute == ("sensor_id",):
                keep = {int(v) for v in f.value}
                self.sensor_ids = [s for s in self.sensor_ids if s in keep]
            else:
                yield f  # unsupported -> Spark applies it after the scan

    def partitions(self) -> Sequence[InputPartition]:
        ids = self.sensor_ids
        n = min(self.n, len(ids)) or 1
        chunks = [ids[i::n] for i in range(n)]
        return [_SensorChunkPartition(c) for c in chunks if c]

    def read(self, partition: _SensorChunkPartition) -> Iterator[tuple]:
        return _measurement_rows(
            self.options,
            partition.sensor_ids,
            self.options["date_from"],
            self.options["date_to"],
        )


class _MeasurementsStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("openaq")`` — time-windowed polling.

    The reference polls with EventBridge -> Lambda on a schedule
    (``doc/architecture.md``); the streaming-native form makes the API
    a Structured Streaming SOURCE: the offset is the event-time
    high-water mark ``{"until": iso_ts}``, and each micro-batch fetches
    the next ``window_hours`` slice ``[until, until + W)`` for the
    configured sensors, clamped to ``end_time`` (tests/backfills) or
    wall-clock now (live tailing). No new data -> the offset does not
    advance and the trigger idles. Checkpoint recovery is Spark's: the
    committed offset replays the exact window. Note availableNow
    resolves the available end offset ONCE at query start, so one
    availableNow run advances exactly one window — steady tailing wants
    a processingTime trigger sized to the poll cadence; deep backfills
    want a large ``window_hours`` or the batch reader's executor-side
    partitions.

    A SIMPLE stream reader reads on the driver by design — the right
    shape at the reference's poll cadence (~150 sensors/hour); large
    backfills belong to the batch reader's executor-side partitions.
    """

    def __init__(self, options):
        self.options = dict(options)
        self.sensor_ids = _sensor_ids(options, "openaq stream")
        if not options.get("start_time"):
            raise ValueError(
                "openaq stream requires start_time (ISO-8601, e.g. "
                "2025-06-01T00:00:00Z)"
            )
        self.window_h = float(options.get("window_hours", 1))

    @staticmethod
    def _parse(ts: str) -> _dt.datetime:
        return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))

    @staticmethod
    def _fmt(t: _dt.datetime) -> str:
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")

    def _horizon(self) -> _dt.datetime:
        end = self.options.get("end_time")
        if end:
            return self._parse(end)
        return _dt.datetime.now(_dt.timezone.utc)

    def initialOffset(self) -> dict:
        return {"until": self._fmt(self._parse(self.options["start_time"]))}

    def read(self, start: dict):
        lo = self._parse(start["until"])
        hi = min(lo + _dt.timedelta(hours=self.window_h), self._horizon())
        if hi <= lo:
            return iter(()), start  # caught up: offset unchanged
        end = {"until": self._fmt(hi)}
        # A LIST iterator, not a generator: Spark's simple-reader
        # prefetch cache copy.copy()s the returned iterator when a
        # micro-batch replays it (datasource_internal.getCache), and
        # generators are neither copyable nor picklable.
        rows = _measurement_rows(
            self.options, self.sensor_ids, self._fmt(lo), self._fmt(hi)
        )
        return iter(list(rows)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # Deterministic replay after restart: same window, same fetch.
        rows = _measurement_rows(
            self.options, self.sensor_ids, start["until"], end["until"]
        )
        return iter(list(rows))


class OpenAQDataSource(DataSource):
    """``spark.read.format("openaq")`` — see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "openaq"

    def schema(self) -> T.StructType:
        table = self.options.get("table", "measurements")
        if table == "locations":
            return API_LOCATION
        if table == "measurements":
            return MEASUREMENT_SCHEMA
        raise ValueError(
            f"unknown table {table!r}: expected locations or measurements"
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        table = self.options.get("table", "measurements")
        if table == "locations":
            return _LocationsReader(self.options)
        return _MeasurementsReader(self.options)

    def simpleStreamReader(
        self, schema: T.StructType
    ) -> SimpleDataSourceStreamReader:
        if self.options.get("table", "measurements") != "measurements":
            raise ValueError("openaq streaming supports table=measurements")
        return _MeasurementsStreamReader(self.options)
