"""Explicit schema contracts.

The reference infers schemas (Glue DynamicFrame / Crawler) and pins them
defensively after the fact (VoidType casts, ``process_openaq_raw.py:179-185``;
15-column test contract, ``tests/test_glue_output_schema.py:44-60``). The
engine inverts that: schemas are declared up front so reads never infer,
streaming plans are static, and the output contract is enforced by
construction.
"""

from __future__ import annotations

from pyspark.sql import types as T

from reddit_data_pipeline_engineering_spark.config import POLLUTANTS

# Long-format raw measurement — the NDJSON rows the reference's Lambda lands
# in the raw zone. Field set: extract_api.py:311-318 (base record) union
# extract_api.py:412-421 (location enrichment); types per
# doc/GLUE_JOBS_GUIDE.md:113-131.
RAW_MEASUREMENT = T.StructType(
    [
        T.StructField("sensor_id", T.LongType(), True),
        T.StructField("datetime", T.StringType(), True),  # ISO-8601 w/ offset
        T.StructField("value", T.DoubleType(), True),
        T.StructField("parameter", T.StringType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("extracted_at", T.StringType(), True),
        T.StructField("location_id", T.LongType(), True),
        T.StructField("location_name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("timezone", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)

# Nested location shape at the API boundary (data/mock_locations_vn.json):
# coordinates / country structs and a sensors array of (id, parameter).
API_LOCATION = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("locality", T.StringType(), True),
        T.StructField("timezone", T.StringType(), True),
        T.StructField(
            "coordinates",
            T.StructType(
                [
                    T.StructField("latitude", T.DoubleType(), True),
                    T.StructField("longitude", T.DoubleType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "country",
            T.StructType(
                [
                    T.StructField("id", T.LongType(), True),
                    T.StructField("code", T.StringType(), True),
                    T.StructField("name", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "datetimeLast",
            T.StructType([T.StructField("utc", T.StringType(), True)]),
            True,
        ),
        T.StructField(
            "sensors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.LongType(), True),
                        T.StructField(
                            "parameter",
                            T.StructType(
                                [
                                    T.StructField("id", T.LongType(), True),
                                    T.StructField("name", T.StringType(), True),
                                    T.StructField("units", T.StringType(), True),
                                ]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)

# One measurement as the ``openaq`` source returns it (long format,
# extract_api.py:240-258): the first five fields of RAW_MEASUREMENT.
MEASUREMENT_SCHEMA = T.StructType(RAW_MEASUREMENT.fields[:5])

# Wide marts contract — 15 columns, verbatim from
# tests/test_glue_output_schema.py:44-60 plus the 7th pollutant `bc`
# (handler.py:124). Partition columns: year int, month/day zero-padded
# strings (process_openaq_raw.py:124-127).
MARTS = T.StructType(
    [
        T.StructField("location_id", T.StringType(), False),
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("year", T.IntegerType(), False),
        T.StructField("month", T.StringType(), False),
        T.StructField("day", T.StringType(), False),
        *[T.StructField(p, T.DoubleType(), True) for p in POLLUTANTS],
        T.StructField("city_name", T.StringType(), True),
        T.StructField("country_code", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)

# Multimodal document schema — opaque binary payload + typed metadata
# (engine extension beyond the reference; see sources/multimodal.py).
MULTIMODAL_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Registry tables (sources/tables.load_table) — exactly the schemas Spark
# infers from the parquet footers, pinned so opening a table launches no
# inference job. Dates and events.ts are INT64 TIMESTAMP(MICROS,
# isAdjustedToUTC=false), i.e. TIMESTAMP_NTZ.
_F = T.StructField
_LONG, _INT, _DOUBLE, _STR, _NTZ = (
    T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType(), T.TimestampNTZType()
)
TABLES: dict[str, T.StructType] = {
    "region": T.StructType([_F("r_regionkey", _INT), _F("r_name", _STR)]),
    "nation": T.StructType(
        [_F("n_nationkey", _INT), _F("n_name", _STR), _F("n_regionkey", _INT)]
    ),
    "customer": T.StructType(
        [
            _F("c_custkey", _LONG),
            _F("c_name", _STR),
            _F("c_nationkey", _INT),
            _F("c_acctbal", _DOUBLE),
            _F("c_mktsegment", _STR),
        ]
    ),
    "supplier": T.StructType(
        [
            _F("s_suppkey", _LONG),
            _F("s_name", _STR),
            _F("s_nationkey", _INT),
            _F("s_acctbal", _DOUBLE),
        ]
    ),
    "part": T.StructType(
        [
            _F("p_partkey", _LONG),
            _F("p_name", _STR),
            _F("p_brand", _STR),
            _F("p_type", _STR),
            _F("p_size", _INT),
            _F("p_retailprice", _DOUBLE),
        ]
    ),
    "orders": T.StructType(
        [
            _F("o_orderkey", _LONG),
            _F("o_custkey", _LONG),
            _F("o_orderstatus", _STR),
            _F("o_totalprice", _DOUBLE),
            _F("o_orderdate", _NTZ),
            _F("o_orderpriority", _STR),
        ]
    ),
    "lineitem": T.StructType(
        [
            _F("l_orderkey", _LONG),
            _F("l_partkey", _LONG),
            _F("l_suppkey", _LONG),
            _F("l_linenumber", _INT),
            _F("l_quantity", _DOUBLE),
            _F("l_extendedprice", _DOUBLE),
            _F("l_discount", _DOUBLE),
            _F("l_tax", _DOUBLE),
            _F("l_returnflag", _STR),
            _F("l_linestatus", _STR),
            _F("l_shipdate", _NTZ),
        ]
    ),
    "events": T.StructType(
        [
            _F("event_id", _LONG),
            _F("ts", _NTZ),
            _F("user_id", _LONG),
            _F("event_type", _STR),
            _F("value", _DOUBLE),
            _F("props", _STR),
        ]
    ),
    "documents": T.StructType(
        [
            _F("doc_id", _LONG),
            _F("text", _STR),
            _F("lang", _STR),
            _F("source", _STR),
            _F("n_chars", _LONG),
        ]
    ),
    "embeddings": T.StructType(
        [
            _F("vec_id", _LONG),
            _F("embedding", T.ArrayType(T.FloatType())),
            _F("label", _INT),
        ]
    ),
}

# Raw-zone source ledger (maintenance.new_raw_files / commit_processed):
# one row per processed file per committed batch. Written and read through
# this pin, so the bookmark diff never infers the ledger's footers.
LEDGER = T.StructType(
    [
        _F("path", _STR),
        _F("mtime", _LONG),
        _F("size", _LONG),
        _F("n_rows", _LONG),
        _F("batch_id", _STR),
    ]
)
