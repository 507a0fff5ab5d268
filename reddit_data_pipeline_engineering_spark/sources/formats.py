"""Format-matrix IO: one writer/reader pair per interchange format.

The reference emits JSON and Parquet only (``pipelines/openaq_pipeline.py``
S5; Glue sinks S6/S8). The engine keeps those canonical and adds the other
formats Spark ships natively — CSV and ORC — behind the same
schema-pinned contract as the raw zone:

- **writes** overwrite the target; parquet is zstd-compressed (the best
  scan-cost/byte trade at 100 TB);
- **reads** always pass an explicit schema (never inference — a schema
  pass over 100 TB is a full extra scan, and CSV/JSON inference can fork
  types between reruns);
- CSV gets header + escaped quoting so round-trips are lossless for
  string columns containing delimiters/newlines.

Avro is deliberately absent: it needs the external ``spark-avro`` package,
which is not in this environment (gate it behind the same import-try if
added later).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

PARQUET_CODEC = "zstd"

# NULL serializes as \N, empty string as a QUOTED empty field ("") — the
# quoting is what keeps the two distinguishable on read-back (an unquoted
# empty field would read as null).
_CSV_WRITE_OPTS = {
    "header": "true",
    "escape": '"',
    "nullValue": "\\N",
    "emptyValue": '""',
}

_CSV_READ_OPTS = {
    "header": "true",
    "escape": '"',
    "nullValue": "\\N",
}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Write ``df`` in any supported format with sane large-scale defaults."""
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "parquet":
        writer = writer.option("compression", PARQUET_CODEC)
    if fmt == "csv":
        for k, v in _CSV_WRITE_OPTS.items():
            writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Schema-pinned read of any supported format (no inference, ever)."""
    reader = spark.read.format(fmt).schema(schema)
    if fmt == "csv":
        for k, v in _CSV_READ_OPTS.items():
            reader = reader.option(k, v)
    return reader.load(path)
