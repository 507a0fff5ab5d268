"""Raw-zone NDJSON source/sink (reference S3/S7).

The reference lands enriched long-format measurements as NDJSON under
``aq_raw/YYYY/MM/DD/HH/raw_*.json`` via boto3 ``put_object``
(``lambda_functions/openaq_fetcher/s3_uploader.py:87-156``) and reads the
whole zone back through a Glue DynamicFrame with ``recurse``
(``glue_jobs/process_openaq_raw.py:94-100``).

Spark-first: ``df.write.json`` emits NDJSON natively; the hourly path
layout becomes ``partitionBy`` over derived year/month/day/hour columns so
partition pruning works on read; reads use an explicit schema (never
inference — SURVEY.md §1.3) + ``recursiveFileLookup`` for layout-agnostic
scans. One reader serves batch and streaming (streaming/kernel.py wraps the
same schema contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from reddit_data_pipeline_engineering_spark.blocks import cache
from reddit_data_pipeline_engineering_spark.schemas import RAW_MEASUREMENT


CORRUPT_COL = "_corrupt_record"


def read_raw_zone(
    spark: SparkSession, path: str, keep_corrupt: bool = False
) -> DataFrame:
    """Recursive NDJSON scan with a pinned schema (S7).

    Explicit schema kills the VoidType-inference bug the reference patches
    defensively (process_openaq_raw.py:179-185) and skips the extra
    inference pass over the data.

    ``keep_corrupt=True`` adds the PERMISSIVE-mode corrupt-record column so
    malformed lines can be counted/quarantined instead of silently nulled —
    at ingest scale, bad rows are a metric, not a crash.
    """
    schema = RAW_MEASUREMENT
    if keep_corrupt:
        schema = StructType(
            [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
    reader = (
        spark.read.format("json")
        .schema(schema)
        .option("recursiveFileLookup", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    return reader.load(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, corrupt_rows) from a keep_corrupt read — the quarantine
    pattern: clean rows continue, corrupt rows land in a dead-letter sink.

    The parsed scan is cached first: Spark refuses queries whose pruned
    column set is ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and both halves
    read the same parse anyway.
    """
    df = cache(df)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return clean, corrupt


def write_raw_zone(df: DataFrame, path: str) -> None:
    """NDJSON raw-zone sink with hour-grain partition layout (S3/F9).

    The reference's f-string path templating (s3_uploader.py:127-131)
    becomes ``partitionBy(year, month, day, hour)`` — identical layout
    semantics, but written in parallel by executors and prunable on read.
    Each call appends one batch.
    """
    ts = F.col("datetime").cast("timestamp")
    (
        df.withColumn("year", F.year(ts))
        .withColumn("month", F.lpad(F.month(ts).cast("string"), 2, "0"))
        .withColumn("day", F.lpad(F.dayofmonth(ts).cast("string"), 2, "0"))
        .withColumn("hour", F.lpad(F.hour(ts).cast("string"), 2, "0"))
        .write.mode("append")
        .partitionBy("year", "month", "day", "hour")
        .json(path)
    )


def write_wrapped_json(df: DataFrame, path: str, extracted_at: str) -> None:
    """S4: the reference's wrapped-JSON archive format — ONE JSON object
    ``{meta: {name, website, found, extracted_at}, results: [...]}`` per
    extraction batch (pipelines/openaq_pipeline.py:140-166).

    The format is inherently a single document, so the plan builds it as
    one row (collect_list of row structs + a meta struct) and writes one
    part file. That bounds this sink to API-batch archival (the
    reference's use: ~1.5k rows per batch held in memory anyway); fact
    data belongs in the NDJSON raw zone, which stays the canonical
    scalable format (SURVEY.md §2.1).
    """
    wrapped = (
        df.agg(F.collect_list(F.struct(*df.columns)).alias("results"))
        .select(
            F.struct(
                F.lit("openaq-api").alias("name"),
                F.lit("https://api.openaq.org/v3").alias("website"),
                F.size("results").alias("found"),
                F.lit(extracted_at).alias("extracted_at"),
            ).alias("meta"),
            "results",
        )
    )
    wrapped.coalesce(1).write.mode("overwrite").json(path)


def read_wrapped_json(spark: SparkSession, path: str) -> DataFrame:
    """Read the S4 wrapped format back to long rows + batch metadata:
    multiLine parse of the single document, explode of ``results``."""
    raw = spark.read.option("multiLine", "true").json(path)
    return raw.select(
        F.explode("results").alias("r"),
        F.col("meta.extracted_at").alias("extracted_at"),
        F.col("meta.found").alias("batch_found"),
    ).select("r.*", "extracted_at", "batch_found")
