"""Readers for the driver-provided synthetic testdata tables.

Parquet scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free (the reference instead re-reads raw JSON
through a Glue DynamicFrame per consumer — SURVEY.md §3.2 anti-pattern).

Every read carries its pinned schema (``schemas.TABLES``), so opening a
table launches no footer-inference Spark job. Dates and ``events.ts`` are
stored as INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) and read as
``TIMESTAMP_NTZ``. A file whose column types differ from the pin (e.g. an
``events.ts`` written as TIMESTAMP(NANOS)) fails at the first action with
``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_data_pipeline_engineering_spark import schemas
from reddit_data_pipeline_engineering_spark.session import apply_runtime_confs

TABLE_NAMES = tuple(schemas.TABLES)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its pinned schema (no inference job)."""
    apply_runtime_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    return spark.read.schema(schemas.TABLES[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register each table as a temp view for the spark.sql surface."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a too-narrow input before CPU-heavy map work.

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE task no matter the conf — and any
    expensive per-row transform downstream (shingling, hash folds, regex
    tokenization) then runs single-threaded. This helper restores a
    parallelism floor with one narrow exchange of the raw rows, which is
    orders of magnitude cheaper than serializing the map stage.

    It is a no-op when the scan already has enough partitions — the 100 TB
    case, where input files outnumber cores — so operators using it keep
    their shuffle budget at scale. (The check reads partition metadata
    only; nothing is executed.) The floor is the context's default
    parallelism, its core count."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
