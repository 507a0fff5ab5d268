"""Catalog registration and inspection (replaces Glue Crawler + Data
Catalog, reference S9).

The reference registers its marts table by running a Glue Crawler that
re-infers schema and partitions from parquet footers
(``pipelines/glue_pipeline.py:15-42``, ``utils/glue_utils.py:24-55``,
``doc/architecture.md:249-263``) — minutes of polling per run. In Spark the
catalog is in-session: ``saveAsTable`` or an external-location table +
``recoverPartitions`` (the MSCK REPAIR equivalent) does the same job
synchronously, with the already-known schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_parquet_table(
    spark: SparkSession,
    table: str,
    location: str,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Register an existing partitioned parquet directory as an external
    table and discover its partitions (crawler equivalent, S9)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.catalog.createTable(table, path=location, source="parquet")
    if partition_cols:
        # Hive-layout directories -> catalog partitions (MSCK REPAIR).
        spark.catalog.recoverPartitions(table)


def save_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed table for co-located joins (scale extension).

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle on either side (Exchange-free sort-merge join) —
    the standard Spark answer to repeated large-x-large joins at 100 TB.
    Amortizes one shuffle at write time across every future join. An
    existing table of the same name is replaced.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def list_tables(spark: SparkSession) -> list[str]:
    """Table names in the current database (reference ``list_tables`` via
    information_schema, utils/athena_utils.py:206-232)."""
    return [t.name for t in spark.catalog.listTables()]


def get_table_count(spark: SparkSession, table: str) -> int:
    """SELECT COUNT(*) (reference get_table_count, athena_utils.py:178-203,
    A4) — synchronous, no submit/poll/fetch cycle."""
    return spark.table(table).count()
