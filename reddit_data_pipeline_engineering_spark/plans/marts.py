"""The analytics kernel: long fact stream -> deduped, pivoted, enriched,
partition-ready wide marts table.

This is the Spark-first rebuild of the reference's 6-stage Glue job
(``glue_jobs/process_openaq_raw.py``, traced in SURVEY.md §3.2):

  read -> parse datetime/partitions -> window dedup -> pivot -> enrich ->
  audit -> partitioned parquet write

Differences by design (each flagged in SURVEY.md §7.3):
- dedup key includes the parameter column (the production job's 2-part key
  silently drops co-timestamped pollutants; the reference's own full-flow
  test uses the 3-part key) with a deterministic tiebreak;
- the pivot is conditional aggregation over a *fixed* value set (static
  schema, streaming-safe, no extra distinct scan);
- both join sides cast ``location_id`` to string before the join (the
  reference casts only the dim side);
- no stage-by-stage ``count()`` materializations — auditing is
  ``observe()``/one aggregate pass;
- the write defaults to dynamic partition overwrite (idempotent re-runs)
  instead of blind ``append``.

The kernel is domain-neutral: any long stream with (entity, timestamp,
parameter, value) + a small dimension works. ``plans/queries.py`` maps the
driver's ``events`` table into it; the OpenAQ raw zone maps identically.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.functions.datetime_fns import derive_partitions
from reddit_data_pipeline_engineering_spark.operators.dedup import window_dedup
from reddit_data_pipeline_engineering_spark.operators.enrich import (
    broadcast_enrich,
    coalesce_defaults,
    map_literal,
)
from reddit_data_pipeline_engineering_spark.operators.pivot import pivot_conditional


def build_marts(
    long_df: DataFrame,
    dim: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    param_col: str,
    value_col: str,
    param_values: Sequence[str],
    tiebreak: Sequence[str],
    dim_key: str,
    dim_cols: Mapping[str, str],
    fill_defaults: Mapping[str, object] | None = None,
    static_overrides: tuple[str, Mapping] | None = None,
    exact_decimal: str | None = None,
    group_ts_col: str | None = None,
    ts_out_name: str = "datetime",
) -> DataFrame:
    """Run dedup -> pivot -> enrich and return the wide marts DataFrame.

    ``dim_cols`` maps output name -> dim column; ``static_overrides`` is an
    optional (output_col, {entity: value}) map-literal coalesced in front of
    the dim value (the reference's LOCATION_CITY_MAP, extract_api.py:355-372).
    ``exact_decimal`` (e.g. ``"14,4"``) switches the pivot mean to the
    decimal-exact formulation for oracle-verifiable output.
    ``group_ts_col`` lets the pivot roll up to a coarser grain (e.g. a
    date column) than the dedup timestamp; defaults to ``ts_col``.
    """
    group_ts = group_ts_col or ts_col

    # Stage 2: deterministic dedup on (entity, ts, parameter).
    deduped = window_dedup(long_df, [entity_col, ts_col, param_col], tiebreak)

    # Stage 3: static-schema pivot (one shuffle, map-side partial agg).
    wide = pivot_conditional(
        deduped,
        [entity_col, group_ts],
        param_col,
        value_col,
        param_values,
        agg="avg",
        exact_decimal=exact_decimal,
    )

    # Stage 4: broadcast enrichment + defaults. Cast the fact key to string
    # on BOTH sides (reference casts only the dim — SURVEY.md §7.3).
    key = F.col(entity_col).cast("string").alias("location_id")
    wide = wide.select(key, F.col(group_ts).alias(ts_out_name), *param_values)
    dim_sel = dim.select(
        F.col(dim_key).cast("string").alias("location_id"),
        *[F.col(src).alias(dst) for dst, src in dim_cols.items()],
    )
    enriched = broadcast_enrich(wide, dim_sel, "location_id", "left")

    if static_overrides is not None:
        out_col, mapping = static_overrides
        enriched = enriched.withColumn(
            out_col,
            F.coalesce(
                map_literal(mapping, F.col("location_id")), F.col(out_col)
            ),
        )
    if fill_defaults:
        enriched = coalesce_defaults(enriched, fill_defaults)

    # Stage 2b/F2-F3: partition columns (year int, month/day lpad strings).
    return derive_partitions(enriched, ts_out_name)


def write_marts(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("year", "month", "day"),
    sort_cols: Sequence[str] = ("location_id",),
) -> None:
    """Partitioned parquet sink (reference S8, process_openaq_raw.py:249-256)
    and the engine's only partitioned-overwrite writer: the backfill, the
    merges, compaction, the rollups and the streaming upsert sink all
    write through it.

    Uses dynamic partition overwrite for idempotent re-runs (the
    reference's ``append`` double-counts on retry — SURVEY.md §7.3), as a
    writer option, so the session's overwrite mode stays as it was, and
    repartitions by the partition columns so each Hive partition is written
    by one task (avoids the reference's repartition("location_id") small-
    file explosion, GLUE_JOBS_GUIDE.md:404-407).

    ``df`` may read ``path`` itself (a merge or a compaction rewriting its
    own partitions): dynamic overwrite stages task output under
    ``<path>/.spark-staging-<job>`` and swaps the written partitions in
    only at job commit, after every task has finished reading, and a
    failed job leaves the table as it was.

    ``sort_cols`` clusters rows inside each file so parquet row-group
    min/max statistics become selective for those columns — point/range
    filters on ``location_id`` then skip row groups, the light-weight
    cousin of Z-ordering (single-column case). The partition columns lead
    the sort: the planned write sorts each task's rows by them itself, and
    a bare ``sort_cols`` sort beneath that one is removed by the optimizer
    whenever the partition values are computed, so only a sort that
    already satisfies the write's ordering reaches the files.
    """
    parts = [F.col(c) for c in partition_cols]
    (
        df.repartition(*parts)
        .sortWithinPartitions(*parts, *[F.col(c) for c in sort_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
