"""Structured Streaming twin of the batch marts kernel.

The reference is strictly batch (SURVEY.md §2.9): raw NDJSON lands in an
hourly-partitioned "raw zone" and an Airflow-triggered Glue job reprocesses
it — an incremental-batch pattern with no late-data policy (append-mode
double-processing is possible; dedup only works within one batch run).

The streaming reformulation is a strict improvement, per SURVEY.md §2.9:

- the raw zone IS a Structured Streaming file source (new files are the
  stream);
- batch window-dedup maps to ``withWatermark`` +
  ``dropDuplicatesWithinWatermark`` on the same 3-part key — bounded state,
  and dedup now works ACROSS batches;
- the pivot must be the fixed-column conditional aggregation (dynamic
  ``pivot()`` is unsupported on streaming DataFrames — exactly why the
  batch kernel already uses the static form, plans/marts.py);
- dimension enrichment is a stream-static broadcast join (re-resolved per
  micro-batch, so a refreshed dim table is picked up);
- the sink is a parquet ``writeStream`` with checkpointing — exactly-once
  file output replaces the reference's double-counting append.

Scale: state size = (entities x parameters) within the watermark horizon
for dedup plus open aggregation windows; both are bounded by the watermark,
not by stream length. The shuffle key is the same (entity, window) as the
batch kernel, so the 100 TB partitioning story is unchanged.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from reddit_data_pipeline_engineering_spark.maintenance import merge_upsert
from reddit_data_pipeline_engineering_spark.operators.pivot import pivot_conditional


def read_raw_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming NDJSON file source over a raw-zone directory (S7's
    streaming form; explicit schema — streaming reads must not infer)."""
    reader = (
        spark.readStream.format("json")
        .schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def streaming_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Cross-batch dedup with bounded state: watermark +
    dropDuplicatesWithinWatermark on the SURVEY §2.5 3-part key.

    Note the survivor is arrival-order first (no tiebreak column is
    possible in streaming) — the batch kernel's deterministic-tiebreak
    guarantee relaxes to at-most-once per key within the watermark.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_marts(
    long_df: DataFrame,
    dim: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    param_col: str,
    value_col: str,
    param_values: Sequence[str],
    dim_key: str,
    dim_cols: Mapping[str, str],
    watermark: str = "2 hours",
    window_duration: str = "1 hour",
    exact_decimal: str | None = None,
) -> DataFrame:
    """The kernel as a streaming plan: dedup -> windowed static pivot ->
    stream-static broadcast enrich.

    ``exact_decimal`` passes through to the pivot's mean (see
    pivot_conditional): with it the windowed averages are decimal-exact and
    summation-order-independent, making the STREAMING result bit-equal to
    any engine's batch replay of the same relation — what lets the driver
    hash-verify this query against a SQL oracle.

    Output grain: one row per (entity, event-time window) with one column
    per parameter — the streaming analog of the batch wide marts table.
    Late rows beyond ``watermark`` are dropped (the reference had no
    late-data policy at all — SURVEY.md §2.9 calls this out as a strict
    improvement).
    """
    deduped = streaming_dedup(
        long_df, [entity_col, ts_col, param_col], ts_col, watermark
    )
    windowed = deduped.withColumn(
        "__window", F.window(F.col(ts_col), window_duration)
    )
    wide = pivot_conditional(
        windowed,
        [entity_col, "__window"],
        param_col,
        value_col,
        param_values,
        agg="avg",
        exact_decimal=exact_decimal,
    )
    wide = wide.select(
        F.col(entity_col).cast("string").alias("location_id"),
        F.col("__window.start").alias("window_start"),
        F.col("__window.end").alias("window_end"),
        *param_values,
    )
    dim_sel = dim.select(
        F.col(dim_key).cast("string").alias("location_id"),
        *[F.col(src).alias(dst) for dst, src in dim_cols.items()],
    )
    return wide.join(F.broadcast(dim_sel), "location_id", "left")


def sessionize_stream(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` (the native stateful
    analog of the batch lag-gap sessionize query, plans/queries.py)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(entity_col),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            entity_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    within: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval: right
    rows match a left row with the same key when ``right_ts`` falls in
    ``[left_ts, left_ts + within]``.

    Both sides carry watermarks and the join predicate carries the time
    bound — together they let Spark expire buffered rows, so join state is
    O(keys x rows within the interval+watermark horizon), not O(stream).
    An unbounded-condition stream-stream join would grow state forever;
    this shape is the scalable one. Outer variants additionally emit
    unmatched rows once the watermark passes their interval.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)


def write_marts_stream(df: DataFrame, path: str, checkpoint: str):
    """Parquet streaming sink with checkpointing (S8's streaming form), in
    append mode under the availableNow trigger: it processes everything
    currently in the source then stops — the incremental-batch trigger
    that replaces the reference's Airflow-cron reprocessing."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_stream_upsert(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: Sequence[str],
    keys: Sequence[str],
):
    """foreachBatch sink that upserts each micro-batch into a partitioned
    parquet table instead of appending, under the availableNow trigger.

    Each batch is a key-level MERGE (``maintenance.merge_upsert``, which
    writes through ``plans.marts.write_marts``): the batch's rows replace
    existing rows with the same ``keys`` and new keys are inserted, so a
    partition may hold many re-emittable units (update mode re-emits only
    the changed ones) without data loss. Failed batches replay
    idempotently: the same input batch produces the same partition
    contents, and an empty batch writes nothing.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            path,
            batch_df,
            keys=keys,
            partition_cols=partition_cols,
        )

    return (
        df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_completion(query) -> None:
    """Block until an availableNow query drains (test/pipeline helper);
    a query still running after 120 s is stopped."""
    if not query.awaitTermination(120.0):
        query.stop()
        raise TimeoutError("stream did not finish within 120s")


# Staged bytes per stateful-shuffle partition (see below).
STATE_TARGET_BYTES = 1 << 20

# Guards the session's shuffle-partition conf for run_scaled_drain.
_DRAIN_CONF_LOCK = threading.Lock()


def scaled_state_partition_count(
    spark: SparkSession, staged_path: str, target_bytes: int | None = None
) -> int:
    """Stateful-shuffle partition count DERIVED from the staged raw-zone
    size (optimization guide §2: make partitioning scale-adaptive, never a
    constant tuned for one host).

    Every stateful operator (stream-stream join, windowed aggregate,
    dropDuplicatesWithinWatermark, applyInPandasWithState) instantiates
    one state store PER shuffle partition PER operator PER micro-batch,
    and each store pays a fixed commit/maintenance cost (delta file +
    fsync). Measured on the r11 host: ~0.3 s of pure state-store fixed
    cost per partition across an availableNow drain (data batch +
    watermark-eviction batch) — 32 partitions over a 3.4 MB staged slice
    spent 13.2 s where 4 partitions spend 3.9 s on the identical
    stream-stream interval join. The rule:

        partitions = clamp(ceil(staged_bytes / target), 1, 3 * cores)

    - ``target`` defaults to ``STATE_TARGET_BYTES`` (1 MiB of staged
      NDJSON per partition) — the measured crossover on the bench data
      shape where per-partition fixed cost exceeds the
      compute-parallelism gain; callers pass ``target_bytes`` to tune it
      (at a real horizon volume the cap, not the target, binds).
    - the cap is 3x ``defaultParallelism`` — the usual cluster sizing of
      batch shuffle partitions at 2-3x total cores (SCALE.md), so at
      100 TB this degrades to the standard sizing rather than a local
      constant; it also scales with the driver's lower-core bench legs
      automatically.
    """
    target = target_bytes or STATE_TARGET_BYTES
    staged = 0
    for dirpath, _, filenames in os.walk(staged_path):
        for name in filenames:
            try:
                staged += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass  # sink/checkpoint churn mid-walk
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(-(-staged // target), 3 * cores))


def run_scaled_drain(
    spark: SparkSession,
    staged_path: str,
    start_query,
    target_bytes: int | None = None,
) -> None:
    """Start + drain an availableNow stream under a stateful-shuffle
    partition count sized from the staged input (see
    :func:`scaled_state_partition_count`).

    ``start_query`` is a zero-arg callable returning the STARTED
    StreamingQuery: the partition conf must be in force when the stream
    starts (StreamExecution clones the session conf at start and pins it
    into the checkpoint), so construction happens inside the scope. The
    prior conf value is restored after the drain completes — the drain is
    awaited inside the scope, so no concurrently *running* micro-batch
    can observe the restore.

    Drains are serialized by a process-wide lock held over set -> drain
    -> restore: otherwise a drain that starts while another runs saves
    that drain's count as its prior value and, finishing last, leaves the
    session at it.
    """
    with _DRAIN_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(scaled_state_partition_count(spark, staged_path, target_bytes)),
        )
        try:
            run_stream_to_completion(start_query())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
