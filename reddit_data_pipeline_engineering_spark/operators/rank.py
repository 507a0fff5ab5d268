"""Distributed exact global ranking without a single-partition sort.

A no-``partitionBy`` ranking window (``row_number() OVER (ORDER BY ...)``,
``ntile``, ``percent_rank``) forces Spark to funnel EVERY row through one
task's sort — the VERDICT r07 #4 scale-killer: at 100x the dimension that
is billions of rows through a single partition. This module computes the
identical 1-based global position with the classic two-phase plan:

1. ``repartitionByRange`` on the order key — Spark's range partitioner
   (sampled split points) puts partition i's every row strictly before
   partition i+1's in the total order;
2. one bounded aggregate counts rows per range partition (#partitions
   rows to the driver — plan metadata, not data);
3. each partition sorts LOCALLY (``Window.partitionBy(partition-id)`` —
   a keyed window, every executor sorts only its own slice) and adds
   its broadcast prefix-sum offset.

Wall-clock scales like any shuffle+local-sort; no stage ever sees more
than one partition's rows. The range exchange is the same movement a
global sort's first phase pays — phase two (the single-task merge) is
what this plan deletes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark.blocks import checkpoint


def with_global_position(
    df: DataFrame,
    order_cols: list[str],
    pos_col: str = "global_pos",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Add the exact 1-based position of each row under
    ``ORDER BY order_cols`` (which must be a TOTAL order — include a
    unique tiebreak column). Returns ``(df_with_pos, total_rows)``.

    The returned frame is range-partitioned on the order key and
    locally sorted, so downstream per-rank math (ntile arithmetic,
    percent_rank) is a narrow projection. The per-partition count
    collect is bounded by the partition count, never by rows.
    """
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    ranged = df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    # Pin the (sampled) range split points: the count pass and the
    # ranking pass must see the IDENTICAL partitioning, so materialize
    # the exchange once instead of re-running the sample per action.
    ranged = checkpoint(ranged)
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = sum(counts.values())
    offsets, cum = [], 0
    for pid in range(n_part):
        offsets.append((pid, cum))
        cum += counts.get(pid, 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(pos_col, F.row_number().over(w_local) + F.col("_off"))
        .drop("_pid", "_off")
    )
    return out, total


def ntile_from_position(pos_col: str, n: int, n_buckets: int) -> F.Column:
    """SQL ``NTILE(n_buckets)`` bucket from an exact 1-based global
    position over ``n`` rows: the first ``n mod n_buckets`` buckets
    hold ``n div n_buckets + 1`` rows, the rest one fewer. Pure
    arithmetic on broadcast scalars — no window."""
    q, rem = divmod(n, n_buckets)
    p = F.col(pos_col)
    if q == 0:  # fewer rows than buckets: bucket == position
        return p.cast("int")
    big = rem * (q + 1)
    return (
        F.when(p <= F.lit(big), F.floor((p - 1) / F.lit(q + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((p - 1 - F.lit(big)) / F.lit(q)) + 1)
        .cast("int")
    )


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    sum_col: str,
    cum_col: str = "cum_sum",
    with_total: bool = False,
):
    """Add the exact running total of ``sum_col`` under ``ORDER BY
    order_cols`` (a TOTAL order — include a unique tiebreak) without a
    single-partition window — the prefix-SUM companion of
    ``with_global_position`` for Pareto/ABC cumulative-share curves.

    Same two-phase plan: range-partition on the order key (pinned by a
    lazy localCheckpoint so both passes see identical split points),
    aggregate one PARTIAL SUM per range partition (#partitions rows to
    the driver — plan metadata, not data), broadcast the prefix
    offsets back, and let each partition compute a LOCAL keyed
    cumulative window plus its offset. ``sum_col`` should already be
    an exact type (DECIMAL/BIGINT); the per-partition partials reuse
    it unchanged, so no precision is lost in the offset pass. There is
    one range per shuffle partition.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
    ranged = ranged.withColumn("_pid", F.spark_partition_id())
    ranged = checkpoint(ranged)
    partials = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum(sum_col).alias("s")).collect()
    }
    offsets, cum = [], 0
    for pid in range(n_part):
        offsets.append((pid, str(cum)))
        # int() is exact for the integral DECIMAL/BIGINT sums this
        # helper supports (and avoids Decimal('1E+5')-style scientific
        # stringification breaking the cast below).
        cum += int(partials.get(pid) or 0)
    # offsets ride as strings -> DECIMAL(38,0): createDataFrame of raw
    # Python ints larger than int64 would need decimal.Decimal objects;
    # the string cast is exact and keeps the helper type-agnostic.
    off_df = spark.createDataFrame(offsets, "_pid int, _off string").select(
        "_pid", F.col("_off").cast("decimal(38,0)").alias("_off")
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(cum_col, F.sum(sum_col).over(w_local) + F.col("_off"))
        .drop("_pid", "_off")
    )
    if with_total:
        # The grand total is the sum of the partials already collected
        # for the offsets — exact, and FREE: callers that also need it
        # (Pareto share denominators) would otherwise re-aggregate the
        # whole input relation a second time (r11).
        return out, cum
    return out
