"""Point-in-time SCD2 enrichment for streams — broadcast or tiled.

A stream-static PIT join resolves each event against the dimension
version in force AT THE EVENT'S OWN time: equality on the key plus
half-open interval containment (``eff_from <= ts < eff_to``). Below the
broadcast threshold the dimension broadcasts and every micro-batch
resolves versions map-side — the plan Spark picks on its own.

PAST the broadcast threshold Spark has no equi-key for the range
predicate and the per-batch join degrades to a sort-merge (or worse,
broadcast-nested-loop) on every trigger. The mitigation (SCALE.md §9f,
VERDICT r06 #5) is INTERVAL TILING, the same construction the batch
``pit_dimension_lookup`` family uses: explode each dimension version
into one row per fixed-width epoch bucket its validity interval
overlaps (clamped to the stream's event-time horizon so open-ended
versions stay bounded), bucket the stream rows with the SAME function,
and join on ``(key, bucket)`` — a plain hash equi-join — with the
interval containment kept as a residual predicate. Each event maps to
exactly one bucket and at most one version, so no dedup pass is needed.

Correctness does not depend on bucket width — only tile count does:
tiles per version = ceil(overlap / bucket). Size the bucket to the
dimension's version cadence (a daily-changing dimension with a 7-day
stream horizon costs <= 8 tiles per version). The bucket function is
truncating integer division on epoch micros — monotone, so every ts
inside a clamped interval lands in one of the interval's enumerated
buckets regardless of sign.

Both paths take plain DataFrames, so the SAME helper serves the
streaming plan and its batch-replay equivalence test.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPOCH = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"

#: Dimension row count above which the stream-static PIT join switches
#: from broadcast to the tiled equi-join. Spark's own default broadcast
#: ceiling is 10 MB; ~2M narrow dimension rows is the same order.
DEFAULT_MAX_BROADCAST_ROWS = 2_000_000


def _us(col: str) -> Column:
    """Epoch micros of an NTZ/naive timestamp column — timezone-free."""
    return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH}, {col})")


def tile_scd2(
    dim: DataFrame,
    *,
    eff_from: str,
    eff_to: str,
    horizon_start: str,
    horizon_end: str,
    bucket_seconds: int,
) -> DataFrame:
    """Explode SCD2 versions into half-open (key, epoch-bucket) tiles;
    the bucket lands in ``__pit_bucket``.

    ``horizon_start`` / ``horizon_end`` are columns ON ``dim`` bounding
    the stream's event-time range (attach them as in-plan broadcast
    scalars — no driver-side ``.head()``). Versions are clamped to the
    horizon before tiling, so an open-ended current version (eff_to =
    far future) contributes only horizon-width tiles; versions entirely
    outside the horizon produce none.
    """
    b = bucket_seconds * 1_000_000
    start = F.greatest(_us(eff_from), _us(horizon_start))
    end = F.least(_us(eff_to), _us(horizon_end))  # exclusive
    return (
        dim.withColumn("__t_start", start)
        .withColumn("__t_end", end)
        .where(F.col("__t_end") > F.col("__t_start"))
        .withColumn(
            "__pit_bucket",
            F.explode(
                F.sequence(
                    F.expr(f"__t_start div {b}"),
                    F.expr(f"(__t_end - 1) div {b}"),
                )
            ),
        )
        .drop("__t_start", "__t_end")
    )


def pit_enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: str | Sequence[str],
    ts_col: str,
    eff_from: str = "eff_from",
    eff_to: str = "eff_to",
    dim_rows: int | None = None,
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
    bucket_seconds: int = 86_400,
    horizon_start: str | None = None,
    horizon_end: str | None = None,
) -> DataFrame:
    """Stream-static PIT join behind a dimension-size switch.

    ``dim_rows`` is the dimension's cardinality — pass it from dimension
    metadata (an SCD2 table knows its size; a parquet count(*) is
    metadata-only). None means "small": broadcast. When ``dim_rows``
    exceeds ``max_broadcast_rows`` the tiled path is taken, which
    requires ``horizon_start``/``horizon_end`` columns on ``dim``.

    Returns stream columns + dimension attribute columns (key and
    bookkeeping columns dropped), exactly one row per matched event.
    """
    keys = [on] if isinstance(on, str) else list(on)
    tiled = dim_rows is not None and dim_rows > max_broadcast_rows
    # Output schema is mode-invariant: validity bounds and horizon
    # bookkeeping never surface, whichever path runs.
    drop_cols = [eff_from, eff_to]
    for h in (horizon_start, horizon_end):
        if h is not None:
            drop_cols.append(h)
    if tiled:
        if horizon_start is None or horizon_end is None:
            raise ValueError(
                "tiled PIT join needs horizon_start/horizon_end columns "
                "on the dimension to bound tile generation"
            )
        d = tile_scd2(
            dim,
            eff_from=eff_from,
            eff_to=eff_to,
            horizon_start=horizon_start,
            horizon_end=horizon_end,
            bucket_seconds=bucket_seconds,
        )
        s = stream.withColumn(
            "__pit_bucket",
            F.expr(
                f"timestampdiff(MICROSECOND, {_EPOCH}, {ts_col})"
                f" div {bucket_seconds * 1_000_000}"
            ),
        )
        join_keys = keys + ["__pit_bucket"]
        drop_cols = drop_cols + ["__pit_bucket"]
    else:
        d = F.broadcast(dim)
        s = stream
        join_keys = keys

    cond = None
    for k in join_keys:
        c = s[k] == d[k]
        cond = c if cond is None else cond & c
    cond = cond & (s[ts_col] >= d[eff_from]) & (s[ts_col] < d[eff_to])
    out = s.join(d, cond)
    keep_dim = [
        c
        for c in dim.columns
        if c not in set(join_keys) | set(drop_cols)
    ]
    return out.select(
        *[s[c] for c in stream.columns if c != "__pit_bucket"],
        *[d[c] for c in keep_dim],
    )
