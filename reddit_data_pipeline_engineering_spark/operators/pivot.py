"""Long-to-wide pivot aggregation.

Reference: the analytics kernel's core step —
``groupBy(location_id, datetime, year, month, day).pivot("parameter")
.agg(F.mean("value"))`` (``glue_jobs/process_openaq_raw.py:151-159``, A1).

The engine's default is **conditional aggregation over a fixed column set**
instead of a dynamic ``pivot()``:

- a dynamic pivot runs an extra distinct-values job to discover columns
  (SURVEY.md §4 anti-pattern) and yields a data-dependent schema;
- a fixed set keeps the schema static (streaming-safe — dynamic pivot is
  unsupported on streaming DataFrames) and the whole plan is a single
  hash-aggregate: partial map-side aggregation then one shuffle on the
  group keys. That plan scales linearly to 100 TB.

``pivot_dynamic`` is kept for parity with the reference's behavior.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pivot_conditional(
    df: DataFrame,
    group_keys: Sequence[str],
    pivot_col: str,
    value_col: str,
    pivot_values: Sequence[str],
    agg: str = "avg",
    exact_decimal: str | None = None,
) -> DataFrame:
    """Static pivot: one `agg(value WHERE pivot_col = v)` column per value.

    avg(when(...)) ignores non-matching rows (when() yields NULL), exactly
    like pivot().agg(mean) — including mean-absorbing residual duplicates
    (process_openaq_raw.py:157-159).

    With ``exact_decimal`` (a decimal "precision,scale" string) and
    ``agg="avg"``, the mean is computed as
    ``cast(sum(cast(v as decimal)) as double) / count(v)`` — exact,
    summation-order-independent, and therefore bit-identical to any
    engine's result for the same rounded inputs (used for oracle parity).
    """
    aggs: list[Column] = []
    for v in pivot_values:
        matched = F.when(F.col(pivot_col) == v, F.col(value_col))
        if agg == "avg" and exact_decimal is not None:
            num = F.sum(matched.cast(f"decimal({exact_decimal})")).cast("double")
            den = F.nullif(F.count(matched), F.lit(0))
            aggs.append((num / den).alias(v))
        else:
            fn = getattr(F, agg)
            aggs.append(fn(matched).alias(v))
    return df.groupBy(*[F.col(k) for k in group_keys]).agg(*aggs)


def pivot_dynamic(
    df: DataFrame,
    group_keys: Sequence[str],
    pivot_col: str,
    value_col: str,
) -> DataFrame:
    """Reference-style dynamic pivot (runtime column discovery) of the
    mean of ``value_col``."""
    return (
        df.groupBy(*[F.col(k) for k in group_keys])
        .pivot(pivot_col)
        .agg(F.avg(F.col(value_col)))
    )


def unpivot(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "parameter",
) -> DataFrame:
    """Wide-to-long inverse (melt), via the built-in unpivot operator;
    the values land in ``value``."""
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        "value",
    )
