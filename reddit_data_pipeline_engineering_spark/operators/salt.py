"""Skew mitigation: salted joins and two-stage distinct aggregation.

No reference counterpart (its dims are ~53 rows and always broadcast); at
100 TB a shuffle join with a hot key (one user, one null-ish default, one
viral document) puts an entire key's rows in one task. AQE's skew-join
split (enabled in session.py) handles moderate skew at runtime; these
operators are the explicit form for pathological keys or when the skewed
side must stay a shuffle join.

Mechanics: the skewed (big) side gets a deterministic salt derived from a
unique column — ``pmod(xxhash64(unique), n)`` — widening each hot key into
``n`` sub-keys; the small side is replicated ``n`` times with an exploded
salt literal. Join keys become (key, salt). Results are identical to the
unsalted join; only the partitioning changes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, unique_cols: Sequence[str], n: int) -> DataFrame:
    """Deterministic salt in [0, n) from a unique column set (deterministic
    so retries/recomputes land rows in the same partition — never use
    rand() for salts in a fault-tolerant job)."""
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in unique_cols]), F.lit(n))
    )


def replicate_salted(df: DataFrame, n: int) -> DataFrame:
    """Replicate the small side once per salt value (build-side widening)."""
    return df.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n)]))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    big_unique: Sequence[str],
    n: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: hot keys spread over ``n`` tasks.

    ``big_unique`` must functionally determine a row of ``big`` (e.g. its
    primary key) so the salt is uniform within each join key. The small
    side grows n-fold — use only when it's far smaller than the big side
    but too big (or growing) to broadcast outright.
    """
    on = [on] if isinstance(on, str) else list(on)
    b = with_salt(big, big_unique, n)
    s = replicate_salted(small, n)
    return b.join(s, on=on + [SALT_COL], how="inner").drop(SALT_COL)


def salted_count_distinct(
    df: DataFrame,
    group_keys: Sequence[str],
    distinct_col: str,
    n: int = 16,
) -> DataFrame:
    """Two-stage COUNT(DISTINCT x) for skewed groups.

    Stage 1 shuffles on (keys, salt) and dedups within each salt bucket;
    stage 2 merges the per-salt partial distinct counts. Correct because
    the salt is derived FROM the distinct column, so equal values always
    land in the same bucket. A single hot group becomes n parallel tasks
    instead of one straggler.
    """
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n))
    )
    partial = salted.groupBy(*group_keys, SALT_COL).agg(
        F.countDistinct(distinct_col).alias("__partial")
    )
    return partial.groupBy(*group_keys).agg(
        F.sum("__partial").alias(f"n_distinct_{distinct_col}")
    )
