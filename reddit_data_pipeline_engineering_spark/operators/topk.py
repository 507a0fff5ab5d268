"""Top-k / ordering operators.

Reference: Athena's `ORDER BY count DESC` dashboards (``README.md:392-396``,
A5/O2) and `ORDER BY avg_pm25 DESC LIMIT 10` (``doc/architecture.md:
374-385``, A8).

Scale notes: a global ``orderBy(...).limit(k)`` is planned by Catalyst as
TakeOrderedAndProject — per-partition top-k then a k-row merge on the
driver; no full sort, no full shuffle. It survives 100 TB inputs as
long as k is bounded.

All orderings take explicit tiebreak columns: a bare LIMIT over ties is
nondeterministic across engines and would fail oracle comparison.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global deterministic top-k (plans as TakeOrderedAndProject)."""
    return df.orderBy(*order).limit(k)

