"""Declarative data-quality expectations, evaluated in ONE pass.

The reference hand-rolls each check as its own action — five separate
``.count()`` materializations in the Glue job
(``glue_jobs/process_openaq_raw.py``, SURVEY.md §4 anti-pattern). This
module is the engine's generalization (same concept as the public Deequ /
Great Expectations libraries, reduced to the Spark-first core): a rule
list compiles into ONE aggregate over ONE scan, returning a tidy
(rule, n_violations, passed) relation.

At 100 TB this is the difference between N full scans and one: every rule
is a conditional count riding the same hash aggregate; uniqueness rules
add the standard two-phase distinct on the checked column. The output is
SQL-mirrorable, so the driver oracle hash-verifies the whole report.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation: ``name`` labels the report row; ``violations`` is
    a Column counting offending rows (aggregate expression)."""

    name: str
    violations: Column


def not_null(col: str) -> Rule:
    return Rule(
        f"{col}_not_null",
        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)),
    )


def in_range(col: str, lo: float, hi: float) -> Rule:
    return Rule(
        f"{col}_in_range",
        F.sum(
            F.when((F.col(col) < lo) | (F.col(col) > hi), 1).otherwise(0)
        ),
    )


def accepted_values(col: str, values: Sequence[str]) -> Rule:
    return Rule(
        f"{col}_accepted_values",
        F.sum(F.when(~F.col(col).isin(list(values)), 1).otherwise(0)),
    )


def unique(col: str) -> Rule:
    return Rule(
        f"{col}_unique",
        F.count(F.lit(1)) - F.countDistinct(F.col(col)),
    )


def validate(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Evaluate every rule in one aggregate pass -> (rule, n_violations,
    passed) rows, in rule order. Null-safe: violation counts over empty
    input coalesce to 0."""
    agg_row = df.agg(
        *[
            F.coalesce(r.violations.cast("bigint"), F.lit(0).cast("bigint")).alias(
                f"__r{i}"
            )
            for i, r in enumerate(rules)
        ]
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"__r{i}").alias("n_violations"),
            )
            for i, r in enumerate(rules)
        ]
    )
    exploded = agg_row.select(F.explode(cells).alias("c"))
    return exploded.select(
        F.col("c.rule").alias("rule"),
        F.col("c.n_violations").alias("n_violations"),
        (F.col("c.n_violations") == 0).alias("passed"),
    )
