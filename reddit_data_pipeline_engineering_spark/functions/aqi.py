"""EPA AQI as one SQL expression string — the reference's unshipped plan.

Reference: ``doc/archive/AQI Calculation Implementation Plan.md`` specified
three row-at-a-time Python UDFs (aqi, dominant_pollutant, aqi_level) that
were never implemented (``glue_jobs/aqi_calculator.py`` does not exist —
SURVEY.md §2.10). The engine implements the same semantics as CASE /
GREATEST expressions over the EPA breakpoint table: Catalyst-optimizable,
whole-stage-codegen'd, zero serialization cost — the right shape for a
100 TB scan.

Edge-case contract (plan lines 69-73): missing pollutants -> AQI from the
available ones; all-null -> NULL AQI + 'Unknown' level; negative values
skipped (treated as missing); > 500 uncapped (last bracket's line
extrapolates).

Each quantity is written once, as a SQL string. Spark parses it
(``selectExpr``/``F.expr``) and the DuckDB oracle runs the same text, so
oracle verification checks the exact expression, not a reimplementation.
The string is portable because every number in it is a DOUBLE literal in
both engines (see :func:`_dbl`) and the string type is ``STRING`` (Spark
rejects a size-less ``VARCHAR``).
"""

from __future__ import annotations

# pollutant -> [(C_lo, C_hi, I_lo, I_hi)], EPA 2012/2018 tables as cited in
# the reference plan (breakpoints table, plan lines 41-49).
BREAKPOINTS: dict[str, list[tuple[float, float, int, int]]] = {
    "pm25": [
        (0.0, 12.0, 0, 50), (12.1, 35.4, 51, 100), (35.5, 55.4, 101, 150),
        (55.5, 150.4, 151, 200), (150.5, 250.4, 201, 300),
        (250.5, 350.4, 301, 400), (350.5, 500.4, 401, 500),
    ],
    "pm10": [
        (0.0, 54.0, 0, 50), (55.0, 154.0, 51, 100), (155.0, 254.0, 101, 150),
        (255.0, 354.0, 151, 200), (355.0, 424.0, 201, 300),
        (425.0, 504.0, 301, 400), (505.0, 604.0, 401, 500),
    ],
    "o3": [
        (0.0, 54.0, 0, 50), (55.0, 70.0, 51, 100), (71.0, 85.0, 101, 150),
        (86.0, 105.0, 151, 200), (106.0, 200.0, 201, 300),
    ],
    "no2": [
        (0.0, 53.0, 0, 50), (54.0, 100.0, 51, 100), (101.0, 360.0, 101, 150),
        (361.0, 649.0, 151, 200), (650.0, 1249.0, 201, 300),
        (1250.0, 1649.0, 301, 400), (1650.0, 2049.0, 401, 500),
    ],
    "so2": [
        (0.0, 35.0, 0, 50), (36.0, 75.0, 51, 100), (76.0, 185.0, 101, 150),
        (186.0, 304.0, 151, 200), (305.0, 604.0, 201, 300),
        (605.0, 804.0, 301, 400), (805.0, 1004.0, 401, 500),
    ],
    "co": [
        (0.0, 4.4, 0, 50), (4.5, 9.4, 51, 100), (9.5, 12.4, 101, 150),
        (12.5, 15.4, 151, 200), (15.5, 30.4, 201, 300),
        (30.5, 40.4, 301, 400), (40.5, 50.4, 401, 500),
    ],
}

AQI_POLLUTANTS = tuple(BREAKPOINTS)  # 6 pollutants; `bc` has no EPA AQI

LEVELS = [
    (50, "Good"), (100, "Moderate"), (150, "Unhealthy for Sensitive Groups"),
    (200, "Unhealthy"), (300, "Very Unhealthy"),
]
HAZARDOUS = "Hazardous"


def _dbl(x: float) -> str:
    """``x`` as a literal that Spark SQL and DuckDB both type as DOUBLE.

    A bare ``12.0`` is DECIMAL in both engines, and they then disagree on
    a bracket slope: Spark evaluates ``(50.0 - 0.0) / (12.0 - 0.0)`` as
    ``decimal(10,6)`` 4.166667, DuckDB as the double 4.166666666666667.
    An exponent literal (``12.0E0``) is DOUBLE in both.
    """
    return f"{float(x)!r}E0"


def sql_subindex(expr: str, pollutant: str) -> str:
    """Per-pollutant AQI sub-index of the concentration ``expr``.

    A CASE over the pollutant's brackets; each bracket interpolates
    linearly between its breakpoints, and the last one extrapolates
    (uncapped above 500). NULL for a null or negative concentration.
    """

    def line(lo: float, hi: float, ilo: int, ihi: int) -> str:
        return (
            f"({_dbl(ihi)} - {_dbl(ilo)}) / ({_dbl(hi)} - {_dbl(lo)})"
            f" * ({expr} - {_dbl(lo)}) + {_dbl(ilo)}"
        )

    *brackets, last = BREAKPOINTS[pollutant]
    parts = [f"CASE WHEN ({expr} IS NULL OR {expr} < 0) THEN CAST(NULL AS DOUBLE)"]
    parts += [f"WHEN {expr} <= {_dbl(b[1])} THEN {line(*b)}" for b in brackets]
    parts.append(f"ELSE {line(*last)} END")
    return " ".join(parts)


def sql_aqi_bundle(col_exprs: dict[str, str]) -> dict[str, str]:
    """SQL for the sub-indexes, overall AQI, dominant pollutant and level.

    ``col_exprs`` maps pollutant -> SQL expression for its concentration.
    Returns SQL strings keyed 'sub_<p>', 'aqi', 'dominant_pollutant',
    'aqi_level'. They are evaluated in three stages: 'aqi' reads the
    'sub_<p>' columns, and 'dominant_pollutant'/'aqi_level' read 'aqi'.

    - 'aqi' is the GREATEST of the sub-indexes (Spark's needs two or
      more arguments, so one pollutant is its own AQI). GREATEST skips
      NULLs in both engines, which gives the missing-pollutant contract;
      it is NULL only when every sub-index is.
    - 'dominant_pollutant' is the first pollutant (in ``col_exprs``
      order) whose sub-index equals the AQI.
    - 'aqi_level' is the six-category EPA level, 'Unknown' for a NULL AQI.
    """
    out = {f"sub_{p}": sql_subindex(e, p) for p, e in col_exprs.items()}
    subs = [f"sub_{p}" for p in col_exprs]
    out["aqi"] = f"GREATEST({', '.join(subs)})" if len(subs) > 1 else subs[0]
    dom = ["CASE WHEN aqi IS NULL THEN CAST(NULL AS STRING)"]
    dom += [f"WHEN sub_{p} = aqi THEN '{p}'" for p in col_exprs]
    out["dominant_pollutant"] = " ".join(dom) + " END"
    lvl = ["CASE WHEN aqi IS NULL THEN 'Unknown'"]
    lvl += [f"WHEN aqi <= {_dbl(bound)} THEN '{label}'" for bound, label in LEVELS]
    out["aqi_level"] = " ".join(lvl) + f" ELSE '{HAZARDOUS}' END"
    return out
