"""The AQI SQL strings on both engines, and guards against a second AQI
implementation growing back.

``functions/aqi.py`` writes each AQI quantity once, as a SQL string that
Spark parses and DuckDB runs. ``aqi_both`` evaluates the strings on both
engines over the same input rows; the breakpoint sweep checks that the
two return bit-identical values at every bracket edge.
"""

import ast
import math
from pathlib import Path

import duckdb
import pytest

from reddit_data_pipeline_engineering_spark.functions import aqi
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries
from reddit_data_pipeline_engineering_spark.profile import py4j_round_trips

from .conftest import SF_SMALL

queries()

_SUBS = [f"sub_{p}" for p in aqi.AQI_POLLUTANTS]
_SQL = aqi.sql_aqi_bundle({p: p for p in aqi.AQI_POLLUTANTS})
# Sub-indexes, then the AQI over them, then the two labels over the AQI.
_STAGES = [
    ["id", *(f"{_SQL[c]} AS {c}" for c in _SUBS)],
    ["id", *_SUBS, f"{_SQL['aqi']} AS aqi"],
    ["id", *_SUBS, "aqi",
     f"{_SQL['dominant_pollutant']} AS dominant_pollutant",
     f"{_SQL['aqi_level']} AS aqi_level"],
]
_OUT = [*_SUBS, "aqi", "dominant_pollutant", "aqi_level"]


def aqi_both(spark, rows):
    """Evaluate the AQI strings over ``rows`` (dicts pollutant ->
    concentration; a missing pollutant is NULL) on Spark and on DuckDB.

    Returns ``(spark_schema, spark_rows, duckdb_rows)``; each row is the
    tuple of ``_OUT`` values, in input order.
    """
    data = [(i, *(r.get(p) for p in aqi.AQI_POLLUTANTS)) for i, r in enumerate(rows)]
    cols = ", ".join(f"{p} double" for p in aqi.AQI_POLLUTANTS)
    df = spark.createDataFrame(data, f"id int, {cols}")
    for stage in _STAGES:
        df = df.selectExpr(*stage)
    df = df.orderBy("id").select(*_OUT)
    srows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t (id INTEGER, {cols})")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(data[0]))})", data)
        sql = "SELECT * FROM t"
        for stage in _STAGES:
            sql = f"SELECT {', '.join(stage)} FROM ({sql})"
        drows = con.execute(
            f"SELECT {', '.join(_OUT)} FROM ({sql}) ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    return df.schema, srows, drows


def _bits(rows):
    """Rows with each double as its exact bit pattern (``-0.0 != 0.0``)."""
    return [tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows]


def _sweep_rows():
    rows = []
    for p, brackets in aqi.BREAKPOINTS.items():
        for lo, hi, _, _ in brackets:
            rows += [{p: v} for v in (lo, hi, (lo + hi) / 2, hi + 0.05)]
        rows += [{p: None}, {p: -1.0}]
    # Every pollutant in the same bracket: max-combine and the
    # first-in-table-order tie break of the dominant pollutant.
    for k in range(max(len(b) for b in aqi.BREAKPOINTS.values())):
        for pick in (lambda b: b[0], lambda b: b[1], lambda b: (b[0] + b[1]) / 2):
            rows.append({
                p: pick(b[k]) for p, b in aqi.BREAKPOINTS.items() if k < len(b)
            })
    return rows


def test_aqi_breakpoint_sweep_bit_identical_on_both_engines(spark):
    rows = _sweep_rows()
    schema, srows, drows = aqi_both(spark, rows)
    for c in _SUBS + ["aqi"]:
        assert schema[c].dataType.simpleString() == "double", c
    assert len(srows) == len(rows)
    for given, s, d in zip(rows, _bits(srows), _bits(drows)):
        assert s == d, f"input {given}: spark {s} != duckdb {d}"
    # The sweep exercises every label and the NULL contract.
    levels = {r[-1] for r in srows}
    assert levels == {label for _, label in aqi.LEVELS} | {aqi.HAZARDOUS, "Unknown"}
    assert {r[-2] for r in srows} == set(aqi.AQI_POLLUTANTS) | {None}
    # A bracket's upper breakpoint maps to its upper index.
    tops = {(p, b[1]): b[3] for p, bs in aqi.BREAKPOINTS.items() for b in bs[:-1]}
    for given, r in zip(rows, srows):
        want = tops.get(next(iter(given.items()))) if len(given) == 1 else None
        if want is not None:
            assert math.isclose(r[_OUT.index("aqi")], want, abs_tol=1e-9), given


# Warm second build at sf0.001, counted from the building thread: 598
# round-trips for aqi_bundle and 766 for aqi_profile, where the F.when/F.lit
# Column chains that the SQL strings replaced made 5,916 and 6,084. Each
# bound is the measured count plus 25%.
_ROUND_TRIP_BOUNDS = {"aqi_bundle": 750, "aqi_profile": 960}


@pytest.mark.parametrize("name", sorted(_ROUND_TRIP_BOUNDS))
def test_aqi_build_py4j_round_trips_bounded(spark, name):
    fn = REGISTRY[name].fn
    fn(spark, SF_SMALL)  # the first build also pays one-off JVM class loading
    _, n = py4j_round_trips(spark, lambda: fn(spark, SF_SMALL))
    assert n <= _ROUND_TRIP_BOUNDS[name], f"{name}: {n} Py4J round-trips"


def test_aqi_module_is_one_sql_implementation():
    """``functions/aqi.py`` imports nothing from pyspark and writes each
    AQI quantity once: the sub-index, and the bundle (overall AQI,
    dominant pollutant, level) over it."""
    tree = ast.parse(Path(aqi.__file__).read_text())
    imported = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    imported += [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    assert not [m for m in imported if m.split(".")[0] == "pyspark"]
    defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert defs == {"_dbl", "sql_subindex", "sql_aqi_bundle"}
