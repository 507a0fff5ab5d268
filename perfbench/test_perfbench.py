"""Self-tests of the benchmark (not part of the repository's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The generators are deterministic, the percentile rule holds, BENCHMARK.json
keeps its contract, a tiny smoke run of each workload prints exactly the
declared metric names and units, and a checkout holding only the benchmark
refuses to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import P90_MIN_SAMPLES, mix_rates, p90  # noqa: E402

SMOKE_LIMIT_S = 120


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _zone_bytes(zone: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(zone):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, zone)] = f.read()
    return out


def test_raw_zone_is_a_function_of_the_seed(tmp_path):
    zones = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        plan = datagen.RawZonePlan(seed=seed, n_locations=20)
        zone = str(tmp_path / label)
        for i in range(3):
            plan.write_hour(zone, i, mtime=1.0 + i)
        plan.write_sentinel(zone, 3)
        zones[label] = _zone_bytes(zone)
    assert zones["a"] == zones["b"]
    assert zones["a"] != zones["c"]


def test_raw_zone_carries_defects_and_counts_keys():
    lines, keys = datagen.RawZonePlan(seed=3, n_locations=200).hour_lines(5)
    rows = [json.loads(line) for line in lines]
    assert any(r["parameter"] == "PM2.5" for r in rows)
    assert any(r["datetime"] in datagen._BAD_DATETIMES for r in rows)
    triples = [(r["location_id"], r["datetime"], r["parameter"]) for r in rows]
    assert len(set(triples)) < len(triples)  # re-extraction duplicates
    assert 0 < len(keys) < len(rows)


def test_star_tables_are_a_function_of_the_seed():
    a = datagen.star_tables(0.001, 42)
    b = datagen.star_tables(0.001, 42)
    c = datagen.star_tables(0.001, 43)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].drop(columns=["embedding"], errors="ignore").equals(
            b[name].drop(columns=["embedding"], errors="ignore")
        )
    assert not a["lineitem"].equals(c["lineitem"])


def test_no_p90_below_100_samples():
    assert p90([1.0] * (P90_MIN_SAMPLES - 1)) is None
    samples = [float(i) for i in range(1, P90_MIN_SAMPLES + 1)]
    assert p90(samples) == pytest.approx(90.1)


def test_mix_rates_weigh_each_kind_once():
    # "b" timed twice as often as "a": the mix still runs each once.
    ops, p50 = mix_rates({"a": [1.0], "b": [3.0, 3.0], "c": [2.0]})
    assert ops == pytest.approx(3 / 6.0)
    assert p50 == 2.0


def test_spec_keeps_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


SMOKES = [("dashboard", 0), ("dashboard", 1), ("ingest", 0), ("ingest", 1), ("analytics", 0)]


@pytest.mark.parametrize("workload,trace", SMOKES)
def test_smoke_run_prints_the_declared_metrics(workload, trace):
    spec = _spec()
    t0 = time.perf_counter()
    proc = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=SMOKE_LIMIT_S,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert time.perf_counter() - t0 < SMOKE_LIMIT_S
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "out", "_work"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        _spec()["command"] + ["--workload", "ingest", "--seed", "1", "--seconds", "1",
                              "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
