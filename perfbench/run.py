#!/usr/bin/env python3
"""The repository's benchmark of record.

    python3 perfbench/run.py --workload {dashboard,ingest,analytics}
                             --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. One invocation is one fresh process and one
SparkSession on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process
may use); the run fails before measuring if the master's
``defaultParallelism`` differs from that number.

A run generates its inputs from the seed, sets up once (engine imports,
session start, input opens: ``setup_s``), checks every output it can
against an independent answer in an untimed pass that also warms the JVM,
then measures closed-loop operations for ``--seconds``.

Output: one ``name = value unit`` line per metric, one JSON line with the
full report (host, versions, checks, phases, per-layer numbers and tracing
overhead when traced), and as the LAST line a JSON object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The full report (with the traced run's per-query ledger) and
the traced run's spans are also written to ``perfbench/out/``. A traced run
reports its tracing overhead against the untraced report of the same
workload and seed in ``perfbench/out/``, when there is one.

Everything else the run writes lives under ``perfbench/_work/``, removed at
the end together with Spark's local dir and the JVM's temp dir. Exit codes:
0 all checks passed, 1 a check failed, 2 the engine cannot be imported,
3 parallelism mismatch.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK_ROOT = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "out")
ENGINE = "reddit_data_pipeline_engineering_spark"

SF = 0.001  # registry tables: lineitem 6,000 rows, events 1,000
TABLE_SEED = 42  # every seed checks the same oracle answers; --seed orders passes
SMOKE_SF = 0.001
SMOKE_QUERIES = 3
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}
DRIVER_MEMORY = "2g"  # the inputs are small; a smaller heap leaves the host room


def rss_mb(pid: int, field: str = "VmRSS") -> float:
    """Resident set size (``VmRSS``) or its peak (``VmHWM``) of ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class RssSampler:
    """Largest summed RSS of ``pids`` while the ``with`` block runs, read
    every ``period_s``. Peak RSS over the timed phase only: the untimed
    check (DuckDB, collects) has a footprint of its own."""

    def __init__(self, pids: list[int], period_s: float = 0.1) -> None:
        self.pids, self.period_s, self.peak_mb = pids, period_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "analytics", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and three queries: a self-test, not a measurement")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp and spill location of this process, Spark and the
    JVM at ``work``, and make the engine importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["RDPE_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["RDPE_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)  # Spark's warehouse and any cwd-relative file land here


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_wraps(tracer) -> None:
    """Span every public layer function the workloads reach."""
    from reddit_data_pipeline_engineering_spark import (
        catalog,
        maintenance,
        pipeline,
        session,
    )
    from reddit_data_pipeline_engineering_spark.plans import marts
    from reddit_data_pipeline_engineering_spark.sources import raw_zone, tables
    from reddit_data_pipeline_engineering_spark.streaming import kernel

    from perfbench.trace import catalyst_phases

    tracer.wrap(session, "get_spark", "session")
    tracer.wrap(tables, "load_table", "tables")
    tracer.wrap(raw_zone, "read_raw_zone", "raw_zone")
    tracer.wrap(maintenance, "read_raw_zone_incremental", "raw_zone")
    tracer.wrap(pipeline, "run_pipeline", "pipeline")
    tracer.wrap(pipeline, "transform_raw", "pipeline", after=catalyst_phases)
    tracer.wrap(marts, "build_marts", "plans")
    tracer.wrap(marts, "write_marts", "marts")
    tracer.wrap(catalog, "register_parquet_table", "catalog")
    tracer.wrap(catalog, "get_table_count", "catalog")
    for fn in ("new_raw_files", "merge_upsert", "commit_processed"):
        tracer.wrap(maintenance, fn, "maintenance")
    for fn in ("read_raw_stream", "streaming_marts", "write_marts_stream", "run_scaled_drain"):
        tracer.wrap(kernel, fn, "streaming")


def _phase(name: str, seconds: float) -> None:
    print(f"perfbench: {name} {seconds:.2f} s", file=sys.stderr, flush=True)


def make_workload(args, work: str, cpus: int):
    from perfbench import datagen, workloads

    if args.workload == "ingest":
        size = workloads.SMOKE_INGEST if args.smoke else workloads.INGEST
        return workloads.IngestWorkload(os.path.join(work, "ingest"), args.seed, cpus, size)
    names = workloads.DASHBOARD if args.workload == "dashboard" else workloads.ANALYTICS
    if args.smoke:
        names = names[:SMOKE_QUERIES]
    sf_dir = os.path.join(work, "tables")
    datagen.write_star_tables(sf_dir, SMOKE_SF if args.smoke else SF, TABLE_SEED)
    return workloads.RegistryWorkload(names, sf_dir, args.seed, cpus)


def measure(args, work: str, cpus: int) -> tuple[dict, list, object]:
    """Generate, set up, check and measure; returns (report, ledger, tracer)."""
    from perfbench.trace import Tracer, jvm_pid
    from perfbench.workloads import Outcome, mix_rates

    load_start = os.getloadavg()
    phases = {}
    t0 = time.perf_counter()
    wl = make_workload(args, work, cpus)
    phases["input_gen_s"] = time.perf_counter() - t0
    _phase("inputs", phases["input_gen_s"])

    tracer = Tracer() if args.trace else None
    t0 = time.perf_counter()
    if tracer is not None:
        tracer.enabled = True
        install_wraps(tracer)
    from reddit_data_pipeline_engineering_spark import session

    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=SPARK_CONF)
    parallelism = spark.sparkContext.defaultParallelism
    if parallelism != cpus:
        shutdown_spark(spark)
        raise SystemExit(
            f"perfbench: defaultParallelism {parallelism} != "
            f"SPARK_GRAFT_CPUS {cpus}; refusing to label the run"
        )
    wl.open_inputs(spark)
    setup_s = phases["setup_s"] = time.perf_counter() - t0
    _phase("setup", setup_s)

    out = Outcome()
    if tracer is not None:
        tracer.enabled = False  # the check pass is not measured
    t0 = time.perf_counter()
    wl.check(spark, out)
    phases["check_s"] = time.perf_counter() - t0
    _phase("check", phases["check_s"])
    if tracer is not None:
        tracer.enabled = True

    pids = [os.getpid(), jvm_pid(spark)]
    t0 = time.perf_counter()
    with RssSampler(pids) as rss:
        wl.run(spark, args.seconds, tracer, out)
    phases["measure_s"] = time.perf_counter() - t0
    _phase("measure", phases["measure_s"])

    memory = {"measured_peak_rss_mb": rss.peak_mb,
              "process_peak_rss_mb": sum(rss_mb(p, "VmHWM") for p in pids)}
    host = {
        "SPARK_GRAFT_CPUS": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": parallelism,
        "load_avg_start": load_start,
        "load_avg_end": os.getloadavg(),
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
    }
    shutdown_spark(spark)

    ops_per_s, latency_p50_s = mix_rates(out.latencies)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
        "latency_p50_s": latency_p50_s,
        "peak_rss_mb": rss.peak_mb,
    }
    own = {
        "error_rate": (out.failed / out.attempted if out.attempted else 1.0, "ratio"),
        **out.own,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "correct": out.failed == 0 and bool(out.latencies),
        "attempted": out.attempted,
        "failed": out.failed,
        "failures": out.failures,
        "end_to_end": e2e,
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in own.items()},
        "phases": phases,
        "memory": memory,
        "host": host,
        "inputs": input_sizes(args, wl),
        "latencies": out.latencies,
    }
    if tracer is not None:
        starts = [s.seconds for s in tracer.layer_spans("session", "get_spark")]
        report["per_layer"] = {**out.layers, "session.start_s": sum(starts)}
        report["tracing_overhead"] = overhead(report)
    return report, out.ledger, tracer


def input_sizes(args, wl) -> dict:
    if args.workload == "ingest":
        return {"ingest": wl.size.__dict__}
    return {"sf": SMOKE_SF if args.smoke else SF, "table_seed": TABLE_SEED,
            "queries": len(wl.names)}


def _stem(workload: str, seed: int, trace: int, smoke: bool) -> str:
    return os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}" + ("-smoke" if smoke else ""))


def overhead(traced: dict) -> dict:
    """Traced minus untraced value of every end-to-end and workload metric,
    against the untraced report of the same workload and seed."""
    path = _stem(traced["workload"], traced["seed"], 0, traced["smoke"]) + ".json"
    try:
        with open(path) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        return {"note": f"no untraced report at {os.path.relpath(path, ROOT)}"}
    rows = {}
    pairs = [(traced["end_to_end"], untraced["end_to_end"])] + [
        ({k: v["value"] for k, v in traced["workload_metrics"].items()},
         {k: v["value"] for k, v in untraced["workload_metrics"].items()})
    ]
    for t, u in pairs:
        for name, value in t.items():
            base = u.get(name)
            if isinstance(value, (int, float)) and isinstance(base, (int, float)):
                rows[name] = {"untraced": base, "traced": value, "overhead": value - base}
    return rows


def contract_line(report: dict, spec: dict) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json declares for
    this trace mode. A per-layer metric of a layer the workload never calls
    reads 0."""
    if report["trace"]:
        values, declared = report["per_layer"], spec["per_layer"]
    else:
        values, declared = report["end_to_end"], spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    return {
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def print_metrics(report: dict, spec: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in report["end_to_end"].items():
        print(f"{name} = {value} {units[name]}")
    for name, m in report["workload_metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    for name, value in report.get("per_layer", {}).items():
        print(f"{name} = {value} {units[name]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        with open(SPEC) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    missing = [m for m in ("pyspark", "duckdb", ENGINE) if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: cannot run here, missing {missing}", file=sys.stderr)
        return 2
    cpus = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        isolate(work)
        report, ledger, tracer = measure(args, work, cpus)
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 3
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)

    os.makedirs(OUT, exist_ok=True)
    stem = _stem(args.workload, args.seed, args.trace, args.smoke)
    with open(stem + ".json", "w") as f:
        json.dump({**report, "ledger": ledger}, f, indent=1, default=str)
        f.write("\n")
    if tracer is not None:
        tracer.dump(stem + "-spans.json", {"workload": args.workload, "seed": args.seed})

    print_metrics(report, spec)
    for failure in report["failures"]:
        print(f"FAILED {failure}", file=sys.stderr)
    print(json.dumps(report, default=str))
    print(json.dumps(contract_line(report, spec)))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
