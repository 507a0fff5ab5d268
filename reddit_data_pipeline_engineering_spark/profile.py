"""The engine's query profiler: one run record per registry query.

``run(spark, name, sf_dir)`` builds the query, runs one untimed warm-up,
then times ``runs`` fresh build-plus-write passes through the noop sink
and keeps the best. The noop sink computes every output column; a
``count()`` lets Catalyst prune columns the count never reads (a Window
with no surviving output goes, exchange and all), so it can time a plan
that cannot produce its answer.

Work is attributed by Spark job group. Each pass builds under one group
and writes under another, and the record reads the groups' jobs back from
the status tracker and their stages from the AppStatusStore. A group is
set per thread and inherited by the broadcast, subquery and AQE jobs the
thread's query submits, so the record stays exact while other threads
run jobs of their own. Stage totals cover build and action jobs together:
an eager checkpoint's shuffle is part of the query's data movement.
Streaming micro-batches run under their stream's own group, so a
streaming query's ``build_jobs`` counts only its driver-side jobs.

``compiles`` is the number of Janino compilations during the pass, the
change in the count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
histogram. Unlike the job-group fields, that counter is process-wide: it
also counts classes that other threads' queries compile meanwhile. After
``run``'s warm-up a nonzero value on a quiet session means the query's
own classes do not fit the generated-code cache
(``session.CODEGEN_CACHE_ENTRIES``).

``blocks`` is the number of caches and checkpoints the pass made
(``blocks.cache``/``blocks.checkpoint``). Each pass, and the warm-up,
runs in its own ``blocks.scope()``, which releases them when the pass
ends, so every pass builds its own and none outlives the run.

CLI::

    python -m reddit_data_pipeline_engineering_spark.profile \\
        QUERIES SF_DIR [SF_DIR] [--runs N] [--plans DIR] [--json OUT]

``QUERIES`` is a comma list, or ``TOP:k`` for the k slowest queries in
``bench_full.json``. Each (query, scale factor) prints one JSON record;
with two dirs a ratio line (second over first) follows each query.
``--plans`` saves each query's ``explain("formatted")`` text.
"""

from __future__ import annotations

import contextlib
import threading
import time
import uuid

from pyspark.sql import SparkSession

from . import blocks

_STAGE_FIELDS = (
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "shuffle_read_bytes",
)


@contextlib.contextmanager
def _job_group(spark: SparkSession, group: str, description: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        sc._jsc.sc().clearJobGroup()


def _group_jobs(spark: SparkSession, group: str) -> list[int]:
    """Job ids of ``group``. Drains the listener bus that feeds the tracker."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _stage_totals(spark: SparkSession, job_ids: list[int]) -> dict:
    """Stage metrics summed over ``job_ids``. A stage shared by several
    jobs counts once; a SKIPPED one (reused shuffle output) adds no stage
    or task."""
    store = spark.sparkContext._jsc.sc().statusStore()
    d3 = getattr(store, "stageData$default$3")()
    d5 = getattr(store, "stageData$default$5")()
    out = dict.fromkeys(_STAGE_FIELDS, 0)
    seen: set[int] = set()
    for jid in job_ids:
        for sid in _seq(store.job(jid).stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for st in _seq(store.stageData(sid, False, d3, False, d5)):
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_write_records"] += st.shuffleWriteRecords()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
    return out


def measure(spark: SparkSession, fn):
    """``(fn(), {"jobs": ..., stage totals})`` for the Spark jobs ``fn``
    submitted from this thread."""
    group = f"profile-{uuid.uuid4().hex}"
    with _job_group(spark, group, group):
        result = fn()
    jobs = _group_jobs(spark, group)
    return result, {"jobs": len(jobs), **_stage_totals(spark, jobs)}


def jobs_launched(spark: SparkSession, fn):
    """``(fn(), number of Spark jobs it submitted from this thread)``."""
    result, work = measure(spark, fn)
    return result, work["jobs"]


_SENT = threading.local()
_INSTALL_LOCK = threading.Lock()


def py4j_round_trips(spark: SparkSession, fn):
    """``(fn(), number of Py4J commands this thread sent while fn ran)``.

    Counts ``send_command`` calls on the session's gateway client from the
    calling thread only: py4j's finalizer thread also sends object-release
    commands, at times set by Python's garbage collector. The counting
    wrapper is installed once per client and counts per thread, so
    concurrent and nested callers each see their own commands.
    """
    client = spark.sparkContext._gateway._gateway_client
    with _INSTALL_LOCK:
        if not getattr(client, "_counts_per_thread", False):
            send = client.send_command

            def counting(*args, **kwargs):
                if getattr(_SENT, "n", None) is not None:
                    _SENT.n += 1
                return send(*args, **kwargs)

            client.send_command = counting
            client._counts_per_thread = True
    outer = getattr(_SENT, "n", None)
    _SENT.n = 0
    try:
        result = fn()
    finally:
        n = _SENT.n
        _SENT.n = None if outer is None else outer + n
    return result, n


def _compilations(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (all threads)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_pass(spark: SparkSession, name: str, fn, sf_dir: str) -> dict:
    group = f"profile:{name}:{uuid.uuid4().hex[:12]}"
    compiled = _compilations(spark)
    with blocks.scope() as made:
        t0 = time.perf_counter()
        with _job_group(spark, f"{group}/build", group):
            df, build_py4j = py4j_round_trips(
                spark, lambda: fn(spark, sf_dir)
            )
        t1 = time.perf_counter()
        with _job_group(spark, f"{group}/action", group):
            _noop(df)
        t2 = time.perf_counter()
    compiles = _compilations(spark) - compiled
    build = _group_jobs(spark, f"{group}/build")
    action = _group_jobs(spark, f"{group}/action")
    return {
        "wall_s": round(t2 - t0, 3),
        "build_s": round(t1 - t0, 3),
        "build_jobs": len(build),
        "build_py4j": build_py4j,
        "action_jobs": len(action),
        "compiles": compiles,
        "blocks": len(made),
        **_stage_totals(spark, build + action),
    }


def run(spark: SparkSession, name: str, sf_dir: str, runs: int = 2) -> dict:
    """Run record of registry query ``name`` at ``sf_dir``: the best of
    ``runs`` timed build-plus-noop-write passes after one untimed warm-up.

    A single pass can absorb a long stop-the-world GC pause, so the best
    of two is the default. The warm-up and each pass run in their own
    ``blocks.scope()``, so the caches and checkpoints a pass made are
    released when it ends and the next pass builds its own. A JVM
    ``System.gc()`` after the query, outside the timed region, lets the
    ContextCleaner remove the passes' shuffle files before the next
    query starts.
    """
    from .plans.queries import REGISTRY, queries

    queries()
    fn = REGISTRY[name].fn
    with blocks.scope():
        _noop(fn(spark, sf_dir))
    best = min(
        (_timed_pass(spark, name, fn, sf_dir) for _ in range(runs)),
        key=lambda rec: rec["wall_s"],
    )
    spark._jvm.System.gc()
    return best


_RATIOS = {
    "wall_ratio": "wall_s",
    "shuffle_bytes_ratio": "shuffle_write_bytes",
    "shuffle_records_ratio": "shuffle_write_records",
    "stage_ratio": "stages",
}


def _ratios(first: dict, second: dict) -> dict:
    """Second record over first (None where the first is 0)."""
    return {
        ratio: round(second[k] / first[k], 2) if first[k] else None
        for ratio, k in _RATIOS.items()
    }


def main() -> None:
    import argparse
    import json
    import os

    from .plans.queries import REGISTRY, queries
    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", help="q1,q2,... or TOP:k from bench_full.json")
    ap.add_argument("sf_dirs", nargs="+", metavar="SF_DIR")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", help="save explain('formatted') text here")
    ap.add_argument("--json", dest="json_out", help="write all records here")
    args = ap.parse_args()
    if len(args.sf_dirs) > 2:
        ap.error("at most two SF_DIRs")

    queries()
    if args.queries.startswith("TOP:"):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo, "bench_full.json")) as f:
            timings = json.load(f)["queries"]
        names = sorted(timings, key=timings.get, reverse=True)
        names = names[: int(args.queries[4:])]
    else:
        names = args.queries.split(",")
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    labels = [os.path.basename(d.rstrip("/")) for d in args.sf_dirs]
    if len(set(labels)) < len(labels):
        labels = args.sf_dirs

    spark = get_spark(app_name="rdpe-profile")
    out: dict[str, dict] = {}
    for label, sf_dir in zip(labels, args.sf_dirs):
        for name in names:
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                qe = REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution()
                text = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
                path = os.path.join(args.plans, f"{name}_{label}.txt")
                with open(path, "w") as f:
                    f.write(text + "\n")
            rec = run(spark, name, sf_dir, args.runs)
            out.setdefault(name, {})[label] = rec
            print(json.dumps({"query": name, "sf": label, **rec}), flush=True)
    if len(labels) == 2:
        for name, by_sf in out.items():
            by_sf.update(_ratios(by_sf[labels[0]], by_sf[labels[1]]))
            line = {k: v for k, v in by_sf.items() if k not in labels}
            print(json.dumps({"query": name, **line}), flush=True)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
