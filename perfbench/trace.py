"""Tracing from outside the engine.

Nothing here changes an engine file. Layers are observed at their public
functions and through Spark's own monitoring surfaces:

* ``Tracer.wrap`` replaces a module attribute (and every other module-level
  binding of the same function inside the engine package) with a wrapper
  that records a span: layer, name, start, end, parent span, the operation
  it ran under, and the number of Spark jobs submitted meanwhile (read from
  the DAG scheduler's job counter, which is exact and synchronous).
* ``job_metrics`` sums stage metrics for a range of job ids from the
  AppStatusStore (the store behind the Spark UI), after draining the
  listener bus so the store is complete.
* ``catalyst_phases`` reads a DataFrame's ``QueryExecution.tracker()``.
* ``storage_snapshot`` lists the cached/checkpointed RDDs the store knows.
* ``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event.

Spans stay in memory; ``Tracer.dump`` writes them once, at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import time
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql.streaming import StreamingQueryListener

ENGINE_PACKAGE = "reddit_data_pipeline_engineering_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    extra: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _dag():
    sc = SparkContext._active_spark_context
    return None if sc is None else sc._jsc.sc().dagScheduler()


def next_job_id() -> int | None:
    """Id the next submitted Spark job will get (None without a session)."""
    dag = _dag()
    return None if dag is None else int(dag.nextJobId())


class Tracer:
    """In-memory span recorder. ``op`` names the operation spans belong to
    (one registry query run, one ingest step). Wrapped functions record
    spans only while ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.op: str | None = None
        self.enabled = False

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, layer, name, self.op, time.perf_counter())
        j0 = next_job_id()
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            j1 = next_job_id()
            s.jobs = j1 - j0 if j0 is not None and j1 is not None else 0
            self.spans.append(s)

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        """Record a span around every call of ``module.attr``, wherever in
        the engine package the function is bound. ``after(result)``, run
        once the span has closed, returns a dict stored as the span's
        ``extra``."""
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(layer, attr) as s:
                result = orig(*args, **kwargs)
            if after is not None:
                s.extra = after(result)
            return result

        traced.__wrapped__ = orig
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if name.startswith(ENGINE_PACKAGE) and getattr(m, attr, None) is orig:
                setattr(m, attr, traced)

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the time its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == span.id)
        return span.seconds - kids

    def layer_spans(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [s.__dict__ for s in self.spans]}, f, indent=1
            )
            f.write("\n")


# ---------------------------------------------------------------------------
# Spark monitoring surfaces
# ---------------------------------------------------------------------------


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Block until every queued scheduler event reached the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def job_metrics(spark, first_job: int, end_job: int) -> dict:
    """Stage metrics summed over jobs ``first_job <= id < end_job``.

    Stages shared by several jobs count once; SKIPPED stages (reused
    shuffle output) add no stage or task. Call ``drain_listener_bus`` first.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    d3 = getattr(store, "stageData$default$3")()
    d5 = getattr(store, "stageData$default$5")()
    out = {
        "jobs": max(end_job - first_job, 0),
        "stages": 0,
        "tasks": 0,
        "task_busy_s": 0.0,
        "task_gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
    }
    seen: set[int] = set()
    for jid in range(first_job, end_job):
        try:
            stage_ids = _seq(store.job(jid).stageIds())
        except Exception:  # noqa: BLE001 - job evicted from the store
            continue
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            for st in _seq(store.stageData(sid, False, d3, False, d5)):
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_busy_s"] += st.executorRunTime() / 1000.0
                out["task_gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_records"] += st.shuffleWriteRecords()
                out["spill_bytes"] += st.diskBytesSpilled()
    return out


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning milliseconds of ``df``'s plan.

    Forces the physical plan, so optimization and planning run here once
    more than an untraced run would run them (counted as tracing
    overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def storage_snapshot(spark) -> dict:
    """Cached and checkpointed RDDs held right now, with their footprint."""
    store = spark.sparkContext._jsc.sc().statusStore()
    rdds = _seq(store.rddList(True))
    return {
        "rdds": len(rdds),
        "mem_bytes": sum(r.memoryUsed() for r in rdds),
        "disk_bytes": sum(r.diskUsed() for r in rdds),
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress event (``durationMs`` breakdown,
    input rows, state operators) as plain dicts."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
