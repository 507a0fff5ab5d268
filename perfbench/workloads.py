"""The benchmark's workloads: closed loops, one client, one SparkSession.

``RegistryWorkload`` (``dashboard``, ``analytics``) runs registry queries:
one untimed pass checks every query against its DuckDB oracle (and warms
the JVM), then timed passes in seed-shuffled order build each query and
force it through the ``noop`` sink. ``count()`` is never used: it lets
Catalyst prune Window stages whose columns it does not read.

``IngestWorkload`` runs the write path on a generated raw zone, in cycles:
a backfill through ``pipeline.run_pipeline``, hourly increments through the
bookmark reader and ``maintenance.merge_upsert``, and the
``streaming.kernel`` twin draining the increments one file per trigger. An
untimed, checked cycle of the same size warms the JVM first.

Each workload returns the latencies of its timed operations, the checks it
made, its own end-to-end values, and, when traced, per-layer metrics
computed from the tracer's spans and Spark's status store.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench import trace as tr

DASHBOARD = (
    # the 19 bench queries of plans/queries.py
    "active_semijoin", "aqi_bundle", "conditional_counts", "daily_topk",
    "date_partition_rollup", "enrich_metadata", "flagship_top_locations",
    "inactive_antijoin", "marts_kernel", "minmax_profile", "normalize_group",
    "null_audit", "pivot_wide", "pricing_summary", "running_sum", "sessionize",
    "set_ops", "topk_orders", "window_dedup",
    # the 9 bench-tagged TPC-H shapes
    "forecast_revenue", "large_volume_customers", "local_supplier_volume",
    "returned_item_losses", "shipping_priority", "market_share",
    "nation_top_supplier_scalar", "supplier_blame_exists", "waiting_suppliers",
    # profile, rollup, fill and lag queries
    "aqi_profile", "forward_fill", "lag_lead_delta", "sql_surface",
    "time_bucket_rollup", "rollup_orders", "exact_dedup",
)
ANALYTICS = (
    "lpa_communities", "local_clustering_hist", "equi_depth_histogram",
    "pagerank_topk", "ppr_topk", "pq_topk", "ivfpq_topk", "kcore_peel_counts",
    "bfs_reachability", "sssp_weighted_hist", "lsh_quality_eval",
    "triangle_count_sampled",
)

MB = 1024 * 1024
P90_MIN_SAMPLES = 100  # p90 needs ten samples beyond it


def p90(samples: list[float]) -> float | None:
    """90th percentile, or None below ``P90_MIN_SAMPLES`` samples."""
    if len(samples) < P90_MIN_SAMPLES:
        return None
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def mix_rates(latencies: dict[str, list[float]]) -> tuple[float, float]:
    """(operations per second, median latency) of a mix that runs each
    operation kind once: a run that times some queries one time more than
    others still reports the same mix."""
    means = [sum(v) / len(v) for v in latencies.values() if v]
    medians = [statistics.median(v) for v in latencies.values() if v]
    if not means:
        return 0.0, 0.0
    return len(means) / sum(means), statistics.median(medians)


@dataclass
class Outcome:
    """What one workload run measured."""

    # Timed operations: kind (query name, ingest step) -> latencies.
    latencies: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # Values only this workload has, as name -> (value, unit).
    own: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)
    ledger: list[dict] = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _tree_files(path: str) -> dict[str, int]:
    """Data files (no hidden or marker files) under ``path`` -> size."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _exec_layers(rows: list[dict], cores: int) -> dict:
    """Execution-layer metrics, per timed operation."""
    busy = sum(r["exec"]["task_busy_s"] for r in rows)
    wall = sum(r["action_s"] for r in rows)
    return {
        "exec.action_s": _mean([r["action_s"] for r in rows]),
        "exec.jobs": _mean([r["exec"]["jobs"] for r in rows]),
        "exec.stages": _mean([r["exec"]["stages"] for r in rows]),
        "exec.tasks": _mean([r["exec"]["tasks"] for r in rows]),
        "exec.task_busy_s": _mean([r["exec"]["task_busy_s"] for r in rows]),
        "exec.gc_s": _mean([r["gc_s"] for r in rows]),
        "exec.shuffle_write_mb": _mean(
            [r["exec"]["shuffle_write_bytes"] / MB for r in rows]
        ),
        "exec.shuffle_records": _mean([r["exec"]["shuffle_records"] for r in rows]),
        "exec.spill_mb": _mean([r["exec"]["spill_bytes"] / MB for r in rows]),
        "exec.core_util": busy / (wall * cores) if wall else 0.0,
    }


def _storage_layers(spark) -> dict:
    snap = tr.storage_snapshot(spark)
    return {
        "storage.rdds_live_end": snap["rdds"],
        "storage.mem_mb_end": snap["mem_bytes"] / MB,
        "storage.disk_mb_end": snap["disk_bytes"] / MB,
    }


class _Op:
    """Bracket one traced operation: job ids, JVM GC time, job groups."""

    def __init__(self, spark, tracer: tr.Tracer, op_id: str) -> None:
        self.spark, self.tracer, self.op_id = spark, tracer, op_id

    def __enter__(self):
        self.tracer.op = self.op_id
        self.j0 = tr.next_job_id()
        self.gc0 = tr.jvm_gc_seconds(self.spark)
        return self

    def group(self, phase: str) -> int:
        """Start ``phase`` (build/action) and return the first job id of it."""
        self.spark.sparkContext.setJobGroup(f"{self.op_id}/{phase}", self.op_id)
        return tr.next_job_id()

    def __exit__(self, *exc) -> None:
        self.j_end = tr.next_job_id()
        self.gc_s = tr.jvm_gc_seconds(self.spark) - self.gc0
        self.spark.sparkContext._jsc.sc().clearJobGroup()
        self.tracer.op = None
        tr.drain_listener_bus(self.spark)


# ---------------------------------------------------------------------------
# Registry workloads: dashboard, analytics
# ---------------------------------------------------------------------------


class RegistryWorkload:
    def __init__(self, names, sf_dir: str, seed: int, cores: int) -> None:
        self.names = list(names)
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.cores = cores

    def open_inputs(self, spark) -> None:
        from reddit_data_pipeline_engineering_spark.plans.queries import queries
        from reddit_data_pipeline_engineering_spark.sources.tables import (
            TABLE_NAMES,
            load_table,
        )

        queries()  # imports every registry module, as a dashboard user pays
        for t in TABLE_NAMES:
            load_table(spark, self.sf_dir, t)

    def check(self, spark, out: Outcome) -> None:
        """Every query once, untimed, against its DuckDB oracle.

        The compares run on one thread per core, as the repository's parity
        suite runs them; a query that fails there is compared again
        serially, and that result counts."""
        from reddit_data_pipeline_engineering_spark import oracle
        from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY

        local = threading.local()
        cons = []

        def compare(name):
            if not hasattr(local, "con"):
                local.con = oracle.duckdb_connection(self.sf_dir, threads=1)
                cons.append(local.con)
            spec = REGISTRY[name]
            try:
                res = oracle.compare(name, spark, self.sf_dir, spec.fn, spec.oracle,
                                     con=local.con)
                return res.ok, res.detail
            except Exception:  # noqa: BLE001 - one broken query must not end the run
                return False, traceback.format_exc(limit=3)

        try:
            with ThreadPoolExecutor(max_workers=self.cores) as ex:
                results = dict(zip(self.names, ex.map(compare, self.names)))
            for name in self.names:
                ok, detail = results[name]
                if not ok:
                    ok, detail = compare(name)
                out.check(f"oracle {name}", ok, detail)
        finally:
            for con in cons:
                con.close()

    def run(self, spark, seconds: float, tracer: tr.Tracer | None, out: Outcome) -> None:
        """Seed-shuffled passes over the queries until ``seconds`` elapse."""
        from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY

        rows: list[dict] = []
        t_end = time.perf_counter() + seconds
        pass_no = 0
        while time.perf_counter() < t_end:
            order = self.names[:]
            self.rng.shuffle(order)
            for name in order:
                if time.perf_counter() >= t_end:
                    break
                row = self._timed_op(spark, REGISTRY[name].fn, name, pass_no, tracer, out)
                if row is not None:
                    rows.append(row)
                    out.latencies.setdefault(name, []).append(row["latency_s"])
            pass_no += 1
        lat = [x for v in out.latencies.values() for x in v]
        out.own["latency_p90_s"] = (p90(lat), "s")
        out.own["samples"] = (len(lat), "count")
        if tracer is not None:
            out.ledger = rows
            out.layers = self._layers(spark, rows)

    def _timed_op(self, spark, fn, name, pass_no, tracer, out: Outcome) -> dict | None:
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                row = {"query": name, "pass": pass_no, "build_s": t1 - t0,
                       "action_s": t2 - t1, "latency_s": t2 - t0}
            else:
                row = self._traced_op(spark, fn, name, pass_no, tracer)
        except Exception:  # noqa: BLE001 - counted as a failed operation
            out.check(name, False, traceback.format_exc(limit=3))
            return None
        out.check(name, True)
        return row

    def _traced_op(self, spark, fn, name, pass_no, tracer) -> dict:
        with _Op(spark, tracer, f"{name}#{pass_no}") as op:
            j_build = op.group("build")
            t0 = time.perf_counter()
            with tracer.span("plans", name):
                df = fn(spark, self.sf_dir)
            t1 = time.perf_counter()
            catalyst = tr.catalyst_phases(df)
            j_action = op.group("action")
            t2 = time.perf_counter()
            with tracer.span("exec", name):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        loads = [s for s in tracer.layer_spans("tables") if s.op == op.op_id]
        return {
            "query": name,
            "pass": pass_no,
            "build_s": t1 - t0,
            "catalyst_s": t2 - t1,
            "action_s": t3 - t2,
            "latency_s": t3 - t0,
            "catalyst_ms": catalyst,
            "build": tr.job_metrics(spark, j_build, j_action),
            "exec": tr.job_metrics(spark, j_action, op.j_end),
            "gc_s": op.gc_s,
            "loads": {
                "calls": len(loads),
                "s": sum(s.seconds for s in loads),
                "jobs": sum(s.jobs for s in loads),
            },
            "storage_end": tr.storage_snapshot(spark),
        }

    def _layers(self, spark, rows) -> dict:
        # Drift: a query's last timed latency over its first, for every
        # query the run timed at least twice.
        by_query: dict[str, list[float]] = {}
        for r in rows:
            by_query.setdefault(r["query"], []).append(r["latency_s"])
        drift = [t[-1] / t[0] for t in by_query.values() if len(t) > 1 and t[0]]
        layers = {
            "tables.load_calls": _mean([r["loads"]["calls"] for r in rows]),
            "tables.load_s": _mean([r["loads"]["s"] for r in rows]),
            "tables.load_jobs": _mean([r["loads"]["jobs"] for r in rows]),
            "plans.build_s": _mean([r["build_s"] for r in rows]),
            "plans.build_jobs": _mean([r["build"]["jobs"] for r in rows]),
            "plans.build_stages": _mean([r["build"]["stages"] for r in rows]),
            "catalyst.analysis_ms": _mean([r["catalyst_ms"]["analysis"] for r in rows]),
            "catalyst.optimization_ms": _mean([r["catalyst_ms"]["optimization"] for r in rows]),
            "catalyst.planning_ms": _mean([r["catalyst_ms"]["planning"] for r in rows]),
            "storage.drift_ratio": _median(drift),
        }
        layers.update(_exec_layers(rows, self.cores))
        layers.update(_storage_layers(spark))
        return layers


# ---------------------------------------------------------------------------
# Ingest workload
# ---------------------------------------------------------------------------

MERGE_KEYS = ["location_id", "datetime"]
PARTITIONS = ["year", "month", "day"]
TABLE = "marts_bench"
_MTIME0 = 1_700_000_000.0  # file arrival clock: one second per landed hour


@dataclass
class IngestSize:
    """Whole backfill days (the stream drains the next UTC day, so the
    backfill must end on a day boundary), hourly increments per cycle, and
    stations."""

    backfill_days: int
    hours: int
    locations: int


INGEST = IngestSize(backfill_days=1, hours=2, locations=200)
SMOKE_INGEST = IngestSize(backfill_days=1, hours=1, locations=30)


@dataclass
class Zone:
    """One cycle's directory: a raw zone with its backfill landed, and what
    the generator knows about it."""

    dir: str
    plan: datagen.RawZonePlan
    size: IngestSize
    keys: set
    rows: int
    bytes: int

    @property
    def path(self) -> str:
        return os.path.join(self.dir, "zone")

    @property
    def tag(self) -> str:
        return os.path.basename(self.dir)


class IngestWorkload:
    """Backfill, hourly merges and a streaming drain over a seeded raw zone.

    Each cycle works in a fresh directory: ``size.backfill_days`` of hourly
    files land (untimed), then the cycle's timed operations run, and each
    hourly increment lands one more file in the next UTC day."""

    def __init__(self, work: str, seed: int, cores: int, size: IngestSize) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.size = size
        self.n_zones = 0
        self.first = self._land(size)

    def _land(self, size: IngestSize) -> Zone:
        """A fresh cycle directory with the backfill zone in place."""
        d = os.path.join(self.work, f"c{self.n_zones}")
        self.n_zones += 1
        plan = datagen.RawZonePlan(seed=self.seed, n_locations=size.locations)
        zone = Zone(d, plan, size, set(), 0, 0)
        for i in range(24 * size.backfill_days):
            _, keys, n = plan.write_hour(zone.path, i, mtime=_MTIME0 + i)
            zone.keys |= keys
            zone.rows += n
        zone.bytes = sum(_tree_files(zone.path).values())
        return zone

    def open_inputs(self, spark) -> None:
        from reddit_data_pipeline_engineering_spark import catalog, maintenance, pipeline  # noqa: F401
        from reddit_data_pipeline_engineering_spark.sources.raw_zone import read_raw_zone
        from reddit_data_pipeline_engineering_spark.streaming import kernel  # noqa: F401

        read_raw_zone(spark, self.first.path)

    def check(self, spark, out: Outcome) -> None:
        """One untimed cycle; its checks count, its times do not. (After a
        smaller warm-up cycle the first timed cycle ran up to 50%
        slower than the later ones.)"""
        zone = self._land(self.size)
        try:
            self._cycle(spark, zone, out, None, timed=False)
        except Exception:  # noqa: BLE001 - the run reports it
            out.check(f"ingest {zone.tag}", False, traceback.format_exc(limit=3))

    def run(self, spark, seconds: float, tracer: tr.Tracer | None, out: Outcome) -> None:
        """Whole cycles until ``seconds`` elapse; the first uses the zone
        landed before set-up."""
        cycles: list[dict] = []
        zone = self.first
        t_end = time.perf_counter() + seconds
        while True:
            try:
                cycles.append(self._cycle(spark, zone, out, tracer, timed=True))
            except Exception:  # noqa: BLE001 - the run reports it and stops
                out.check(f"ingest {zone.tag}", False, traceback.format_exc(limit=3))
                break
            if time.perf_counter() >= t_end:
                break
            zone = self._land(self.size)
        if not cycles:
            return
        hourly = [h for c in cycles for h in c["hourly"]]
        out.own = {
            "etl_rows_per_s": (_median([c["etl_rows_per_s"] for c in cycles]), "rows/s"),
            "hourly_p50_s": (_median(hourly), "s"),
            "stream_rows_per_s": (_median([c["stream_rows_per_s"] for c in cycles]), "rows/s"),
            "stored_bytes_per_raw_byte": (
                _median([c["stored_bytes_per_raw_byte"] for c in cycles]), "ratio"
            ),
            "cycles": (len(cycles), "count"),
        }
        if tracer is not None:
            out.layers = self._layers(spark, tracer, cycles, out.ledger)

    def _op(self, spark, tracer, op_id: str, body):
        """Run ``body()`` as one timed operation; returns (seconds, result,
        ledger row or None)."""
        if tracer is None:
            t0 = time.perf_counter()
            res = body()
            return time.perf_counter() - t0, res, None
        with _Op(spark, tracer, op_id) as op:
            j0 = op.group("action")
            t0 = time.perf_counter()
            with tracer.span("ingest", op_id):
                res = body()
            dt = time.perf_counter() - t0
        row = {"op": op_id, "latency_s": dt, "action_s": dt, "gc_s": op.gc_s,
               "exec": tr.job_metrics(spark, j0, op.j_end)}
        return dt, res, row

    def _cycle(self, spark, zone: Zone, out: Outcome, tracer, timed: bool) -> dict:
        """One backfill, ``zone.size.hours`` increments and a stream drain;
        checks every row count against the generator's keys. Only a
        ``timed`` cycle adds to ``out.latencies`` and ``out.ledger``."""
        from reddit_data_pipeline_engineering_spark import catalog, maintenance, pipeline

        raw, plan, size, tag = zone.path, zone.plan, zone.size, zone.tag
        ledger = os.path.join(zone.dir, "ledger")
        marts = os.path.join(zone.dir, "marts")
        lat: dict[str, list[float]] = {}
        res_cycle: dict = {"hourly": []}

        def op(name, body):
            dt, res, row = self._op(spark, tracer, f"{tag}/{name}", body)
            out.check(f"{tag}/{name}", True)
            lat.setdefault(name.split("-")[0], []).append(dt)
            if row is not None and timed:
                out.ledger.append(row)
            return dt, res

        def backfill():
            files = maintenance.new_raw_files(spark, raw, ledger)
            res = pipeline.run_pipeline(spark, raw, marts, table=TABLE)
            maintenance.commit_processed(spark, ledger, files, res.rows_written, "backfill")
            return res

        dt, res = op("backfill", backfill)
        res_cycle["etl_rows_per_s"] = zone.rows / dt
        want = len(zone.keys)
        out.check(f"{tag} backfill rows_written", res.rows_written == want,
                  f"{res.rows_written} != {want}")
        out.check(f"{tag} backfill catalog count", res.validation_counts.get(TABLE) == want,
                  f"{res.validation_counts} != {want}")

        first_hour = 24 * size.backfill_days
        keys = set(zone.keys)
        stream_keys: set = set()
        stream_rows = new_raw = rewritten = 0
        for h in range(size.hours):
            i = first_hour + h
            path, k, n = plan.write_hour(raw, i, mtime=_MTIME0 + i)
            keys |= k
            stream_keys |= k
            stream_rows += n
            new_raw += os.path.getsize(path)
            before = _tree_files(marts)

            def increment(h=h):
                df, _, commit = maintenance.read_raw_zone_incremental(spark, raw, ledger)
                wide = pipeline.transform_raw(df)
                n_merged = maintenance.merge_upsert(
                    spark, marts, wide, keys=MERGE_KEYS, partition_cols=PARTITIONS
                )
                commit(n_merged, f"hour-{h}")

            dt, _ = op(f"hour-{h}", increment)
            res_cycle["hourly"].append(dt)
            after = _tree_files(marts)
            rewritten += sum(s for p, s in after.items() if before.get(p) != s)
        res_cycle["new_raw_bytes"], res_cycle["rewritten_bytes"] = new_raw, rewritten

        catalog.register_parquet_table(spark, TABLE, marts, partition_cols=tuple(PARTITIONS))
        got = catalog.get_table_count(spark, TABLE)
        out.check(f"{tag} marts count after merges", got == len(keys), f"{got} != {len(keys)}")
        marts_files = _tree_files(marts)
        res_cycle["marts_files"] = len(marts_files)
        res_cycle["marts_bytes"] = sum(marts_files.values())
        res_cycle["stored_bytes_per_raw_byte"] = res_cycle["marts_bytes"] / (
            zone.bytes + new_raw
        )

        progress = tr.ProgressRecorder() if tracer is not None else None
        if progress is not None:
            spark.streams.addListener(progress)
        try:
            source = os.path.join(raw, plan.hour_at(first_hour).strftime("%Y/%m/%d"))
            end = first_hour + size.hours
            plan.write_sentinel(source, end, mtime=_MTIME0 + end)
            sink = os.path.join(zone.dir, "stream_marts")
            dt, _ = op("stream", lambda: self._drain(spark, zone.dir, source, sink))
            res_cycle["stream_rows_per_s"] = stream_rows / dt
            got = spark.read.parquet(sink).count()
            out.check(f"{tag} stream sink rows", got == len(stream_keys),
                      f"{got} != {len(stream_keys)}")
        finally:
            if progress is not None:
                tr.drain_listener_bus(spark)
                spark.streams.removeListener(progress)
        res_cycle["progress"] = progress.progress if progress is not None else []
        if timed:
            for kind, v in lat.items():
                out.latencies.setdefault(kind, []).extend(v)
        return res_cycle

    def _drain(self, spark, cycle_dir: str, source: str, sink: str) -> None:
        from reddit_data_pipeline_engineering_spark.config import POLLUTANTS
        from reddit_data_pipeline_engineering_spark.functions.datetime_fns import (
            drop_invalid_datetime,
        )
        from reddit_data_pipeline_engineering_spark.functions.text import normalize_token
        from reddit_data_pipeline_engineering_spark.pipeline import build_location_dim
        from reddit_data_pipeline_engineering_spark.schemas import RAW_MEASUREMENT
        from reddit_data_pipeline_engineering_spark.sources.raw_zone import read_raw_zone
        from reddit_data_pipeline_engineering_spark.streaming import kernel

        dim = build_location_dim(read_raw_zone(spark, os.path.join(cycle_dir, "zone")))
        stream = kernel.read_raw_stream(spark, source, RAW_MEASUREMENT, max_files_per_trigger=1)
        stream = drop_invalid_datetime(stream, "datetime", "ts").withColumn(
            "parameter", normalize_token("parameter")
        )
        wide = kernel.streaming_marts(
            stream,
            dim,
            entity_col="location_id",
            ts_col="ts",
            param_col="parameter",
            value_col="value",
            param_values=list(POLLUTANTS),
            dim_key="location_id",
            dim_cols={"city_name": "city_name", "country_code": "country_code"},
        )
        ckpt = os.path.join(cycle_dir, "stream_ckpt")
        kernel.run_scaled_drain(
            spark, source, lambda: kernel.write_marts_stream(wide, sink, ckpt)
        )

    def _layers(self, spark, tracer, cycles: list[dict], rows: list[dict]) -> dict:
        """Per-layer metrics, per measured cycle (or per hourly increment
        for ``maintenance``)."""
        n = len(cycles)
        n_hours = sum(len(c["hourly"]) for c in cycles)

        def total(layer, name=None, self_time=False):
            spans = tracer.layer_spans(layer, name)
            return sum(tracer.self_seconds(s) if self_time else s.seconds for s in spans)

        def per_hour(name):
            return total("maintenance", name) / n_hours if n_hours else 0.0

        triggers = [p for c in cycles for p in c["progress"]]
        dur = [p.get("durationMs", {}) for p in triggers]
        last_state = [
            s for c in cycles if c["progress"] for s in c["progress"][-1].get("stateOperators", [])
        ]
        catalyst = [s.extra for s in tracer.layer_spans("pipeline", "transform_raw") if s.extra]
        new_raw = sum(c["new_raw_bytes"] for c in cycles)
        drift = [c["hourly"][-1] / c["hourly"][0] for c in cycles if c["hourly"]]
        layers = {
            "plans.build_s": total("plans", "build_marts") / n,
            "plans.build_jobs": sum(s.jobs for s in tracer.layer_spans("plans", "build_marts")) / n,
            "catalyst.analysis_ms": _mean([c["analysis"] for c in catalyst]),
            "catalyst.optimization_ms": _mean([c["optimization"] for c in catalyst]),
            "catalyst.planning_ms": _mean([c["planning"] for c in catalyst]),
            "storage.drift_ratio": _median(drift),
            "raw_zone.read_s": total("raw_zone", self_time=True) / n,
            "pipeline.transform_s": total("pipeline", "transform_raw", self_time=True) / n,
            "marts.write_s": total("marts", "write_marts") / n,
            "marts.files_written": _mean([c["marts_files"] for c in cycles]),
            "marts.bytes_written": _mean([c["marts_bytes"] for c in cycles]),
            "catalog.register_s": total("catalog", "register_parquet_table") / n,
            "catalog.count_s": total("catalog", "get_table_count") / n,
            "maintenance.listing_s": per_hour("new_raw_files"),
            "maintenance.merge_s": per_hour("merge_upsert"),
            "maintenance.commit_s": per_hour("commit_processed"),
            "maintenance.rewrite_amp": (
                sum(c["rewritten_bytes"] for c in cycles) / new_raw if new_raw else 0.0
            ),
            "streaming.triggers": len(triggers) / n,
            "streaming.trigger_p50_ms": _median([d.get("triggerExecution", 0) for d in dur]),
            "streaming.add_batch_ms": _median([d.get("addBatch", 0) for d in dur]),
            "streaming.query_planning_ms": _median([d.get("queryPlanning", 0) for d in dur]),
            "streaming.wal_commit_ms": _median([d.get("walCommit", 0) for d in dur]),
            "streaming.latest_offset_ms": _median([d.get("latestOffset", 0) for d in dur]),
            "streaming.state_rows": _mean([s.get("numRowsTotal", 0) for s in last_state]),
            "streaming.state_mem_mb": _mean(
                [s.get("memoryUsedBytes", 0) / MB for s in last_state]
            ),
        }
        layers.update(_exec_layers(rows, self.cores))
        layers.update(_storage_layers(spark))
        return layers
