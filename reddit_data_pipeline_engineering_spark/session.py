"""SparkSession factory.

Replaces the reference's per-service runtimes (Lambda Python, Glue Spark,
Athena Presto — SURVEY.md §3) with one local/cluster SparkSession profile.

Scale notes (targets a 1000-executor cluster even though tests run
``local[N]``): AQE on for runtime re-planning / skew-join handling /
partition coalescing; shuffle partitions sized to cores locally (a
cluster sets them to 2-3x total cores, SCALE.md); session timezone pinned
to UTC so ISO-8601 ``+07:00`` inputs normalize identically everywhere
(reference behavior: ``glue_jobs/process_openaq_raw.py:118-121``); the
JVM's generated-code cache sized to the engine's measured working set
(``CODEGEN_CACHE_ENTRIES``), so a long-lived session that re-runs the same
queries compiles each generated class once, not once per run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every engine entry point applies, so the engine
# behaves identically under a SparkSession it did not build (e.g. the
# verification driver's).
RUNTIME_CONFS = {
    # Lets ns-precision parquet the engine did not pin (e.g. a sink read
    # back without a schema) read as long ns-since-epoch instead of failing
    # with PARQUET_TYPE_ILLEGAL. Registry tables carry pinned schemas
    # (schemas.TABLES), so a NANOS column there still fails at the read.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Python DataSource filter pushdown (sources/datasource.py): lets a
    # sensor_id equality/IN predicate prune API fetch partitions.
    "spark.sql.python.filterPushdown.enabled": "true",
}


# ContextCleaner reaps checkpoint/persist/broadcast blocks only when the JVM
# collects their RDD handles. On a long-lived session that runs hundreds of
# queries, dead blocks pile up in the memory store for Spark's default 30 min
# and every later query's cache insert pays synchronous eviction-to-disk for
# blocks nothing can ever read again (measured: after a 78 s block of
# checkpoint-heavy queries, unrelated probe queries ran 3.5x slower; one
# driven GC restored them exactly). 90 s keeps the reaper ahead of
# accumulation.
PERIODIC_GC_INTERVAL = "90s"

# Entries in Spark's generated-code cache (static conf
# spark.sql.codegen.cache.maxEntries; Spark's default is 100). The cache is
# an LRU keyed by the generated source, and a miss is a Janino compilation
# during the action. Measured working sets, local[4], sf0.001:
# - one seed-shuffled pass over perfbench's 35 dashboard queries: 384
#   distinct classes. At 100 entries the cyclic pass evicts each class
#   before its next use, so every warm pass compiled 405-445 classes; at
#   1000 a warm pass compiles 0-8;
# - the ingest workload (backfill, hourly merge_upsert, streaming drain):
#   649-837 compilations per 30 s at 100 entries, all of them repeats; 0
#   at 1000;
# - the iterative kernels (kmeans, pq, bloom) keep their per-iteration
#   expression tree fixed so that one cached class serves every iteration.
# 1000 covers the dashboard set 2.6x over. Memory per cached class: its
# source text, about 9 KB, on the heap, and 7-10 KB of Metaspace (after a
# full GC at the end of a dashboard pass, Metaspace read 2.2-3.0 MB more
# at 1000 entries than at 100), so a full cache would hold about 20 MB.
CODEGEN_CACHE_ENTRIES = "1000"


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime-settable confs to an existing session.

    Static confs (``CODEGEN_CACHE_ENTRIES``, ``PERIODIC_GC_INTERVAL``) are
    fixed when the JVM's SparkContext starts, so a session the engine did
    not build keeps Spark's defaults for them: 100 cached generated
    classes, which a dashboard pass overflows.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; builder-configured sessions have it
    try:
        # A session the engine didn't build (e.g. the verification
        # driver's) keeps Spark's default 200 shuffle partitions — pure
        # task overhead on a 32-core local box. Right-size it, but never
        # stomp a session that configured the value deliberately.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_CPUS", "32"),
            )
    except Exception:
        pass
    return spark


def _tree_idle_for(path: str) -> float:
    """Seconds since ANY entry in the tree was touched (recursive max
    mtime, not the top-level dir's — Spark stamps the per-pid dir at
    startup and then only writes inside blockmgr-*/spark-* subdirs, so
    the top-level mtime of a busy session looks ancient; ADVICE r10)."""
    import time as _time

    newest = os.path.getmtime(path)
    for dirpath, dirnames, filenames in os.walk(path):
        for name in dirnames + filenames:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(dirpath, name))
                )
            except OSError:
                pass  # entry vanished mid-walk (live session churn)
    return _time.time() - newest


_STALE_AGE_S = 3 * 24 * 3600


def _sweep_stale_local_dirs(local_root: str) -> None:
    """Reap stale per-pid spill dirs (crashed/killed JVMs leave spill
    files and Spark never removes the <pid> dir itself) — the
    replacement for the /tmp reaper the r08 pin deliberately escaped.

    Decision ladder (ADVICE r09 + r10):

    - pid probed ALIVE same-uid -> NEVER touched, regardless of age.
      A >3-day bench JVM is legitimate; sweeping its live spill dir
      would recreate the exact DiskBlockObjectWriter deletion race the
      pin exists to prevent (the r10 advice finding).
    - pid gone (ProcessLookupError) -> reclaim immediately.
    - pid alive under ANOTHER uid (PermissionError) -> could be pid
      reuse by an unrelated process (pid_max up to 4194304), so fall
      through to the idleness check: reclaim only if NOTHING in the
      tree (recursive max mtime, not the startup-stamped top dir) was
      touched for >3 days — no Spark session here idles that long.
    """
    if not os.path.isdir(local_root):
        return
    import shutil

    for entry in os.listdir(local_root):
        full = os.path.join(local_root, entry)
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            os.kill(int(entry), 0)  # liveness probe, no signal sent
            continue  # alive same-uid: never touch it
        except ProcessLookupError:
            shutil.rmtree(full, ignore_errors=True)
            continue
        except PermissionError:
            pass  # other-uid liveness: possible pid reuse — check idleness
        try:
            if _tree_idle_for(full) > _STALE_AGE_S:
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass  # raced with its own cleanup — nothing to reclaim


def get_spark(
    app_name: str = "rdpe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    ``shuffle_partitions`` defaults to the local core count — the Spark
    default of 200 over-parallelizes local runs and under-parallelizes
    large clusters (set explicitly per deployment). ``RUNTIME_CONFS`` go
    into the builder too; ``extra_conf`` entries win over them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Shuffle/spill files live under the repo, not OS /tmp: the r08
    # closing bench hit DiskBlockObjectWriter deletion failures when a
    # /tmp reaper raced live shuffle files on the long-lived bench JVM
    # (VERDICT r08 #4). Per-pid so concurrent sessions never collide;
    # Spark removes the subdirs it creates on clean shutdown.
    local_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".spark-local",
    )
    local_dir = os.environ.get(
        "RDPE_SPARK_LOCAL_DIR", os.path.join(local_root, str(os.getpid()))
    )
    _sweep_stale_local_dirs(local_root)
    os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("RDPE_DRIVER_MEMORY", "8g"))
        .config("spark.local.dir", local_dir)
        .config("spark.cleaner.periodicGC.interval", PERIODIC_GC_INTERVAL)
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
    )
    for k, v in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
