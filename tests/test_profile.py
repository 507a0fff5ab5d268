"""The engine profiler (``profile.py``): every job, stage and shuffle byte
is attributed through the caller's Spark job group, so a record counts
exactly its own query's work, also while another thread runs a query."""

import threading

import pytest

from reddit_data_pipeline_engineering_spark import profile

from .conftest import SF_SMALL


def test_measure_attributes_stages(spark):
    """A groupBy's shuffle volume lands on the stages it ran (a map and a
    reduce stage, bytes and records > 0), and a call that runs nothing is
    attributed nothing."""

    def group_by():
        df = spark.range(10000).selectExpr("id % 13 as k").groupBy("k").count()
        df.write.format("noop").mode("overwrite").save()

    _, m = profile.measure(spark, group_by)
    assert m["jobs"] >= 1
    assert m["stages"] >= 2  # map + reduce at minimum
    assert m["shuffle_write_bytes"] > 0
    assert m["shuffle_write_records"] > 0
    assert m["shuffle_read_bytes"] > 0
    _, z = profile.measure(spark, lambda: None)
    assert z == dict.fromkeys(z, 0)


# Not ``compiles``: the JVM's compilation counter is process-wide.
_OWN_WORK = (
    "build_jobs",
    "build_py4j",
    "action_jobs",
    "stages",
    "tasks",
    "shuffle_write_records",
)


def test_concurrent_runs_count_only_their_own_work(spark):
    """Two threads profile different queries at once; each record must
    equal the query's record when profiled alone. ``theil_u_forecast``
    runs jobs while its plan is built and ``value_histogram`` none, so a
    record that picked up the other thread's jobs or stages (as a diff
    of status-store snapshots would) differs from its solo record. Solo
    runs use fresh threads too: a thread's first builds send a different
    number of Py4J commands than the main thread's."""
    names = ("theil_u_forecast", "value_histogram")
    records: dict[str, dict] = {}

    def profile_in_threads(batch, start=None):
        def one(name):
            if start is not None:
                start.wait()
            records[name] = profile.run(spark, name, SF_SMALL, runs=1)

        threads = [threading.Thread(target=one, args=(n,)) for n in batch]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
        return {n: records.pop(n) for n in batch}

    solo = {}
    for n in names:
        solo.update(profile_in_threads([n]))
    assert solo["theil_u_forecast"]["build_jobs"] > 0
    assert solo["value_histogram"]["build_jobs"] == 0
    both = profile_in_threads(names, threading.Barrier(len(names), timeout=60))
    for n in names:
        assert both[n]["wall_s"] > 0
        assert {k: both[n][k] for k in _OWN_WORK} == {
            k: solo[n][k] for k in _OWN_WORK
        }, n


# Cheap dashboard queries whose repeat passes compile nothing once their
# classes are cached (marts_kernel, supplier_blame_exists and
# waiting_suppliers sometimes generate a few new classes per pass).
_CODEGEN_SET = (
    "running_sum", "lag_lead_delta", "forward_fill", "sessionize", "set_ops",
    "time_bucket_rollup", "market_share", "large_volume_customers",
    "local_supplier_volume", "minmax_profile",
)


def _flush_codegen_cache(spark):
    """Empty Spark's generated-code cache (a private JVM field), so the
    next pass compiles each distinct class exactly once."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getField("MODULE$").get(None)).invalidateAll()


def test_repeat_pass_compiles_nothing(spark):
    """A working set of generated classes larger than Spark's default
    cache (100 entries) stays cached: after one pass compiles each of the
    set's distinct classes (170 on Spark 4.1.2), a second identical pass
    compiles none. With 100 entries the cyclic pass evicts every class
    before its reuse, and the second pass recompiled 169."""
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()

    def compiles_per_pass():
        return sum(
            profile._timed_pass(spark, n, REGISTRY[n].fn, SF_SMALL)["compiles"]
            for n in _CODEGEN_SET
        )

    _flush_codegen_cache(spark)
    distinct = compiles_per_pass()
    assert distinct > 100
    assert compiles_per_pass() == 0


def _session_blocks(spark):
    """(persisted RDD ids, identities of the cache manager's entries) of
    the shared test session."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    ident = spark._jvm.System.identityHashCode
    return {int(i) for i in ids}, {
        ident(cached.apply(i)) for i in range(cached.size())
    }


@pytest.mark.parametrize("name", ["bfs_reachability", "kcore_peel_counts"])
def test_run_releases_what_its_passes_made(spark, name):
    """A run leaves no persisted RDD and no cache entry behind, and its
    timed pass builds its own edge caches: without the per-pass scope the
    warm-up's caches served the timed pass, which then recorded fewer
    build jobs than a cold pass. Compared against the session's state
    before the run, because other tests' DataFrames hold blocks of their
    own."""
    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )

    queries()
    rdds, plans = _session_blocks(spark)
    cold = profile._timed_pass(spark, name, REGISTRY[name].fn, SF_SMALL)
    rec = profile.run(spark, name, SF_SMALL, runs=1)
    after_rdds, after_plans = _session_blocks(spark)
    assert after_rdds - rdds == set()
    assert after_plans - plans == set()
    assert cold["blocks"] > 0
    assert rec["blocks"] == cold["blocks"]
    assert rec["build_jobs"] == cold["build_jobs"]
