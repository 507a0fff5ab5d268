"""The engine profiler (``profile.py``): every job, stage and shuffle byte
is attributed through the caller's Spark job group, so a record counts
exactly its own query's work, also while another thread runs a query."""

import threading

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
