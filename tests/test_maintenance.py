"""Bookkeeping cost and failure modes of the hourly bookmark-and-merge path.

The driver-side listing and manifest reach the JVM as Arrow tables
(LocalTableScan, no Python-worker task), the ledger is read through its
pinned schema, and ``merge_upsert`` writes straight over its table (no
staging write, no read-back) and runs no separate count job. Job counts
are pinned exactly: a regression that adds an inference or Python-worker
job fails here.
"""

import json
import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from reddit_data_pipeline_engineering_spark import maintenance, schemas
from reddit_data_pipeline_engineering_spark.maintenance import (
    commit_processed,
    merge_upsert,
    new_raw_files,
)
from reddit_data_pipeline_engineering_spark.profile import jobs_launched

# Jobs per call on the fixtures below. Before the Arrow listing and the
# pinned ledger schema, new_raw_files launched 3; before the pinned
# staging read and the observed count, merge_upsert launched 11, and
# before it wrote straight over its table (no temp-dir staging write and
# read-back), 8.
NEW_RAW_FILES_JOBS = 2
MERGE_UPSERT_JOBS = 6


def _land(zone, name, n):
    with open(os.path.join(zone, name), "w") as f:
        for i in range(n):
            f.write(json.dumps({"sensor_id": i, "value": float(i)}) + "\n")


@pytest.fixture
def zone_with_ledger(spark, tmp_path):
    """A raw zone of three files, the first two committed to the ledger."""
    zone = str(tmp_path / "zone")
    os.makedirs(zone)
    for h in range(3):
        _land(zone, f"raw_h{h:02d}.json", 2 + h)
    ledger = str(tmp_path / "ledger")
    files = new_raw_files(spark, zone, ledger)
    commit_processed(spark, ledger, files[:2], 5, "batch-1")
    return zone, ledger


def _base_table(spark, path):
    spark.createDataFrame(
        [(1, 10.0, 2024), (2, 20.0, 2025), (3, 30.0, 2025)],
        "key long, value double, year int",
    ).write.partitionBy("year").parquet(path)


def _updates(spark, rows):
    return spark.createDataFrame(rows, "key long, value double, year int")


def _tree(path):
    """``{file: (size, mtime_ns)}`` for every file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_driver_frames_plan_as_local_scans(spark, zone_with_ledger, monkeypatch, arrow):
    """The listing and manifest frames carry no PythonRDD, whatever the
    session's Arrow conf says."""
    zone, ledger = zone_with_ledger
    made = []
    create = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        made.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        files = new_raw_files(spark, zone, ledger)
        commit_processed(spark, ledger, files, 4, "batch-2")
    finally:
        spark.conf.set(key, old)
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h02.json"]
    assert len(made) == 2  # the listing, then the manifest
    for df in made:
        qe = df._jdf.queryExecution()
        assert qe.executedPlan().nodeName() == "LocalTableScan"
        assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_commit_processed_launches_one_job(spark, tmp_path):
    files = [{"path": "file:/zone/raw_h00.json", "mtime": 1, "size": 2}]
    _, jobs = jobs_launched(
        spark,
        lambda: commit_processed(spark, str(tmp_path / "ledger"), files, 2, "b"),
    )
    assert jobs == 1


def test_new_raw_files_job_count(spark, zone_with_ledger):
    zone, ledger = zone_with_ledger
    files, jobs = jobs_launched(spark, lambda: new_raw_files(spark, zone, ledger))
    assert [f["path"].rsplit("/", 1)[1] for f in files] == ["raw_h02.json"]
    assert jobs == NEW_RAW_FILES_JOBS


def test_ledger_infers_to_pinned_schema(spark, zone_with_ledger):
    _, ledger = zone_with_ledger
    assert spark.read.parquet(ledger).schema == schemas.LEDGER


def test_merge_upsert_job_count(spark, tmp_path):
    out = str(tmp_path / "marts")
    _base_table(spark, out)
    updates = _updates(spark, [(2, 99.0, 2025), (4, 40.0, 2025)])
    n, jobs = jobs_launched(
        spark,
        lambda: merge_upsert(spark, out, updates, keys=("key",), partition_cols=("year",)),
    )
    assert n == 3
    assert jobs == MERGE_UPSERT_JOBS
    got = {r["key"]: r["value"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_merge_upsert_empty_batch_is_noop(spark, tmp_path):
    """Nothing new (the bookmark reader's empty frame) touches no
    partition: the table is neither read nor rewritten."""
    out = str(tmp_path / "marts")
    _base_table(spark, out)
    before = _tree(out)
    n = merge_upsert(spark, out, _updates(spark, []), keys=("key",), partition_cols=("year",))
    assert n == 0
    assert _tree(out) == before


@pytest.mark.parametrize("leftover", [None, "_temporary/0/part-00000.parquet"])
def test_merge_upsert_table_without_data_files_is_empty(spark, tmp_path, leftover):
    """A table directory holding no data files (none at all, or only a
    crashed write's hidden ``_temporary`` output) merges as empty."""
    out = str(tmp_path / "marts")
    os.makedirs(out)
    if leftover is not None:
        os.makedirs(os.path.dirname(os.path.join(out, leftover)))
        with open(os.path.join(out, leftover), "wb") as f:
            f.write(b"not a parquet file")
    n = merge_upsert(
        spark, out, _updates(spark, [(1, 1.0, 2025)]), keys=("key",), partition_cols=("year",)
    )
    assert n == 1
    assert spark.read.parquet(out).count() == 1


def test_merge_upsert_corrupt_partition_raises(spark, tmp_path):
    """A read error is not an empty table: the merge fails before it
    writes, and the unreadable file is still there."""
    out = str(tmp_path / "marts")
    os.makedirs(os.path.join(out, "year=2025"))
    garbage = os.path.join(out, "year=2025", "part-00000-garbage.snappy.parquet")
    with open(garbage, "wb") as f:
        f.write(b"not a parquet file")
    before = _tree(out)
    with pytest.raises(Exception, match="parquet"):
        merge_upsert(
            spark, out, _updates(spark, [(2, 99.0, 2025)]), keys=("key",), partition_cols=("year",)
        )
    assert _tree(out) == before


def test_merge_upsert_failed_write_leaves_the_table(spark, tmp_path):
    """A merge whose write fails (one update row raises) leaves every file
    and row of the table as it was: the touched partition is swapped in
    only when the whole write commits."""
    out = str(tmp_path / "marts")
    _base_table(spark, out)
    before = _tree(out)
    rows_before = sorted(map(tuple, spark.read.parquet(out).collect()))
    updates = _updates(spark, [(2, 99.0, 2025), (4, 40.0, 2025)]).withColumn(
        "value",
        F.when(F.col("key") == 4, F.raise_error(F.lit("bad update row"))).otherwise(
            F.col("value")
        ),
    )
    with pytest.raises(Exception, match="bad update row"):
        merge_upsert(spark, out, updates, keys=("key",), partition_cols=("year",))
    assert _tree(out) == before
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == rows_before


def test_one_partition_overwrite_writer():
    """Regrowth guard: ``plans/marts.py`` (``write_marts``) holds the
    package's only dynamic-overwrite write, and the maintenance rewrites
    stage nothing through a temp dir."""
    pkg = os.path.dirname(maintenance.__file__)
    writers = []
    for d, _, names in os.walk(pkg):
        for n in names:
            if n.endswith(".py"):
                with open(os.path.join(d, n)) as f:
                    if "partitionOverwriteMode" in f.read():
                        writers.append(os.path.relpath(os.path.join(d, n), pkg))
    assert writers == [os.path.join("plans", "marts.py")]
    with open(maintenance.__file__) as f:
        assert "mkdtemp" not in f.read()
