"""Pinned registry-table read schemas (``schemas.TABLES``).

Parquet footer inference is the reference: each pin must equal what Spark
infers at every scale factor. With the pins in place, opening a table, and
building any dashboard query's DataFrame, launches no Spark job.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from reddit_data_pipeline_engineering_spark import schemas
from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries
from reddit_data_pipeline_engineering_spark.profile import jobs_launched
from reddit_data_pipeline_engineering_spark.sources.tables import TABLE_NAMES, load_table

from .conftest import SF_MEDIUM, SF_SMALL

SF_DIRS = (SF_SMALL, SF_MEDIUM, os.path.join(os.path.dirname(SF_SMALL), "sf0.1"))

# The short registry queries of the dashboard benchmark workload.
DASHBOARD = (
    "active_semijoin", "aqi_bundle", "conditional_counts", "daily_topk",
    "date_partition_rollup", "enrich_metadata", "flagship_top_locations",
    "inactive_antijoin", "marts_kernel", "minmax_profile", "normalize_group",
    "null_audit", "pivot_wide", "pricing_summary", "running_sum", "sessionize",
    "set_ops", "topk_orders", "window_dedup",
    "forecast_revenue", "large_volume_customers", "local_supplier_volume",
    "returned_item_losses", "shipping_priority", "market_share",
    "nation_top_supplier_scalar", "supplier_blame_exists", "waiting_suppliers",
    "aqi_profile", "forward_fill", "lag_lead_delta", "sql_surface",
    "time_bucket_rollup", "rollup_orders", "exact_dedup",
)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_every_table_is_pinned(sf_dir):
    on_disk = {f.removesuffix(".parquet") for f in os.listdir(sf_dir)}
    assert set(TABLE_NAMES) == on_disk


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_pinned_schema_matches_inference(spark, sf_dir, name):
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    assert inferred == schemas.TABLES[name]


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_load_table_launches_no_job(spark, sf_dir):
    dfs, jobs = jobs_launched(
        spark, lambda: [load_table(spark, sf_dir, n) for n in TABLE_NAMES]
    )
    assert jobs == 0
    assert [df.schema for df in dfs] == [schemas.TABLES[n] for n in TABLE_NAMES]


@pytest.mark.parametrize("name", DASHBOARD)
def test_dashboard_query_builds_without_jobs(spark, name):
    queries()  # force registration
    _, jobs = jobs_launched(spark, lambda: REGISTRY[name].fn(spark, SF_SMALL))
    assert jobs == 0


def test_nanos_events_fail_loudly(spark, tmp_path):
    """An ``events.ts`` stored as TIMESTAMP(NANOS) does not match the pinned
    TIMESTAMP_NTZ column: the first action that reads it raises, rather than
    returning the column as long (which ``nanosAsLong`` would otherwise do)."""
    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")

    df = load_table(spark, str(tmp_path), "events")
    assert df.schema == schemas.TABLES["events"]
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.select("ts").collect()
