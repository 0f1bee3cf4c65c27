"""Hive-partitioned tables (operators/storage.py): partition pruning must
reach the scan, non-partition predicates must push down to parquet, and
partition replacement must touch only the partitions in the batch.

These are the plan-level guarantees that make a 100 TB date/client
partitioned layout cheap to query and to refresh incrementally."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.operators.storage import ParquetTable
from financial_data_ingestion_canonical_snowflake_spark.plans.registry import table

from .conftest import SF_ORACLE


@pytest.fixture(scope="module")
def events_parted(spark, tmp_path_factory):
    t = ParquetTable(
        str(tmp_path_factory.mktemp("parted") / "events"), partition_by=["event_type"]
    )
    t.append(table(spark, SF_ORACLE, "events"))
    return t


def _scan_line(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return next(l for l in plan.splitlines() if "FileScan parquet" in l)


def test_partition_filter_prunes_scan(spark, events_parted):
    df = events_parted.read(spark).filter(F.col("event_type") == "click")
    scan = _scan_line(df)
    # the partition predicate is a PartitionFilter (directory pruning),
    # never a data filter
    assert "PartitionFilters" in scan and "event_type" in scan.split("PartitionFilters")[1].split("]")[0]


def test_data_predicate_pushes_down(spark, events_parted):
    df = events_parted.read(spark).filter(F.col("user_id") == 7).select("user_id", "value")
    scan = _scan_line(df)
    pushed = scan.split("PushedFilters")[1].split("]")[0]
    assert "EqualTo(user_id,7)" in pushed
    # column pruning: the scan schema carries only the 2 projected columns
    read_schema = scan.split("ReadSchema")[1]
    assert "user_id" in read_schema and "props" not in read_schema


def test_dynamic_overwrite_touches_only_batch_partitions(spark, events_parted, tmp_path):
    t = ParquetTable(str(tmp_path / "ev2"), partition_by=["event_type"])
    full = events_parted.read(spark)
    t.append(full)
    before = {r.event_type: r.cnt for r in
              t.read(spark).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # rewrite ONE partition with a halved batch
    clicks = full.filter(F.col("event_type") == "click").filter(F.col("user_id") < 75)
    t.replace_partitions(clicks)
    after = {r.event_type: r.cnt for r in
             t.read(spark).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert after["click"] < before["click"]
    for k in before:
        if k != "click":
            assert after[k] == before[k], k


def test_partition_directories_on_disk(events_parted):
    subdirs = {d for d in events_parted.partition_dir_names() if d.startswith("event_type=")}
    assert len(subdirs) >= 3  # click / view / error / ...
