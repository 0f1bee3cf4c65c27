"""Table maintenance: compaction of small appended files, snapshot
retention (time travel) and vacuum of abandoned generations."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.plans.registry import table

from .conftest import SF_SMOKE


def test_compact_small_files(spark, tmp_path):
    """Many per-batch appends -> one compaction pass -> few files, same rows."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
        compact,
    )

    t = ParquetTable(f"{tmp_path}/appendy")
    src = table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    for i in range(6):  # six micro-batch appends -> many small files
        t.append(src.filter(F.col("event_id") % 6 == i).repartition(4))
    before_files = len(t.scan(spark).inputFiles())
    before_rows = t.read(spark).count()

    n_files = compact(t, spark, target_rows_per_file=10_000)

    after_files = len(t.scan(spark).inputFiles())
    assert before_files >= 20
    assert after_files == n_files < before_files
    assert t.read(spark).count() == before_rows


def test_time_travel_generations(spark, tmp_path):
    """keep_generations retains displaced snapshots: read_generation
    time-travels to prior versions, the keep count prunes the oldest,
    and keep_generations=0 tables never accumulate generations."""
    import os

    from pyspark.sql import functions as F

    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
    )

    path = str(tmp_path / "tt_table")
    t = ParquetTable(path, keep_generations=2)
    for version in range(4):
        t.overwrite_atomic(spark.range(10).withColumn("v", F.lit(version)))

    # current = v3; one back = v2; two back = v1; v0 pruned by keep=2
    assert t.read(spark).select("v").distinct().collect()[0][0] == 3
    assert t.read_generation(spark, 1).select("v").distinct().collect()[0][0] == 2
    assert t.read_generation(spark, 2).select("v").distinct().collect()[0][0] == 1
    assert len(os.listdir(t._data_root)) == 3  # live + 2 retained
    try:
        t.read_generation(spark, 3)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass

    # retention off: only the live generation ever remains
    p2 = str(tmp_path / "no_tt")
    t2 = ParquetTable(p2)
    for version in range(3):
        t2.overwrite_atomic(spark.range(5).withColumn("v", F.lit(version)))
    assert len(os.listdir(t2._data_root)) == 1
    assert t2._history() == []


def test_vacuum_prunes_abandoned_generations(spark, tmp_path):
    """vacuum() reclaims retained generations beyond keep_generations (all
    of them once retention is turned off), age-gated like strays."""
    import os

    from pyspark.sql import functions as F

    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
    )

    path = str(tmp_path / "aband")
    t = ParquetTable(path, keep_generations=3)
    for v in range(4):
        t.overwrite_atomic(spark.range(5).withColumn("v", F.lit(v)))

    def retained():  # displaced generations (the live one excluded)
        return len(os.listdir(t._data_root)) - 1

    assert retained() == 3
    ancient = 1_000_000_000
    for d in os.listdir(t._data_root):
        os.utime(os.path.join(t._data_root, d), (ancient, ancient))
    # retention lowered after the fact: vacuum prunes the surplus
    t.keep_generations = 1
    deleted = t.vacuum(min_age_seconds=3600)
    assert len(deleted) == 2
    assert retained() == 1
    t.keep_generations = 0
    assert len(t.vacuum(min_age_seconds=3600)) == 1
    assert retained() == 0
    assert t.read(spark).count() == 5
