"""Table maintenance on the plain parquet layout: compaction of small
appended files, snapshot retention (time travel) and vacuum of abandoned
generations."""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_ingestion_canonical_snowflake_spark.plans.registry import table

from .conftest import SF_SMOKE


def test_compact_small_files(spark, tmp_path):
    """Many per-batch appends -> one compaction pass -> few files, same rows."""
    import glob

    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
        compact,
    )

    t = ParquetTable(f"{tmp_path}/appendy")
    src = table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    for i in range(6):  # six micro-batch appends -> many small files
        t.append(src.filter(F.col("event_id") % 6 == i).repartition(4))
    before_files = len(glob.glob(f"{t.path}/*.parquet"))
    before_rows = t.read(spark).count()

    n_files = compact(t, spark, target_rows_per_file=10_000)

    after_files = len(glob.glob(f"{t.path}/*.parquet"))
    assert before_files >= 20
    assert after_files == n_files < before_files
    assert t.read(spark).count() == before_rows


def test_vacuum_removes_stranded_generations(spark, tmp_path):
    """Crash-stranded .tmp-/.old- siblings are deleted once old enough;
    young strays (a swap possibly in flight) and the live table survive."""
    import os

    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
        vacuum,
    )

    path = str(tmp_path / "vac_table")
    t = ParquetTable(path)
    spark.range(10).write.parquet(path)

    old_gen = f"{path}.old-deadbeef"
    tmp_gen = f"{path}.tmp-cafebabe"
    young = f"{path}.tmp-00000000"
    for d in (old_gen, tmp_gen, young):
        os.makedirs(d)
    ancient = 1_000_000_000  # fixed epoch long past any min_age
    for d in (old_gen, tmp_gen):
        os.utime(d, (ancient, ancient))

    deleted = vacuum(t, min_age_seconds=3600)
    assert sorted(deleted) == sorted([old_gen, tmp_gen])
    assert not os.path.exists(old_gen) and not os.path.exists(tmp_gen)
    assert os.path.isdir(young)  # age-gated
    assert spark.read.parquet(path).count() == 10  # live table untouched
    # min_age 0 sweeps the rest
    assert vacuum(t, min_age_seconds=0) == [young]


def test_time_travel_generations(spark, tmp_path):
    """keep_generations retains displaced snapshots: read_generation
    time-travels to prior versions, the keep count prunes the oldest,
    and keep_generations=0 tables never accumulate siblings."""
    import glob
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
    assert len(t._generations()) == 2
    try:
        t.read_generation(spark, 3)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass

    # retention off: no .gen- siblings ever appear
    p2 = str(tmp_path / "no_tt")
    t2 = ParquetTable(p2)
    for version in range(3):
        t2.overwrite_atomic(spark.range(5).withColumn("v", F.lit(version)))
    assert glob.glob(f"{p2}.gen-*") == []
    assert os.path.isdir(p2)


def test_vacuum_prunes_abandoned_generations(spark, tmp_path):
    """vacuum() reclaims .gen-* snapshots beyond keep_generations (all of
    them once retention is turned off), age-gated like strays."""
    import glob
    import os

    from pyspark.sql import functions as F

    from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
        ParquetTable,
        vacuum,
    )

    path = str(tmp_path / "aband")
    t = ParquetTable(path, keep_generations=3)
    for v in range(4):
        t.overwrite_atomic(spark.range(5).withColumn("v", F.lit(v)))
    assert len(glob.glob(f"{path}.gen-*")) == 3
    ancient = 1_000_000_000
    for d in glob.glob(f"{path}.gen-*"):
        os.utime(d, (ancient, ancient))
    # retention lowered after the fact: vacuum prunes the surplus
    t.keep_generations = 1
    deleted = vacuum(t, min_age_seconds=3600)
    assert len(deleted) == 2
    assert len(glob.glob(f"{path}.gen-*")) == 1
    t.keep_generations = 0
    assert len(vacuum(t, min_age_seconds=3600)) == 1
    assert glob.glob(f"{path}.gen-*") == []
    assert spark.read.parquet(path).count() == 5
