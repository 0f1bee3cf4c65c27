"""ParquetTable's manifest commit protocol (the object-store protocol).

The claim under test: every scoped-merge feature — ledgered replay
protection, schema evolution, auto-rebucket, partition pruning — runs on a
table whose only atomic primitive is a single-object PUT
(``publish_file``), and a crash at any instant before the manifest PUT
leaves the previous snapshot fully readable.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
    PART_COL,
    LedgerSpec,
    maybe_rebucket,
    merge_upsert_scoped,
    rebucket,
)
from financial_data_ingestion_canonical_snowflake_spark.operators.storage import (
    LocalFileCommit,
    ParquetTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType()),
        T.StructField("created_from", T.StringType()),
    ]
)


class PutOnlyCommit(LocalFileCommit):
    """Models an object store: single-object PUT is the ONLY atomic
    primitive. ``publish_file`` is implemented WITHOUT rename (read temp
    bytes, write destination, delete temp) — non-atomic on a local FS,
    exactly atomic as an object PUT."""

    def __init__(self):
        self.put_count = 0

    def publish_file(self, src: str, dst: str) -> None:
        self.put_count += 1
        with open(src, "rb") as f:
            data = f.read()
        with open(dst, "wb") as f:
            f.write(data)
        os.remove(src)


class CrashBeforePublish(PutOnlyCommit):
    """Raises on the Nth PUT — simulates dying AFTER the data files are
    written but BEFORE the manifest commit."""

    def __init__(self, crash_on_put: int):
        super().__init__()
        self.crash_on_put = crash_on_put

    def publish_file(self, src: str, dst: str) -> None:
        if self.put_count + 1 == self.crash_on_put:
            raise RuntimeError("simulated crash before manifest PUT")
        super().publish_file(src, dst)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_ledger_replay_protection(spark, tmp_path):
    """Additive folds + per-bucket ledger: a replayed batch is a no-op on
    the manifest layout too (the stream==batch restart/replay guarantee
    carries over to the object-store protocol unchanged)."""
    t = ParquetTable(
        str(tmp_path / "led"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    ledger = LedgerSpec("__LEDGER__", "v")
    add = {"v": lambda tgt, src: tgt + src}
    b1 = [(f"k{i}", 10, "s") for i in range(20)]
    b2 = [(f"k{i}", 5, "s") for i in range(0, 20, 2)]
    for bid, rows in [(1, b1), (2, b2)]:
        merge_upsert_scoped(
            spark, t, _df(spark, rows), keys=["k"],
            merge_exprs=add, ledger=ledger, batch_id=bid,
        )
    snap = _sorted(t.read(spark))
    # replay batch 2 — every bucket's ledger is at 2 already: no change
    merge_upsert_scoped(
        spark, t, _df(spark, b2), keys=["k"],
        merge_exprs=add, ledger=ledger, batch_id=2,
    )
    assert _sorted(t.read(spark)) == snap
    vals = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert vals["k0"] == 15 and vals["k1"] == 10


def test_crash_before_manifest_put_preserves_table(spark, tmp_path):
    """Data files written, manifest PUT never happens: the table reads the
    PREVIOUS snapshot, the rerun converges, vacuum removes the orphan."""
    commit = PutOnlyCommit()
    t = ParquetTable(
        str(tmp_path / "crash"), SCHEMA, [PART_COL], n_buckets=4,
        commit=commit,
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "base") for i in range(40)]),
        keys=["k"],
    )
    before = _sorted(t.read(spark))
    # next batch dies on its SECOND publish attempt: write_meta's PUT
    # lands, the new generation's data files are fully written, and the
    # manifest PUT that would make them live never happens — the worst
    # instant for a rename-based protocol, a non-event for this one
    t.commit = CrashBeforePublish(commit.put_count + 2)
    t.commit.put_count = commit.put_count
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_upsert_scoped(
            spark, t, _df(spark, [("k3", 999, "delta")]), keys=["k"]
        )
    t.commit = commit
    assert _sorted(t.read(spark)) == before  # old snapshot fully intact
    # the rerun of the same batch converges
    merge_upsert_scoped(
        spark, t, _df(spark, [("k3", 999, "delta")]), keys=["k"],
        preserve=["created_from"],
    )
    vals = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert vals["k3"] == 999
    # orphaned generation dirs (written, never referenced) vacuum away
    t.vacuum(min_age_seconds=0)
    live = {
        os.path.relpath(leaf, t._data_root)
        for leaf in t._live_leaves(t._load_manifest())
    }
    on_disk = set()
    for gen in os.listdir(t._data_root):
        gd = os.path.join(t._data_root, gen)
        for rel in t._written_parts(gd):
            on_disk.add(os.path.join(gen, rel) if rel else gen)
    assert on_disk == live


def test_partition_pruning_on_manifest_scan(spark, tmp_path):
    """The bucket `isin` filter prunes the manifest scan's partitions just
    like a plain hive layout — the delta-proportional read survives the
    layout change."""
    t = ParquetTable(
        str(tmp_path / "prune"), SCHEMA, [PART_COL], n_buckets=8,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(200)]),
        keys=["k"],
    )
    pruned = t.scan(spark).filter(F.col(PART_COL).isin([3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters" in plan
        and PART_COL in plan.split("PartitionFilters", 1)[1][:200]
    )
    # and the pruned read returns exactly bucket 3's rows
    assert pruned.count() == t.scan(spark).filter(F.col(PART_COL) == 3).count() > 0


def test_schema_evolution_on_manifest(spark, tmp_path):
    """evolve_schema widens the manifest table in place: untouched buckets'
    old leaves read the added column as typed NULLs."""
    t = ParquetTable(
        str(tmp_path / "evo"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(40)]),
        keys=["k"],
    )
    wide = T.StructType(
        SCHEMA.fields + [T.StructField("extra", T.DoubleType())]
    )
    delta = spark.createDataFrame([("k1", 111, "d", 1.5)], wide)
    merge_upsert_scoped(
        spark, t, delta, keys=["k"], evolve_schema=True,
        preserve=["created_from"],
    )
    out = t.scan(spark)
    assert "extra" in out.columns
    got = {r["k"]: r["extra"] for r in out.filter(F.col("k").isin(["k1", "k2"])).collect()}
    assert got["k1"] == 1.5 and got["k2"] is None


def test_rebucket_and_auto_split_on_manifest(spark, tmp_path):
    """The state-layout maintenance operator (split-only modulus growth)
    runs on the manifest protocol: content invariant, modulus recorded,
    subsequent default-mode merges adopt the grown modulus."""
    t = ParquetTable(
        str(tmp_path / "reb"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(80)]),
        keys=["k"],
    )
    before = _sorted(t.read(spark))
    assert rebucket(spark, t, 8) == 8
    assert t.read_meta()["n_buckets"] == 8
    assert _sorted(t.read(spark)) == before
    assert len(t.partition_dir_names()) > 4
    # auto-split path: a tiny target forces maybe_rebucket to double
    new_n = maybe_rebucket(spark, t, target_bytes_per_bucket=1)
    assert new_n is not None and new_n > 8
    assert _sorted(t.read(spark)) == before
    # a default-mode merge adopts the stored modulus (no crash, lands)
    merge_upsert_scoped(
        spark, t, _df(spark, [("k1", 999, "d")]), keys=["k"],
        preserve=["created_from"],
    )
    vals = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert vals["k1"] == 999


def test_time_travel_and_unpartitioned_append(spark, tmp_path):
    t = ParquetTable(
        str(tmp_path / "tt"), SCHEMA, keep_generations=2,
        commit=PutOnlyCommit(),
    )
    t.overwrite_atomic(_df(spark, [("a", 1, "g1")]))
    t.overwrite_atomic(_df(spark, [("a", 2, "g2")]))
    t.append(_df(spark, [("b", 3, "g3")]))
    assert _sorted(t.read(spark)) == [("a", 2, "g2"), ("b", 3, "g3")]
    assert _sorted(t.read_generation(spark, 1)) == [("a", 2, "g2")]
    assert _sorted(t.read_generation(spark, 2)) == [("a", 1, "g1")]
    with pytest.raises(FileNotFoundError):
        t.read_generation(spark, 3)


def test_vacuum_age_gates_midwrite_generation(spark, tmp_path):
    """ADVICE r14 (medium): a partitioned generation MID-WRITE holds only
    Spark's _temporary dir, so the per-leaf walk sees zero leaves — the
    whole-generation husk removal must still honor min_age_seconds or a
    concurrent vacuum destroys a write before its manifest PUT."""
    t = ParquetTable(
        str(tmp_path / "mw"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(20)]),
        keys=["k"],
    )
    # simulate an in-flight writer: a fresh generation with only the
    # uncommitted task-attempt dir inside
    gen = os.path.join(t._data_root, "__gen=00000099-deadbeef")
    os.makedirs(os.path.join(gen, "_temporary", "0"))
    t.vacuum(min_age_seconds=3600)
    assert os.path.isdir(gen), "age-gated vacuum deleted an in-flight write"
    # aged out, the husk IS garbage and goes
    old = 1.0  # epoch — far past any gate
    os.utime(gen, (old, old))
    os.utime(os.path.join(gen, "_temporary"), (old, old))
    t.vacuum(min_age_seconds=3600)
    assert not os.path.isdir(gen)
    # live data untouched throughout
    assert t.read(spark).count() == 20


def test_vacuum_collects_stray_manifest_temps(spark, tmp_path):
    """ADVICE r14: a crashed PUT leaves a _MANIFEST*.w-* temp object in the
    table root; vacuum age-gate-deletes it (data-leaf walks never see it)."""
    t = ParquetTable(
        str(tmp_path / "mt"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [("k1", 1, "b")]), keys=["k"]
    )
    stray = os.path.join(t.path, "_MANIFEST.json.w-deadbeef")
    with open(stray, "w") as f:
        f.write("{}")
    t.vacuum(min_age_seconds=3600)
    assert os.path.isfile(stray), "young temp PUT object deleted"
    os.utime(stray, (1.0, 1.0))
    deleted = t.vacuum(min_age_seconds=3600)
    assert not os.path.isfile(stray) and stray in deleted
    assert t.read(spark).count() == 1


def test_empty_overwrite_keeps_table_existing(spark, tmp_path):
    """ADVICE r14: an empty partitioned overwrite (Scd2Sink.rebuild over an
    empty retained log) must leave an EXISTING empty table — reads return
    zero rows under the schema, and the next scoped merge lands on the
    normal path with the recorded modulus intact."""
    t = ParquetTable(
        str(tmp_path / "emp"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(20)]),
        keys=["k"],
    )
    empty = _df(spark, []).withColumn(
        PART_COL, F.lit(None).cast("int")
    ).filter(F.lit(False))
    t.overwrite_atomic(empty)
    assert t.exists(), "empty overwrite uninitialized the table"
    assert t.read_meta()["n_buckets"] == 4  # meta survived
    out = t.read(spark)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        f.name for f in SCHEMA.fields
    ]
    # the follow-up merge repopulates; the pseudo-partition is superseded
    merge_upsert_scoped(
        spark, t, _df(spark, [("k1", 11, "d")]), keys=["k"]
    )
    assert _sorted(t.read(spark)) == [("k1", 11, "d")]
    assert "" not in t._load_manifest()["parts"]


def test_history_put_before_pointer_put(spark, tmp_path):
    """ADVICE r14: the retained-history copy must be PUT before the live
    pointer, so a crash between the two never leaves the newest live
    commit missing from history (read_generation(1) skipping a commit)."""
    order: list[str] = []

    class RecordingCommit(PutOnlyCommit):
        def publish_file(self, src: str, dst: str) -> None:
            order.append(os.path.basename(dst))
            super().publish_file(src, dst)

    t = ParquetTable(
        str(tmp_path / "ord"), SCHEMA, keep_generations=1,
        commit=RecordingCommit(),
    )
    t.overwrite_atomic(_df(spark, [("a", 1, "g1")]))
    data_puts = [d for d in order if d.startswith("_MANIFEST")]
    assert data_puts == ["_MANIFEST-00000001.json", "_MANIFEST.json"]
    # crash exactly between the two: history landed, pointer did not —
    # the table still reads the previous snapshot and the retry converges
    order.clear()
    t.commit = CrashBeforePublish(2)  # 1st PUT = history, 2nd = pointer
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.overwrite_atomic(_df(spark, [("a", 2, "g2")]))
    assert _sorted(t.read(spark)) == [("a", 1, "g1")]
    t.commit = PutOnlyCommit()
    t.overwrite_atomic(_df(spark, [("a", 2, "g2")]))
    assert _sorted(t.read(spark)) == [("a", 2, "g2")]
    assert _sorted(t.read_generation(spark, 1)) == [("a", 1, "g1")]


def test_reader_during_commit_snapshot(spark, tmp_path):
    """Serve-while-writing (the IVF serve path): with keep_generations>=1 a
    reader that planned BEFORE a commit still collects the pre-commit
    snapshot afterwards — its leaves are retained, not GC'd mid-read. The
    IvfIndexSink constructor bumps the index table to this posture."""
    t = ParquetTable(
        str(tmp_path / "srv"), SCHEMA, [PART_COL], n_buckets=4,
        keep_generations=1, commit=PutOnlyCommit(),
    )
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i, "b") for i in range(20)]),
        keys=["k"],
    )
    in_flight = t.read(spark)  # plans against the pre-commit manifest
    before = _sorted(in_flight)
    merge_upsert_scoped(
        spark, t, _df(spark, [(f"k{i}", i + 100, "d") for i in range(20)]),
        keys=["k"], preserve=["created_from"],
    )
    spark.catalog.clearCache()
    # the old plan's files still exist: the collect sees the old snapshot
    assert _sorted(in_flight) == before
    # and the sink's constructor enforces the posture on a default table
    from financial_data_ingestion_canonical_snowflake_spark.streaming.ivf_stream import (
        IvfIndexSink,
    )

    idx = ParquetTable(
        str(tmp_path / "idx"), partition_by=[PART_COL], commit=PutOnlyCommit()
    )
    cent = ParquetTable(str(tmp_path / "cent"))
    IvfIndexSink(idx, cent)
    assert idx.keep_generations >= 1


def test_multi_column_partitioned_manifest(spark, tmp_path):
    """r15: the single-partition-column cap is lifted — a two-level
    hive layout (client=x/region=y) runs the full protocol surface:
    leaf-granular manifests, replace_partitions touching only written
    nested leaves, partition pruning, time travel, vacuum."""
    schema = T.StructType(
        [
            T.StructField("client", T.StringType()),
            T.StructField("region", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t = ParquetTable(
        str(tmp_path / "mc"), schema, ["client", "region"],
        keep_generations=1, commit=PutOnlyCommit(),
    )
    rows = [
        ("a", "eu", 1), ("a", "us", 2), ("b", "eu", 3), ("b", "us", 4),
    ]
    t.overwrite_atomic(spark.createDataFrame(rows, schema))
    assert sorted(t.partition_dir_names()) == [
        "client=a/region=eu", "client=a/region=us",
        "client=b/region=eu", "client=b/region=us",
    ]
    assert _sorted(t.read(spark)) == sorted(rows)
    # replace only (a, eu): other leaves keep their old generation
    touched = t.replace_partitions(
        spark.createDataFrame([("a", "eu", 11)], schema)
    )
    assert touched == ["client=a/region=eu"]
    assert _sorted(t.read(spark)) == sorted(
        [("a", "eu", 11)] + rows[1:]
    )
    # partition pruning pushes into the nested layout
    pruned = t.scan(spark).filter(
        (F.col("client") == "b") & (F.col("region") == "us")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert [
        tuple(r) for r in pruned.select("client", "region", "v").collect()
    ] == [("b", "us", 4)]
    # time travel to before the replace
    assert _sorted(t.read_generation(spark, 1)) == sorted(rows)
    # append lands a new generation on existing leaves
    t.append(spark.createDataFrame([("b", "us", 44)], schema))
    assert ("b", "us", 44) in _sorted(t.read(spark))
    # vacuum leaves exactly the referenced leaves on disk
    t.vacuum(min_age_seconds=0)
    live = {
        os.path.relpath(leaf, t._data_root)
        for leaf in t._live_leaves(t._load_manifest())
    }
    for hist in t._history():
        import json as _json

        with open(hist) as f:
            for leaf in t._live_leaves(_json.load(f)):
                live.add(os.path.relpath(leaf, t._data_root))
    on_disk = set()
    for gen in os.listdir(t._data_root):
        gd = os.path.join(t._data_root, gen)
        if os.path.isdir(gd):
            for rel in t._written_parts(gd):
                on_disk.add(os.path.join(gen, rel))
    assert on_disk == live


def test_crash_matrix_every_put_point(spark, tmp_path):
    """Systematic crash coverage: kill the protocol at EVERY manifest PUT
    of a 3-batch ledgered additive workload. At every crash point the
    table must read as some batch-prefix state (prefix consistency — the
    commit either happened whole or not at all), the retried sequence must
    converge to the exact final state with NO double-fold (the per-bucket
    ledger rides inside the committed parts, so an uncommitted fold never
    advances it), and vacuum(0) must leave only live leaves."""
    from financial_data_ingestion_canonical_snowflake_spark.operators.merge import (
        merge_upsert_scoped,
    )

    ledger = LedgerSpec("__LEDGER__", "v")
    add = {"v": lambda tgt, src: tgt + src}
    batches = [
        [(f"k{i}", 10, "s") for i in range(12)],
        [(f"k{i}", 5, "s") for i in range(0, 12, 2)],
        [(f"k{i}", 2, "s") for i in range(0, 12, 3)] + [("k99", 1, "s")],
    ]

    def run_batch(t, bid):
        merge_upsert_scoped(
            spark, t, _df(spark, batches[bid]), keys=["k"],
            merge_exprs=add, ledger=ledger, batch_id=bid,
        )

    # ground truth per prefix, computed on a crash-free table
    prefix_states = []
    truth_t = ParquetTable(
        str(tmp_path / "truth"), SCHEMA, [PART_COL], n_buckets=4,
        commit=PutOnlyCommit(),
    )
    for bid in range(len(batches)):
        run_batch(truth_t, bid)
        prefix_states.append(_sorted(truth_t.read(spark)))

    # 2 PUTs per trigger (write_meta + replace manifest) x 3 batches
    total_puts = 6
    for crash_at in range(1, total_puts + 1):
        t = ParquetTable(
            str(tmp_path / f"m{crash_at}"), SCHEMA, [PART_COL], n_buckets=4,
            commit=CrashBeforePublish(crash_at),
        )
        crashed_bid = None
        for bid in range(len(batches)):
            try:
                run_batch(t, bid)
            except RuntimeError:
                crashed_bid = bid
                break
        assert crashed_bid is not None, f"crash point {crash_at} never hit"
        # prefix consistency: the table is exactly the state after the
        # last fully-committed batch (or absent before any commit)
        if t.exists():
            state = _sorted(t.read(spark))
            assert state == prefix_states[crashed_bid - 1], (
                f"crash at PUT {crash_at}: state is not the "
                f"batch-{crashed_bid - 1} prefix"
            )
        else:
            assert crashed_bid == 0
        # recovery: swap in a healthy commit, re-run from the failed batch
        t.commit = PutOnlyCommit()
        for bid in range(crashed_bid, len(batches)):
            run_batch(t, bid)
        assert _sorted(t.read(spark)) == prefix_states[-1], (
            f"crash at PUT {crash_at}: retry did not converge (double-fold "
            "or lost batch)"
        )
        # GC retry: nothing but live leaves survives an age-0 vacuum
        t.vacuum(min_age_seconds=0)
        live = {
            os.path.relpath(leaf, t._data_root)
            for leaf in t._live_leaves(t._load_manifest())
        }
        on_disk = set()
        for gen in os.listdir(t._data_root):
            gd = os.path.join(t._data_root, gen)
            if os.path.isdir(gd):
                for rel in t._written_parts(gd):
                    on_disk.add(os.path.join(gen, rel) if rel else gen)
        assert on_disk == live, f"crash at PUT {crash_at}: orphans survive vacuum"


def test_commit_raises_when_staged_generation_was_collected(spark, tmp_path):
    """A commit landing between stage and commit garbage-collects the
    unreferenced staged generation; the later commit must raise instead
    of publishing a manifest that silently drops the staged batch."""
    t = ParquetTable(str(tmp_path / "m"), SCHEMA, [PART_COL], n_buckets=8)
    merge_upsert_scoped(spark, t, _df(spark, [("a", 1, "s1")]), keys=["k"])
    staged = merge_upsert_scoped(
        spark, t, _df(spark, [("b", 2, "s2")]), keys=["k"], stage_only=True
    )
    t.append(_df(spark, [("c", 3, "s3")]).withColumn(PART_COL, F.lit(0)))
    with pytest.raises(FileNotFoundError, match="staged generation"):
        staged.commit()
    assert sorted(r["k"] for r in t.read(spark).collect()) == ["a", "c"]


def test_batch_and_stream_commit_without_renames(spark, tmp_path, monkeypatch):
    """Table-level commits never rename: with ``os.rename`` raising, one
    ``Pipeline.run_batch`` and one ``FullCanonicalSink`` call over the
    fixture files land the same tables as an unpatched run. The manifest
    PUT goes through ``publish_file`` (``os.replace`` on a local disk, a
    single-object PUT on a store). Spark's JVM-side task commit renames
    task attempts through Hadoop's FileSystem, not Python's ``os``, and is
    outside this test."""
    import datetime as dt

    from financial_data_ingestion_canonical_snowflake_spark import schemas
    from financial_data_ingestion_canonical_snowflake_spark.examples import (
        write_fixtures,
    )
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
        FullCanonicalSink,
    )

    root = write_fixtures(str(tmp_path / "ingest"))
    ts = dt.datetime(2026, 2, 1, 12, 0, 0)

    def run(tag: str) -> list[list[tuple]]:
        pipe = Pipeline(
            spark,
            PipelineConfig(root, str(tmp_path / f"wh_{tag}"), batch_ts=ts),
        )
        pipe.run_batch()
        sink_tables = [
            ParquetTable(str(tmp_path / f"s_{tag}_{n}"), schema=s)
            for n, s in (
                ("txn", schemas.CAN_TXN),
                ("line", schemas.CAN_TXN_LINE),
                ("anom", schemas.CAN_TXN_ANOMALY),
            )
        ]
        FullCanonicalSink(*sink_tables, source_system="JSON", batch_ts=ts)(
            pipe.raw_tables["JSON"].read(spark), 0
        )
        tables = [
            pipe.can_txn,
            pipe.can_txn_line,
            pipe.can_txn_anomaly,
            pipe.raw_load_audit,
            *pipe.raw_tables.values(),
            *sink_tables,
        ]
        return [sorted(map(repr, t.read(spark).collect())) for t in tables]

    want = run("plain")

    def no_rename(src, dst, *a, **kw):
        raise AssertionError(f"table commit renamed {src} -> {dst}")

    monkeypatch.setattr(os, "rename", no_rename)
    assert run("norename") == want


def test_parquet_files_without_manifest_are_rejected(spark, tmp_path):
    """A directory of plain parquet files with no _MANIFEST.json was
    written by the retired rename protocol: exists() and read() raise
    ValueError instead of reporting an absent table (which would let the
    next merge start a fresh table over the data)."""
    path = str(tmp_path / "legacy")
    spark.range(3).write.parquet(path)
    t = ParquetTable(path, T.StructType([T.StructField("id", T.LongType())]))
    with pytest.raises(ValueError, match="_MANIFEST.json"):
        t.exists()
    with pytest.raises(ValueError, match="_MANIFEST.json"):
        t.read(spark)
