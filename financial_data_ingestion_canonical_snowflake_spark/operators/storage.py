"""Durable table storage: immutable parquet generations committed by one
manifest PUT (the MERGE landing layer).

No Delta/Iceberg in this environment (SURVEY.md §7.4-1), so a table is a
directory laid out as::

    <path>/_MANIFEST.json                    # the one mutable object
    <path>/_MANIFEST-<seq>.json              # retained history (time travel)
    <path>/data/__gen=<seq>-<uuid>/          # immutable once referenced
        [key=v/[key2=v2/...]]part-*.parquet  # one level per partition col

Every write (``overwrite_atomic``, ``replace_partitions``, ``append``) puts
its files into a fresh generation directory that nothing references yet,
then commits with ONE atomic single-object replace of ``_MANIFEST.json``.
The manifest maps each live partition to the generation directories
holding its bytes (several after appends) and carries the table metadata::

    {"seq": 7,
     "parts": {"txn_part=3": ["__gen=00000005-ab12"],   # newest last
               "txn_part=9": ["__gen=00000002-9c0f", ...]},
     "meta": {...}}                          # read_meta/write_meta home

Unpartitioned tables use the single pseudo-partition key ``""``.

A crash at ANY instant leaves the previous manifest live and the table
readable: before the PUT nothing a reader resolves has changed; after it
the commit is complete, and deleting the displaced generations is garbage
collection that ``vacuum`` retries. The PUT is the only atomic primitive
the protocol needs, and object stores (GCS/S3, the reference's ingestion
source, sql/01_raw_ingestion.sql:26-34) provide it natively — the
table-level protocol of Iceberg/Delta, directory-granular here. Spark's own
task commit for the data files renames task attempts JVM-side; on an
object store the store's direct-write committers own that half.

Readers resolve the manifest and scan exactly the referenced leaf
directories, so a reader planned before a commit keeps reading the old
generation's files. With ``keep_generations > 0`` displaced generations are
retained — lock-free snapshot isolation for in-flight readers and
``read_generation`` time travel; at the default ``0`` the commit's GC
deletes them at once, so an in-flight reader can lose a race with the
delete.

Manifests are leaf-granular: fine through thousands of leaves (growth
curve in ``docs/BENCH_NOTES.md``); a million-leaf deployment wants
Iceberg-style manifest trees. The merge path re-shuffles only on the merge
keys; ``partition_by`` (e.g. the merge's hash bucket) makes scans prune.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_NAME = "_MANIFEST.json"
#: generation directories use key=value naming so Spark's partition
#: discovery parses the path component into a droppable column instead of
#: rejecting the layout ("conflicting directory structures")
GEN_COL = "__gen"


class LocalFileCommit:
    """The file operations of the commit protocol — the seam where an
    object-store client plugs in.

    - ``publish_file`` replaces one file's content atomically: readers see
      the old bytes or the new bytes, never a torn write. The manifest PUT
      is built on it, and it is the protocol's ONLY atomic primitive.
    - ``remove_tree`` deletes unreferenced garbage; it carries no
      atomicity requirement.

    This default uses POSIX ``os.replace``; an object store's single-object
    PUT satisfies the same contract.
    """

    def publish_file(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


#: "not passed" sentinel for scan()'s stored-schema pass-through (None is a
#: meaningful value there: the caller checked and the table never evolved)
_UNSET = object()


def _parquet_bytes(path: str) -> int:
    """Total parquet data bytes under ``path`` (recursive stat walk)."""
    total = 0
    for r, _d, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(r, f))
    return total


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _stored(meta: dict | None) -> T.StructType | None:
    if meta and "schema_json" in meta:
        return T.StructType.fromJson(meta["schema_json"])
    return None


class ParquetTable:
    def __init__(
        self,
        path: str,
        schema: T.StructType | None = None,
        partition_by: Sequence[str] = (),
        n_buckets: int = 16,
        keep_generations: int = 0,
        commit: LocalFileCommit | None = None,
    ):
        # file primitives of the commit (see LocalFileCommit)
        self.commit = commit or LocalFileCommit()
        self.path = path
        self.schema = schema
        self.partition_by = list(partition_by)
        # hash-bucket count for partition-scoped merges; must stay constant
        # for the life of the table (keys map to buckets by this modulus)
        self.n_buckets = n_buckets
        # >0 retains that many displaced data commits: read_generation()
        # time-travels to them, in-flight readers keep their files, and
        # vacuum() prunes past a count lowered later
        self.keep_generations = keep_generations
        self._data_root = os.path.join(path, "data")

    # ---------- manifest plumbing ----------

    def _load_manifest(self) -> dict | None:
        """The live manifest, or None for an absent table. Parquet files
        outside ``data/`` with no manifest were written by the retired
        rename protocol: that raises ``ValueError`` — reading it as absent
        would let the next merge silently start a fresh table over it."""
        p = os.path.join(self.path, MANIFEST_NAME)
        if os.path.isfile(p):
            return _read_json(p)
        for root, dirs, files in os.walk(self.path):
            if root == self.path:
                dirs[:] = [d for d in dirs if d != "data"]
            if any(f.endswith(".parquet") for f in files):
                raise ValueError(
                    f"{self.path}: parquet files without {MANIFEST_NAME} — "
                    "not a table of this format; read it with "
                    "spark.read.parquet and write it to a new table path"
                )
        return None

    def _manifest(self) -> dict:
        return self._load_manifest() or {"seq": 0, "parts": {}, "meta": None}

    def _publish_manifest(self, manifest: dict, retain_history: bool) -> None:
        """THE commit: one atomic single-object replace of the pointer.
        Everything before this call is invisible; everything after is
        garbage collection.

        The history copy is PUT *before* the live pointer: a crash between
        the two PUTs then leaves an extra history entry for a commit that
        never went live — ``read_generation(1)`` resolves to the still-live
        snapshot (one step conservative) and the next commit reuses the
        same seq and atomically replaces the orphan. Pointer-first would
        leave the newest live commit missing from history, so
        ``read_generation(1)`` would silently return the snapshot TWO
        commits back."""
        os.makedirs(self.path, exist_ok=True)
        targets = [os.path.join(self.path, MANIFEST_NAME)]
        if retain_history and self.keep_generations > 0:
            targets.insert(
                0, os.path.join(self.path, f"_MANIFEST-{manifest['seq']:08d}.json")
            )
        for dst in targets:
            tmp = f"{dst}.w-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            self.commit.publish_file(tmp, dst)

    def _history(self) -> list[str]:
        """Retained data-commit manifests, oldest first."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.startswith("_MANIFEST-") and f.endswith(".json")
        )

    def _prune_history(self) -> None:
        """Keep the newest ``keep_generations`` DISPLACED data commits.
        History includes the live commit, so ``keep + 1`` files stay
        (``read_generation(n)`` works for n up to ``keep_generations``)."""
        hist = self._history()
        for stale in hist[: max(0, len(hist) - self.keep_generations - 1)]:
            os.remove(stale)

    def _live_leaves(self, manifest: dict) -> list[str]:
        """Absolute leaf directories referenced by ``manifest``."""
        return [
            os.path.join(self._data_root, g, rel) if rel else os.path.join(self._data_root, g)
            for rel, gens in sorted(manifest.get("parts", {}).items())
            for g in gens
        ]

    def _written_parts(self, gen_dir: str) -> list[str]:
        """Partition rel-paths under ``gen_dir``: one ``key=value`` path
        component per partition column (nested for multi-column layouts,
        e.g. ``client=a/txn_part=3``); ``''`` for an unpartitioned table."""
        rels = [""]
        for _col in self.partition_by:
            nxt = []
            for rel in rels:
                base = os.path.join(gen_dir, rel)
                if not os.path.isdir(base):
                    continue
                for d in os.listdir(base):
                    if "=" in d and os.path.isdir(os.path.join(base, d)):
                        nxt.append(os.path.join(rel, d) if rel else d)
            rels = nxt
        return sorted(rels)

    def _gc(self, live: dict, min_age_seconds: float | None = None) -> list[str]:
        """Delete generation leaves that neither ``live`` nor a retained
        history manifest references; a generation left with no live leaf
        goes whole (writer marker files like ``_SUCCESS`` included).
        ``min_age_seconds`` spares younger paths: a partitioned generation
        MID-WRITE holds only Spark's ``_temporary`` dir, and only the age
        gate keeps a concurrent vacuum from deleting it before its
        manifest PUT. A commit's own GC passes None (the table is
        single-writer). Returns the deleted paths."""
        refs = {
            os.path.relpath(leaf, self._data_root)
            for m in [live, *map(_read_json, self._history())]
            for leaf in self._live_leaves(m)
        }
        now = time.time()

        def old(p: str) -> bool:
            return min_age_seconds is None or now - os.path.getmtime(p) >= min_age_seconds

        deleted: list[str] = []
        if not os.path.isdir(self._data_root):
            return deleted
        for gen in sorted(os.listdir(self._data_root)):
            gen_full = os.path.join(self._data_root, gen)
            if gen in refs or not os.path.isdir(gen_full):
                continue  # an unpartitioned generation is its own leaf
            rels = self._written_parts(gen_full) if self.partition_by else []
            dead = [
                os.path.join(gen_full, r)
                for r in rels
                if os.path.join(gen, r) not in refs and old(os.path.join(gen_full, r))
            ]
            victims = [gen_full] if len(dead) == len(rels) and old(gen_full) else dead
            for p in victims:
                self.commit.remove_tree(p)
            deleted.extend(victims)
        return deleted

    def _write_generation(self, df: DataFrame, seq: int) -> str:
        """Write ``df`` into a fresh, unreferenced generation directory."""
        gen_dir = os.path.join(
            self._data_root, f"{GEN_COL}={seq:08d}-{uuid.uuid4().hex[:8]}"
        )
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(gen_dir)
        return gen_dir

    def _commit(self, manifest: dict, spark: SparkSession) -> None:
        """Publish a data commit, prune history, collect what it displaced
        and drop Spark's cached listing of the table."""
        self._publish_manifest(manifest, retain_history=True)
        self._prune_history()
        self._gc(manifest)
        spark.catalog.refreshByPath(self._data_root)

    # ---------- metadata ----------

    def exists(self) -> bool:
        m = self._load_manifest()
        return bool(m and m["parts"])

    def read_meta(self) -> dict | None:
        return (self._load_manifest() or {}).get("meta")

    def write_meta(self, **meta) -> None:
        """Meta-only commit: same parts, bumped seq, no history entry
        (time travel tracks DATA versions)."""
        m = self._manifest()
        self._publish_manifest(
            {"seq": m["seq"] + 1, "parts": m["parts"], "meta": meta},
            retain_history=False,
        )

    def stored_schema(self) -> T.StructType | None:
        """The evolved union schema recorded in the table metadata (by
        ``merge_upsert_scoped(evolve_schema=True)``), or None for tables
        that never evolved. When present it is the layout TRUTH: leaves
        carry mixed physical schemas and every read must supply this
        schema explicitly (old files fill added columns with typed NULLs;
        a footer-inferred read could pick an old file and lose the added
        columns)."""
        return _stored(self.read_meta())

    # ---------- reads ----------

    def _read_leaves(self, spark: SparkSession, m: dict, stored) -> DataFrame:
        """Physical read of one manifest's leaves (partition columns
        included, ``__gen`` dropped). The file index holds ONLY referenced
        directories, so stale generations are invisible even mid-GC, and
        partition pruning works as on a plain hive layout. A partitioned
        manifest whose only entry is the ``""`` pseudo-partition (an
        explicitly committed EMPTY state — see ``overwrite_atomic``) holds
        no parquet files, so it reads as an empty frame of the
        recorded/declared schema."""
        leaves = self._live_leaves(m)
        if not leaves:
            raise FileNotFoundError(f"{self.path}: table has no data")
        if self.partition_by and list(m["parts"]) == [""]:
            base = stored if stored is not None else self.schema
            if base is None:
                raise FileNotFoundError(
                    f"{self.path}: empty table without a recorded or "
                    "declared schema"
                )
            from .merge import PART_COL  # local: avoids an import cycle

            fields = list(base.fields)
            have = {f.name for f in fields}
            # the scoped-merge bucket column is int; any other partition
            # column materializes as string under hive-layout discovery
            fields += [
                T.StructField(pc, T.IntegerType() if pc == PART_COL else T.StringType())
                for pc in self.partition_by
                if pc not in have
            ]
            return spark.createDataFrame([], T.StructType(fields))
        reader = spark.read if stored is None else spark.read.schema(stored)
        if self.partition_by:
            reader = reader.option("basePath", self._data_root)
        return reader.parquet(*leaves).drop(GEN_COL)

    def scan(self, spark: SparkSession, stored=_UNSET) -> DataFrame:
        """PHYSICAL read: the live leaves with partition/bucket columns
        included and the evolved union schema applied when one is recorded.
        Pass ``stored=`` (a StructType, or None for "I checked — not
        evolved") to reuse an already-loaded metadata read — the scoped
        merge is pinned to ONE meta read per trigger."""
        m = self._load_manifest()
        if not m:
            raise FileNotFoundError(f"{self.path}: table not found")
        return self._read_leaves(
            spark, m, _stored(m["meta"]) if stored is _UNSET else stored
        )

    def _project(self, df: DataFrame, meta: dict | None) -> DataFrame:
        """The logical read surface over a physical scan: a declared
        schema narrows to its fields; otherwise the internal hash-bucket
        column of a scoped-merge layout (``partition_by ==
        [merge.PART_COL]``) is dropped — it is a physical detail, not
        table data. Real partition columns (client_id, load_date, ...)
        are data and stay. Replay-ledger sentinel rows recorded in the
        metadata (``merge.LedgerSpec``) are bookkeeping too and are
        filtered out."""
        if meta and "ledger_sentinel" in meta:
            df = df.filter(
                ~F.col(meta["keys"][0]).eqNullSafe(F.lit(meta["ledger_sentinel"]))
            )
        if self.schema is not None:
            return df.select(*[f.name for f in self.schema.fields])
        from .merge import PART_COL  # local: avoids an import cycle

        if self.partition_by == [PART_COL]:
            return df.drop(PART_COL)
        return df

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the table from ONE manifest load; an absent table reads as
        empty when a schema is declared (lets the first merge run against
        an empty target). An evolved table (``stored_schema``) reads under
        its recorded union schema."""
        m = self._load_manifest()
        if m and m["parts"]:
            return self._project(
                self._read_leaves(spark, m, _stored(m["meta"])), m["meta"]
            )
        if self.schema is None:
            raise FileNotFoundError(f"table not found and no schema: {self.path}")
        return spark.createDataFrame([], self.schema)

    def read_generation(self, spark: SparkSession, n_back: int = 1) -> DataFrame:
        """Time-travel read: the data commit ``n_back`` snapshots before
        the live one. Requires ``keep_generations >= n_back`` to have been
        set when the commits ran; raises when the snapshot is gone.
        Pre-evolution snapshots read under the current union schema."""
        hist = self._history()
        # history holds every retained data commit INCLUDING the live one
        if n_back < 1 or len(hist) <= n_back:
            raise FileNotFoundError(
                f"{self.path}: no generation {n_back} back "
                f"({max(0, len(hist) - 1)} retained)"
            )
        m = _read_json(hist[-(n_back + 1)])
        return self._project(
            self._read_leaves(spark, m, self.stored_schema()), m["meta"]
        )

    def data_bytes(self) -> int:
        """Parquet bytes of the LIVE leaves only — unreferenced generations
        (pre-GC garbage) must not inflate maintenance triggers."""
        m = self._load_manifest()
        return sum(_parquet_bytes(leaf) for leaf in self._live_leaves(m or {}))

    def partition_dir_names(self) -> list[str]:
        """Live hive partition rel-paths (``key=value[/key2=value2]``) —
        the weak pre-metadata modulus check reads these."""
        m = self._load_manifest()
        return sorted(rel for rel in (m or {}).get("parts", {}) if "=" in rel)

    def sql_relation(self) -> str:
        """A SQL relation over the live leaves, for catalog objects that
        must be plain SQL text (a permanent view cannot reference a
        DataFrame or resolve a manifest). Partition discovery over
        ``data/`` exposes ``__gen`` and the partition columns, and a
        partition filter keeps exactly the leaves of the current manifest
        (values compared as their directory strings). Exact until the next
        commit: its GC can remove leaves the relation names."""
        m = self._load_manifest()
        if not (m and m["parts"]):
            raise FileNotFoundError(f"{self.path}: table has no data")
        conds = []
        for rel, gens in sorted(m["parts"].items()):
            for g in gens:
                kvs = [c.split("=", 1) for c in [g, *rel.split("/")] if c]
                conds.append(
                    " AND ".join(
                        f"CAST(`{k}` AS STRING) = '"
                        + unquote(v).replace("\\", "\\\\").replace("'", "\\'")
                        + "'"
                        for k, v in kvs
                    )
                )
        where = " OR ".join(f"({c})" for c in conds)
        return f"(SELECT * FROM parquet.`{self._data_root}` WHERE {where})"

    # ---------- writes ----------

    def overwrite_atomic(self, df: DataFrame, new_meta: dict | None = None) -> None:
        """Replace the whole table with ``df`` in one commit.

        ``new_meta``: layout metadata describing the NEW generation (a
        rebucket changes the bucket modulus); it lands in the same
        manifest PUT as the data, so the layout and its description can
        never disagree. Without it the current metadata is kept (a
        same-layout rewrite like ``compact`` must not drop the bucket
        modulus). Either way a tracked ``total_bytes`` is refreshed to the
        rewrite's measured size."""
        m = self._manifest()
        seq = m["seq"] + 1
        gen_dir = self._write_generation(df, seq)
        gen = os.path.basename(gen_dir)
        meta = dict(new_meta) if new_meta is not None else dict(m["meta"] or {})
        if new_meta is not None or m["meta"] is not None:
            meta["total_bytes"] = _parquet_bytes(gen_dir)
        # an empty partitioned overwrite writes no key=value leaves; commit
        # the "" pseudo-partition pointing at the (empty) generation so the
        # table stays EXISTING-but-empty instead of flipping to absent
        # (Scd2Sink.rebuild over an empty retained log must not send the
        # next scoped merge down the first-batch path)
        parts = {rel: [gen] for rel in self._written_parts(gen_dir)} or {"": [gen]}
        self._commit({"seq": seq, "parts": parts, "meta": meta or None}, df.sparkSession)

    def replace_partitions(self, df: DataFrame) -> list[str]:
        """Replace ONLY the hive partitions present in ``df``; every other
        partition's files are untouched bytes. Works when ``df``'s plan
        READS this same table (the merge case): the new partitions land in
        a fresh generation, never in a path the plan scans. Returns the
        replaced partition rel-paths (e.g. ``['txn_part=3',
        'txn_part=7']``).

        This is the delta-proportional write primitive for the merge path —
        cost scales with the partitions a batch touches, matching reference
        MERGE (sql/05_merge_canonical.sql:6-53), not with table size.
        """
        return self.commit_replace_partitions(self.stage_replace_partitions(df))

    def stage_replace_partitions(self, df: DataFrame) -> dict:
        """STAGE half of ``replace_partitions``: run the Spark write job
        into a fresh, UNREFERENCED generation (``"tmp"`` in the returned
        handle), touching nothing a reader resolves.

        The split exists so sinks maintaining SEVERAL tables per trigger
        (e.g. the CDC chunk+frequency pair) can run the expensive staging
        writes CONCURRENTLY (guide §2.6 — independent jobs back-fill each
        other's stragglers) while keeping the COMMITS strictly ordered,
        which is what their crash contracts are stated in terms of. A
        staged-then-crashed write is invisible garbage for ``vacuum``."""
        if not self.partition_by:
            raise ValueError(f"{self.path}: replace_partitions needs partition_by")
        # the name only needs uniqueness (uuid suffix); the committed seq
        # is re-read at commit time
        tmp = self._write_generation(df, self._manifest()["seq"] + 1)
        return {"tmp": tmp, "spark": df.sparkSession}

    def abort_replace_partitions(self, staged: dict) -> None:
        """Discard a staged-but-uncommitted replacement (pure cleanup)."""
        self.commit.remove_tree(staged["tmp"])

    def commit_replace_partitions(self, staged: dict) -> list[str]:
        """COMMIT half: one manifest PUT re-pointing the touched leaves at
        the staged generation (driver-side only — no Spark job).

        No other commit may land on this table between the stage and this
        commit: its GC deletes the still-unreferenced staged generation.
        A vanished generation raises ``FileNotFoundError`` rather than
        publishing a manifest that silently drops the staged batch."""
        gen_dir = staged["tmp"]
        gen = os.path.basename(gen_dir)
        if not os.path.isdir(gen_dir):
            raise FileNotFoundError(
                f"{self.path}: staged generation {gen} no longer exists — "
                "another commit landed on the table after the stage"
            )
        m = self._manifest()
        touched = [r for r in self._written_parts(gen_dir) if r]
        parts = dict(m["parts"])
        meta = dict(m["meta"] or {})
        if "total_bytes" in meta:
            # maintain merge.maybe_rebucket's size tracker by stat-ing only
            # the TOUCHED leaves (delta cost)
            for rel in touched:
                meta["total_bytes"] += _parquet_bytes(os.path.join(gen_dir, rel)) - sum(
                    _parquet_bytes(os.path.join(self._data_root, g, rel))
                    for g in parts.get(rel, [])
                )
        for rel in touched:
            parts[rel] = [gen]
        if touched:
            # real leaves supersede the explicit-empty pseudo-partition
            parts.pop("", None)
        self._commit(
            {"seq": m["seq"] + 1, "parts": parts, "meta": meta or m["meta"]},
            staged["spark"],
        )
        return touched

    def append(self, df: DataFrame) -> None:
        """Add ``df`` as a new generation on every partition it writes."""
        m = self._manifest()
        seq = m["seq"] + 1
        gen_dir = self._write_generation(df, seq)
        gen = os.path.basename(gen_dir)
        parts = {k: list(v) for k, v in m["parts"].items()}
        written = self._written_parts(gen_dir)
        if any(written):
            # real leaves supersede the explicit-empty pseudo-partition
            parts.pop("", None)
        for rel in written:
            parts.setdefault(rel, []).append(gen)
        meta = dict(m["meta"] or {})
        if "total_bytes" in meta:
            meta["total_bytes"] += sum(
                _parquet_bytes(os.path.join(gen_dir, rel)) for rel in written
            )
        self._commit(
            {"seq": seq, "parts": parts, "meta": meta or m["meta"]}, df.sparkSession
        )

    # ---------- maintenance ----------

    def vacuum(self, min_age_seconds: float = 24 * 3600) -> list[str]:
        """Scheduled maintenance, the analog of Delta ``VACUUM``: prune
        history past ``keep_generations`` (it may have been lowered since
        the last commit), then delete generation leaves no retained
        manifest references and ``_MANIFEST*.w-*`` temp objects of a
        crashed PUT, once older than ``min_age_seconds``. Age-gating
        protects a write that has produced files but not yet PUT its
        manifest — pass 0 only when no writer can be active. Returns the
        deleted paths."""
        self._prune_history()
        deleted: list[str] = []
        if os.path.isdir(self.path):
            now = time.time()
            for f in sorted(os.listdir(self.path)):
                fp = os.path.join(self.path, f)
                if (
                    f.startswith("_MANIFEST")
                    and ".w-" in f
                    and now - os.path.getmtime(fp) >= min_age_seconds
                ):
                    os.remove(fp)
                    deleted.append(fp)
        return deleted + self._gc(self._load_manifest() or {}, min_age_seconds)


def compact(
    table: ParquetTable,
    spark: SparkSession,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite an append-maintained table into right-sized files.

    Streaming/incremental appends (raw tables, load audit) accumulate one
    small generation per micro-batch; scans then pay one task + one open
    per file and one listed path per generation. Compaction reads the
    table once and atomically rewrites it into ``ceil(rows /
    target_rows_per_file)`` files in ONE generation. Returns the new file
    count.

    At 100 TB this is the scheduled-maintenance analog of Delta OPTIMIZE;
    partitioned tables compact within partitions (repartition keeps the
    partition columns so partitionBy on rewrite preserves layout).
    """
    df = table.read(spark)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    cols = [c for c in table.partition_by] or None
    out = df.repartition(n_files, *cols) if cols else df.repartition(n_files)
    table.overwrite_atomic(out)
    return n_files
