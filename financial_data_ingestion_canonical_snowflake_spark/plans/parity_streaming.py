"""Live Structured-Streaming parity query.

Unlike ``stream_tumbling_window_agg`` (the batch twin of the streaming plan),
this query drives the REAL streaming path: file-source readStream ->
watermarked tumbling window -> availableNow drain into a memory sink — and
still hash-matches the DuckDB oracle, proving streaming/batch agreement on
the same input (SURVEY.md §2.12).
"""

from __future__ import annotations

import tempfile
import uuid

_EVENTS_DIR_CACHE: dict[tuple[int, str], str] = {}

from pyspark.sql import functions as F

from ..streaming.ingest import file_stream, watermarked_window_agg
from .registry import parity, table

_DEC18 = "decimal(18,6)"
_DEC38 = "decimal(38,6)"


@parity(
    "stream_live_windowed_agg",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_live_windowed_agg(spark, sf_dir):
    """End-to-end streaming run over the events table.

    The driver's events parquet is TIMESTAMP(NANOS) (unreadable by a
    streaming scan), so the batch reader first lands it as a proper-timestamp
    parquet dir; the streaming query then treats that dir as an arriving
    file feed.
    """
    key = (id(spark._jsparkSession), sf_dir)
    if key not in _EVENTS_DIR_CACHE:
        src = tempfile.mkdtemp(prefix="fincan_stream_") + "/events"
        table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
        _EVENTS_DIR_CACHE[key] = src
    src_dir = _EVENTS_DIR_CACHE[key]
    ckpt = tempfile.mkdtemp(prefix="fincan_stream_ckpt_")

    stream = file_stream(spark, src_dir, max_files_per_trigger=2)
    agg = watermarked_window_agg(
        stream,
        "ts",
        window="1 hour",
        watermark="1 hour",
        group_cols=("event_type",),
        aggs={
            "event_cnt": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast(_DEC18)).cast(_DEC38),
        },
    )
    name = f"stream_parity_{uuid.uuid4().hex[:8]}"
    # state shards sized for a micro-batch drain (session.py
    # stream_state_partitions: per-shard commit cost dominates once shards
    # outnumber state volume — r15, measured on the interval probe)
    from ..session import stream_partitions_conf

    with stream_partitions_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")  # emit every window; comparable to batch SQL
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "event_cnt",
        F.col("total_value").cast("double").alias("total_value"),
    )


@parity(
    "ns_sessionize_batch",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               CAST(value AS DECIMAL(18,6)) AS val
        FROM events
    ),
    lagged AS (
        SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        FROM e
    ),
    marked AS (
        SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
        FROM lagged
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(val) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def ns_sessionize_batch(spark, sf_dir):
    """Gap-based (30 min) sessionization per user — lag-mark + running-sum
    session ids + rollup, one shuffle total (operators/sessionize.py). The
    streaming twin (applyInPandasWithState) is verified against this plan in
    tests/test_sessionize.py."""
    from ..operators.sessionize import sessionize_batch

    e = table(spark, sf_dir, "events").withColumn(
        "val", F.col("value").cast(_DEC18)
    )
    out = sessionize_batch(e, gap_minutes=30, value_col="val")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


_SCD2_SRC_CACHE: dict[tuple[int, str], str] = {}


def _scd2_event_slices(spark, sf_dir: str) -> str:
    """Write the (non-NULL-user) events as FOUR time-contiguous parquet
    files with strictly ascending mtimes, so the file-source stream
    delivers them as four in-order micro-batches (maxFilesPerTrigger=1;
    FileStreamSource orders by modification time). In-order-per-key
    delivery is the Scd2Sink contract for exact batch equality — slice
    boundaries are fixed ts cutoffs, so every event in trigger k+1 is
    >= every event in trigger k. One tiny min/max collect; each slice
    write is an independent pushed-down scan (no cached mid-plan state
    to drift between writes)."""
    import os

    key = (id(spark._jsparkSession), sf_dir)
    if key in _SCD2_SRC_CACHE:
        return _SCD2_SRC_CACHE[key]
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id", "ts", "event_type")
    )
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    if lo is None:  # no non-NULL-user rows: int(None) below would TypeError
        raise ValueError(
            f"_scd2_event_slices: no events with non-NULL user_id in {sf_dir}"
        )
    src = tempfile.mkdtemp(prefix="fincan_scd2_src_")
    n_slices = 4
    span = max(int(hi) - int(lo), 0) + 1
    us = F.unix_micros("ts")
    stamped: set[str] = set()
    for i in range(n_slices):
        a = int(lo) + span * i // n_slices
        b = int(lo) + span * (i + 1) // n_slices
        sl = ev.filter((us >= F.lit(a)) & (us < F.lit(b)))
        sl.coalesce(1).write.mode("append").parquet(src)
        # pin the slice's file to a strictly ascending mtime immediately
        # after its write (append-mode part files carry UUID names, so
        # name order is meaningless — write order is the time order)
        for f in os.listdir(src):
            if f.startswith("part-") and f not in stamped:
                t_ns = 10**9 * (i + 1)
                os.utime(os.path.join(src, f), ns=(t_ns, t_ns))
                stamped.add(f)
    _SCD2_SRC_CACHE[key] = src
    return src


@parity(
    "stream_live_scd2",
    oracle="""
    WITH src AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events WHERE user_id IS NOT NULL
    ),
    chg AS (
        SELECT user_id, event_type, ts, event_id FROM src
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version_n,
           event_type AS state,
           CAST(epoch_us(ts) AS BIGINT) AS eff_from_us,
           CAST(lead(epoch_us(ts)) OVER w AS BIGINT) AS eff_to_us,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def stream_live_scd2(spark, sf_dir):
    """REAL stateful streaming maintenance, driver-certified: the events
    change feed arrives as four time-ordered files, a file-source
    readStream drains them with availableNow (maxFilesPerTrigger=1 ->
    four micro-batches) through the persisted Scd2Sink — per trigger the
    sink restricts the version table to the batch's keys, re-collapses
    with scd2_build, and folds back via merge_upsert into an atomic
    table commit (streaming/scd2_stream.py). The resulting version table
    hash-matches the one-shot batch SCD2 oracle, proving the incremental
    fold's state converges to the batch truth. Fresh state + checkpoint
    per call (the fold itself is the measured work); the sliced source
    dir is session-cached like the other live-stream feeds. The state
    table is hash-BUCKETED, so each trigger runs the bucket-scoped fold
    (only the batch keys' buckets read + rewritten) — the production
    layout, hash-certified here."""
    from ..operators.merge import PART_COL
    from ..operators.storage import ParquetTable
    from ..streaming.scd2_stream import Scd2Sink, stream_scd2

    src = _scd2_event_slices(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="fincan_scd2_state_")
    state = ParquetTable(work + "/versions", partition_by=[PART_COL], n_buckets=8)
    q = stream_scd2(
        spark,
        src,
        state,
        work + "/ckpt",
        max_files_per_trigger=1,
    )
    # awaitTermination returns False on timeout — a hung drain must fail
    # loudly, not hand back a partially-folded version table
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream_live_scd2: drain did not finish in 300s")
    return Scd2Sink(state, "user_id", "event_type", "ts", "event_id").versions(
        spark
    )


@parity(
    "stream_live_interval_join",
    oracle="""
    SELECT e.user_id, e.event_id AS err_id, epoch_us(e.ts) AS err_us,
           c.event_id AS click_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS micros_before
    FROM events e
    JOIN events c
      ON c.user_id = e.user_id
     AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    """,
)
def stream_live_interval_join(spark, sf_dir):
    """REAL stream-stream join: error and click file streams joined on
    user_id within a 1-hour event-time band under watermarks, drained with
    availableNow into a memory sink — and hash-matching the batch
    inequality-join oracle. The band predicate on both event-time columns
    is what bounds the join state (streaming/ingest.py
    stream_stream_interval_join)."""
    import uuid as _uuid

    from ..streaming.ingest import stream_stream_interval_join

    key = (id(spark._jsparkSession), sf_dir)
    if key not in _EVENTS_DIR_CACHE:
        src = tempfile.mkdtemp(prefix="fincan_stream_") + "/events"
        table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
        _EVENTS_DIR_CACHE[key] = src
    src_dir = _EVENTS_DIR_CACHE[key]

    ev = file_stream(spark, src_dir, max_files_per_trigger=4)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    joined = stream_stream_interval_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="err_ts",
        right_ts="click_ts",
        lower="INTERVAL 1 HOUR",
        upper="INTERVAL 0 SECONDS",
        watermark="2 hours",
    )
    name = f"stream_ssij_{_uuid.uuid4().hex[:8]}"
    # four state stores per shard here — the stream-stream join is where
    # per-shard commit overhead bites hardest (5.4-6.3 s at 32 shards vs
    # 2.3-2.4 s at 8, identical results — r15); shard count from
    # session.py stream_state_partitions
    from ..session import stream_partitions_conf

    with stream_partitions_conf(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")  # the only mode stream-stream joins support
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="fincan_ssij_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_live_interval_join: drain timed out (300s)"
            )
    return spark.table(name).select(
        "user_id",
        "err_id",
        F.unix_micros("err_ts").alias("err_us"),
        "click_id",
        (F.unix_micros("err_ts") - F.unix_micros("click_ts")).alias("micros_before"),
    )


# --------------------------------------------------------------------------
# Live-drain certification of the two remaining pytest-only sink classes:
# MinHashLshDedupSink and ImportanceFeatureSink (r8 verdict item 6). One
# probe streams the documents table through BOTH sinks with availableNow
# and returns the union of their persisted state tables; the oracle is the
# batch truth each sink's fold invariant promises (full LSH self-join /
# whole-corpus feature counts). Folded into ns_curation_digest — no new
# driver window slot.
# --------------------------------------------------------------------------

_DOC_SLICES_CACHE: dict[tuple[int, str], str] = {}
_IMP_BITS = 16


def _doc_slices(spark, sf_dir: str, n_slices: int = 3) -> str:
    """Documents as ``n_slices`` doc_id-ranged parquet files with strictly
    ascending mtimes — a deterministic multi-trigger file-source feed (the
    _scd2_event_slices pattern; both sinks' folds are order-independent,
    the stamping just pins the batch boundaries)."""
    import os

    key = (id(spark._jsparkSession), sf_dir)
    if key in _DOC_SLICES_CACHE:
        return _DOC_SLICES_CACHE[key]
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    if lo is None:
        raise ValueError(f"_doc_slices: empty documents table in {sf_dir}")
    src = tempfile.mkdtemp(prefix="fincan_docslices_")
    span = int(hi) - int(lo) + 1
    stamped: set[str] = set()
    for i in range(n_slices):
        a = int(lo) + span * i // n_slices
        b = int(lo) + span * (i + 1) // n_slices
        sl = d.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
        sl.coalesce(1).write.mode("append").parquet(src)
        for f in os.listdir(src):
            if f.startswith("part-") and f not in stamped:
                t_ns = 10**9 * (i + 1)
                os.utime(os.path.join(src, f), ns=(t_ns, t_ns))
                stamped.add(f)
    _DOC_SLICES_CACHE[key] = src
    return src


_EMB_SLICES_CACHE: dict[tuple[int, str], str] = {}
_IVF_K = 8


def _emb_slices(spark, sf_dir: str, n_slices: int = 3) -> str:
    """Embeddings as ``n_slices`` vec_id-ranged parquet files with pinned
    ascending mtimes — the _doc_slices pattern for the IVF index drain."""
    import os

    key = (id(spark._jsparkSession), sf_dir)
    if key in _EMB_SLICES_CACHE:
        return _EMB_SLICES_CACHE[key]
    d = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lo, hi = d.agg(F.min("vec_id"), F.max("vec_id")).collect()[0]
    if lo is None:
        raise ValueError(f"_emb_slices: empty embeddings table in {sf_dir}")
    src = tempfile.mkdtemp(prefix="fincan_embslices_")
    span = int(hi) - int(lo) + 1
    stamped: set[str] = set()
    for i in range(n_slices):
        a = int(lo) + span * i // n_slices
        b = int(lo) + span * (i + 1) // n_slices
        sl = d.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b))
        sl.coalesce(1).write.mode("append").parquet(src)
        for f in os.listdir(src):
            if f.startswith("part-") and f not in stamped:
                t_ns = 10**9 * (i + 1)
                os.utime(os.path.join(src, f), ns=(t_ns, t_ns))
                stamped.add(f)
    _EMB_SLICES_CACHE[key] = src
    return src


def _chunk_freq_truth_sql() -> str:
    """Batch truth of the CDC chunk drains: the chunk-hash ->
    distinct-document frequency table over the whole corpus (parity_text's
    shared chunk CTE + the sink's lowercased-chunk hash convention).
    Shared by the steady-state live-sinks oracle and the forced-rebucket
    probe's oracle — one truth, two drain postures."""
    from . import parity_text as pt

    return (
        pt._CDC_CHUNKS_CTE
        + """,
    hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5(lower(chunk_text)), 1, 15))::BIGINT AS h
        FROM cdc_chunks
    )
    SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM hashed GROUP BY 1
    """
    )


def _stream_live_sinks_oracle() -> str:
    # batch truths: the registered full-LSH-self-join oracle rebased from
    # the twin-injected docs2 corpus onto the raw documents table, plus
    # whole-corpus hashed-2-gram bucket counts (the importance oracle's
    # feature CTE, ungrouped by doc)
    from . import parity_text as pt
    from .registry import ALL_ORACLE_SQL

    lsh_sql = ALL_ORACLE_SQL["ns_dedup_minhash_lsh"]
    # a silent no-op .replace would leave the oracle computing over the
    # twin-injected corpus and only surface as a confusing digest
    # mismatch at run time — fail at import with a clear message instead
    # (explicit raise, not assert: the guard must survive `python -O`)
    if pt._DOCS2 not in lsh_sql:
        raise RuntimeError(
            "ns_dedup_minhash_lsh oracle no longer embeds parity_text._DOCS2 "
            "verbatim; ns_stream_live_sinks' textual rebase would no-op"
        )
    pairs = lsh_sql.replace(pt._DOCS2, "SELECT doc_id, text FROM documents")
    grams2 = (
        "CASE WHEN len(toks) >= 2 THEN "
        "list_transform(generate_series(1, len(toks) - 1), "
        "i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END"
    )
    feats = f"""
    SELECT (('0x' || substr(md5(g), 1, 15))::BIGINT % {1 << _IMP_BITS}) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
        SELECT UNNEST({grams2}) AS g
        FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents)
    ) GROUP BY 1
    """
    # third drain truth: the CDC chunk-hash -> distinct-doc frequency
    # table over the whole corpus (shared with ns_stream_rebucket_drain)
    chunk_freq = _chunk_freq_truth_sql()
    # fourth drain truth: nearest-centroid assignment of every embedding
    # to the deterministic lowest-id quantizer (the assign_to_centroids
    # mirror the kmeans/semantic oracles already certify)
    from . import parity_vector as pv

    ivf_assign = f"""
    WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, e AS cent_vec
        FROM emb WHERE vec_id < {_IVF_K}
    )
    SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id FROM (
        SELECT emb.vec_id, centroid_id,
               row_number() OVER (PARTITION BY emb.vec_id
                    ORDER BY {pv._sql_cos('e', 'cent_vec')} DESC, centroid_id)
                   AS crank
        FROM emb CROSS JOIN cents
    ) WHERE crank = 1
    """
    return (
        f"SELECT 'lsh_pair' AS kind, id_a AS k1, id_b AS k2, "
        f"matching_minhashes AS v FROM ({pairs}) __p"
        "\nUNION ALL\n"
        f"SELECT 'feature', bucket, 0, cnt FROM ({feats}) __f"
        "\nUNION ALL\n"
        f"SELECT 'chunk_freq', h, 0, doc_freq FROM ({chunk_freq}) __cf"
        "\nUNION ALL\n"
        f"SELECT 'ivf_assign', vec_id, centroid_id, 0 FROM ({ivf_assign}) __iv"
    )


@parity(
    "ns_stream_live_sinks",
    driver=False,  # driver slot: folded into ns_curation_digest
    oracle=_stream_live_sinks_oracle(),
)
def ns_stream_live_sinks(spark, sf_dir):
    """REAL streaming drains through the two stateful-maintenance sink
    classes the pytest suite alone covered before:

    - ``MinHashLshDedupSink`` (streaming/dedup_stream.py): three
      micro-batches of documents fold signatures + incremental candidate
      pairs into persisted tables; with ``max_bucket_width=None`` the
      final pair table must equal the FULL LSH self-join over the whole
      corpus (the sink's stream==batch invariant, now hash-certified
      cross-engine, not just pytest-asserted).
    - ``ImportanceFeatureSink`` (streaming/importance_stream.py): additive
      hashed-2-gram bucket counts with the in-table replay ledger; the
      drained table must equal the whole-corpus feature counts.
    - ``CdcChunkSink`` (streaming/chunk_freq_stream.py): the CDC
      chunk-hash -> distinct-document frequency fold (span removal's
      incremental input); the drained frequency table must equal the
      whole-corpus rechunk-and-count.
    - ``IvfIndexSink`` (streaming/ivf_stream.py): embedding micro-batches
      fold into the maintained IVF inverted-list table (keyed merge,
      fixed lowest-id quantizer); the drained assignments must equal the
      batch ``assign_to_centroids`` over the whole embeddings table.

    Fresh state tables + checkpoints per call; the sliced source dirs are
    session-cached like the other live-stream feeds. Every state table is
    hash-BUCKETED (the production layout), so each drain exercises the
    bucket-scoped folds — per-trigger I/O proportional to the batch's
    bucket footprint, with the additive folds (feature counts, chunk
    doc-freq) ledger-guarded per bucket — and the resulting state is
    hash-certified against the batch oracle.

    This probe runs at STEADY-STATE bucket counts by design (VERDICT r14
    next-step #1): it is the per-round regression signal for each sink's
    per-trigger economics, so it must not carry deliberate maintenance
    work. The forced mid-drain auto-rebucket crossing (and its
    64-bucket-tiny-file aftermath) lives in its own probe,
    :func:`ns_stream_rebucket_drain`, timed and certified separately."""
    from ..operators.merge import PART_COL
    from ..operators.storage import ParquetTable
    from ..streaming.chunk_freq_stream import CdcChunkSink, stream_cdc_chunks
    from ..streaming.dedup_stream import MinHashLshDedupSink, stream_minhash_dedup
    from ..streaming.importance_stream import (
        ImportanceFeatureSink,
        stream_importance_features,
    )
    from ..streaming.ivf_stream import IvfIndexSink, stream_ivf_index

    src = _doc_slices(spark, sf_dir)
    emb_src = _emb_slices(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="fincan_live_sinks_")

    def _bucketed(name: str) -> ParquetTable:
        return ParquetTable(
            work + "/" + name, partition_by=[PART_COL], n_buckets=8
        )

    sig_t = _bucketed("sigs")
    pairs_t = _bucketed("pairs")
    feat_t = _bucketed("features")
    chunk_t = _bucketed("chunks")
    cfreq_t = _bucketed("chunk_freq")
    index_t = _bucketed("ivf_index")
    cents_t = ParquetTable(work + "/ivf_cents")
    cents_t.overwrite_atomic(
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_IVF_K)
    )

    # start ALL drains before awaiting any: the queries share no state
    # (separate tables + checkpoints), so their micro-batches interleave
    # across the executor pool instead of serializing harness startups
    q1 = stream_minhash_dedup(
        spark, src, sig_t, pairs_t, work + "/ckpt_lsh",
        max_files_per_trigger=1, num_hashes=16, bands=4, min_matching=8,
        max_bucket_width=None,
    )
    q2 = stream_importance_features(
        spark, src, feat_t, work + "/ckpt_imp",
        shingle_len=2, hash_bits=_IMP_BITS, max_files_per_trigger=1,
    )
    # steady-state posture: no rebucket trigger here — the forced
    # mid-drain split crossing is ns_stream_rebucket_drain's job
    q3 = stream_cdc_chunks(
        spark, src, chunk_t, cfreq_t, work + "/ckpt_chunks",
        divisor=8, max_files_per_trigger=1,
    )
    q4 = stream_ivf_index(
        spark, emb_src, index_t, cents_t, work + "/ckpt_ivf",
        max_files_per_trigger=1,
    )
    drains = (
        (q1, "LSH"), (q2, "feature"), (q3, "chunk_freq"), (q4, "ivf_index")
    )
    for q, what in drains:
        if not q.awaitTermination(300):
            for qq, _ in drains:
                qq.stop()
            raise RuntimeError(
                f"ns_stream_live_sinks: {what} drain timed out (300s)"
            )

    pairs = pairs_t.read(spark).select(
        F.lit("lsh_pair").alias("kind"),
        F.col("id_a").alias("k1"),
        F.col("id_b").alias("k2"),
        F.col("matching_minhashes").alias("v"),
    )
    feats = ImportanceFeatureSink(feat_t).feature_table(spark).select(
        F.lit("feature").alias("kind"),
        F.col("bucket").alias("k1"),
        F.lit(0).cast("long").alias("k2"),
        F.col("cnt").alias("v"),
    )
    cfreq = CdcChunkSink(chunk_t, cfreq_t).freq(spark).select(
        F.lit("chunk_freq").alias("kind"),
        F.col("chunk_hash").alias("k1"),
        F.lit(0).cast("long").alias("k2"),
        F.col("doc_freq").alias("v"),
    )
    ivf = IvfIndexSink(index_t, cents_t).index(spark).select(
        F.lit("ivf_assign").alias("kind"),
        F.col("vec_id").alias("k1"),
        F.col("centroid_id").cast("long").alias("k2"),
        F.lit(0).cast("long").alias("v"),
    )
    return pairs.unionByName(feats).unionByName(cfreq).unionByName(ivf)


@parity(
    "ns_stream_rebucket_drain",
    driver=False,  # driver slot: folded into ns_curation_digest
    oracle="SELECT h AS chunk_hash, doc_freq FROM ("
    + _chunk_freq_truth_sql()
    + ") __cf",
)
def ns_stream_rebucket_drain(spark, sf_dir):
    """The state-layout maintenance crossing, certified LIVE and in
    isolation (VERDICT r14 next-step #1 — split out of
    ``ns_stream_live_sinks`` so each sink's steady-state per-trigger
    economics stay a clean regression signal).

    One CDC chunk-frequency drain (``CdcChunkSink``, the ledgered additive
    fold), with a deliberately tiny split target that FORCES both its state tables
    across an auto-rebucket mid-drain (8 -> capped 64 buckets; asserted to
    have occurred, or the certification claim is silently hollow). The
    post-split frequency table — ledger re-homing, manifest commits, and
    the 64-bucket tiny-file aftermath included — must hash-equal the
    whole-corpus batch truth. The probe's own bench timing is the priced
    cost of the rebucket crossing, reported separately from the
    steady-state drain."""
    from ..operators.merge import PART_COL
    from ..operators.storage import ParquetTable
    from ..streaming.chunk_freq_stream import CdcChunkSink, stream_cdc_chunks

    src = _doc_slices(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="fincan_rebucket_drain_")
    chunk_t = ParquetTable(
        work + "/chunks", partition_by=[PART_COL], n_buckets=8
    )
    cfreq_t = ParquetTable(
        work + "/chunk_freq", partition_by=[PART_COL], n_buckets=8
    )
    q = stream_cdc_chunks(
        spark, src, chunk_t, cfreq_t, work + "/ckpt",
        divisor=8, max_files_per_trigger=1,
        rebucket_target_bytes=512, rebucket_max_buckets=64,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(
            "ns_stream_rebucket_drain: drain timed out (300s)"
        )
    grown = chunk_t.read_meta()["n_buckets"]
    if grown <= 8:
        raise RuntimeError(
            f"ns_stream_rebucket_drain: CDC chunk table never auto-split "
            f"(n_buckets={grown}) — the mid-drain rebucket this probe "
            "certifies did not happen"
        )
    return CdcChunkSink(chunk_t, cfreq_t).freq(spark).select(
        "chunk_hash", "doc_freq"
    )
