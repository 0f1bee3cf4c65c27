"""The benchmark's workloads.

Each workload function takes a ``Run`` (arguments, working directory,
Spark session, tracer) and returns a ``Result``: operations attempted and
failed, the end-to-end metrics of its untraced operations and, in a traced
run, the per-layer metrics of its traced operations.

batch_incremental  closed loop.  Setup preloads a fresh warehouse with a
                   bulk tri-format landing zone; then delta runs (new
                   files, corrections, re-landed duplicate files).  A
                   traced run adds one run that finds no new files.
stream_xml_feed    open loop.  A generator thread lands XML files at a
                   fixed rate on top of a pre-landed backlog;
                   ``xml_file_stream`` feeds ``FullCanonicalSink`` through
                   ``foreachBatch`` on a processing-time trigger.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import gen
import layers
import tracing
from stats import RssSampler, percentile

# -- configuration (the reasons are in perfbench/README.md) -----------------
JOIN_MODE = "row"
BULK = dict(n_xml=100, n_json_files=40, json_per_file=20, n_csv_files=8, csv_rows=200)
DELTA = dict(n_new=200, n_corrections=30, n_relands=3)
FEED_BACKLOG_FILES = 40
FEED_RATE_PER_S = 10.0
# longer than the 6 s feed window, and than the backlog trigger takes: every
# file offered in the window waits for the same second trigger, which starts
# on the clock, so each run has the same trigger structure (backlog trigger,
# then window trigger) and only the window trigger's processing time varies
FEED_TRIGGER = "9 seconds"
FEED_LATE_LIMIT_S = 20.0
FEED_DRAIN_LIMIT_S = 60.0
TAIL_P = 0.9  # stream freshness tail; needs >= 100 files for 10 beyond it
BATCH_TS0 = dt.datetime(2026, 3, 1)
TS_COLS = {"ingest_ts", "created_ts", "updated_ts", "detected_ts"}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def _copy_specs():
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        DEFAULT_COPY_SPECS,
    )
    from financial_data_ingestion_canonical_snowflake_spark.sources.readers import CopySpec

    xml, js, _csv = DEFAULT_COPY_SPECS
    # CSV deltas land as new files, so the CSV COPY reads a directory glob
    # instead of the reference's two fixed FILES=(...)
    return (xml, js, CopySpec(file_type="CSV", path="client_*/csv/", client_id=None))


def _pipeline(spark, root: str, warehouse: str, run_no: int, specs):
    from financial_data_ingestion_canonical_snowflake_spark.plans.pipeline import (
        Pipeline,
        PipelineConfig,
    )

    return Pipeline(
        spark,
        PipelineConfig(
            ingest_root=root,
            warehouse=warehouse,
            copy_specs=specs,
            join_mode=JOIN_MODE,
            batch_ts=BATCH_TS0 + dt.timedelta(minutes=run_no),
        ),
    )


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------
def observed_counts(res: dict) -> dict:
    """What one ``run_batch`` left behind, read through its own smoke
    counts and ops views."""
    counts = {r["table_name"]: r["row_cnt"] for r in res["smoke_counts"].collect()}
    by_code = Counter()
    for r in res["views"]["vw_anomaly_counts"].collect():
        by_code[r["anomaly_code"]] += r["anomaly_count"]
    files, loaded, parsed = 0, Counter(), 0
    for r in res["views"]["vw_load_audit_summary"].collect():
        files += r["batch_count"]
        loaded[r["file_type"]] += r["total_rows_loaded"]
        parsed += r["total_rows_parsed"]
    return {
        "can_txn": counts.get("CAN_TXN"),
        "can_txn_line": counts.get("CAN_TXN_LINE"),
        "anomalies_by_code": {c: by_code.get(c, 0) for c in gen.ANOMALY_CODES},
        "audit_files": files,
        "audit_rows_loaded_by_type": dict(loaded),
        "audit_rows_parsed": parsed,
    }


def batch_mismatches(obs: dict, exp: dict) -> list[str]:
    return [
        f"{k}: got {obs.get(k)!r}, want {exp[k]!r}"
        for k in ("can_txn", "can_txn_line", "anomalies_by_code", "audit_files",
                  "audit_rows_loaded_by_type")
        if obs.get(k) != exp[k]
    ]


def table_rows(df) -> Counter:
    """Rows keyed without processing timestamps, ``src_file`` as a file name."""
    cols = [c for c in df.columns if c not in TS_COLS]
    out = Counter()
    for r in df.select(*cols).collect():
        d = r.asDict()
        if "src_file" in d and d["src_file"]:
            d["src_file"] = os.path.basename(d["src_file"])
        out[tuple(sorted((k, repr(v)) for k, v in d.items()))] += 1
    return out


def differing_files(got: Counter, want: Counter) -> set[str]:
    """Source files of the rows found on one side only."""
    return {dict(row).get("src_file", "'?'").strip("'") for row in (got - want) + (want - got)}


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------
def layer_metrics(run, op_spans: list[tracing.Span]) -> dict[str, float]:
    """Self time, job counts and counters per layer, averaged over the
    traced operations whose root spans are ``op_spans``."""
    traces = {s.trace for s in op_spans}
    spans = [s for s in run.tracer.spans if s.trace in traces]
    selfs = tracing.self_times(spans)
    jobs, stages = run.event_log()
    by_group = {f"{tracing.GROUP_PREFIX}{s.id}": s for s in spans}
    layer_jobs = defaultdict(list)
    for jid, j in jobs.items():
        s = by_group.get(j["group"])
        if s is not None:
            layer_jobs[s.layer].append(jid)
    all_jobs = [j for v in layer_jobs.values() for j in v]
    sp = tracing.spark_totals(jobs, stages, all_jobs)
    wall = sum(s.end - s.start for s in op_spans)
    st = layers.storage_totals(spans)
    k = max(len(op_spans), 1)

    def merge_s(table: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == f"merge.{table}") / k

    merges = [s for s in spans if s.layer == "merge"]
    out = {
        "sources.ingest_s": selfs.get("sources", 0.0) / k,
        "sources.jobs": len(layer_jobs["sources"]) / k,
        "plans.build_s": selfs.get("plans", 0.0) / k,
        "plans.calls": sum(1 for s in spans if s.layer == "plans") / k,
        "ops_views.s": selfs.get("ops_views", 0.0) / k,
        "ops_views.jobs": len(layer_jobs["ops_views"]) / k,
        "merge.txn_s": merge_s("can_txn"),
        "merge.line_s": merge_s("can_txn_line"),
        "merge.anomaly_s": merge_s("can_txn_anomaly"),
        "merge.self_s": selfs.get("merge", 0.0) / k,
        "merge.jobs": len(layer_jobs["merge"]) / k,
        "merge.buckets_touched": sum(s.attrs.get("buckets_touched", 0) for s in merges) / k,
        "merge.buckets_total": sum(s.attrs.get("buckets_total", 0) for s in merges) / k,
        "merge.source_rows": sum(s.attrs.get("source_rows", 0) for s in merges) / k,
        "storage.write_s": st["write_s"] / k,
        "storage.commit_s": st["commit_s"] / k,
        "storage.self_s": selfs.get("storage", 0.0) / k,
        "storage.commits": st["commits"] / k,
        "storage.bytes_written": st["bytes"] / k,
        "storage.files_written": st["files"] / k,
        "spark.jobs": sp.get("jobs", 0.0) / k,
        "spark.stages": sp.get("stages", 0.0) / k,
        "spark.tasks": sp.get("tasks", 0.0) / k,
        "spark.task_run_s": sp.get("task_run_s", 0.0) / k,
        "spark.task_cpu_s": sp.get("task_cpu_s", 0.0) / k,
        "spark.busy_share": sp.get("task_run_s", 0.0) / max(wall * run.cores, 1e-9),
        "spark.shuffle_write_bytes": sp.get("shuffle_write_bytes", 0.0) / k,
        "spark.spill_bytes": sp.get("spill_bytes", 0.0) / k,
        "spark.gc_s": sp.get("gc_s", 0.0) / k,
    }
    return out


def count_merge_sources(run, spans: list[tracing.Span]) -> None:
    """Count each traced merge's source rows, after the operation, in a job
    group of the benchmark's own (excluded from every layer)."""
    run.spark.sparkContext.setJobGroup("perfbench-probe", "merge source count")
    for s in spans:
        src = s.attrs.pop("_source", None)
        if src is not None:
            s.attrs["source_rows"] = src.count()
    run.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# batch_incremental
# ---------------------------------------------------------------------------
def batch_incremental(run) -> Result:
    res = Result()
    zone = gen.LandingZone(os.path.join(run.work, "zone"), run.seed)
    zone.land_bulk(**BULK)
    manifest = os.path.join(run.work, "manifest.json")
    exp = zone.write_manifest(manifest)
    spark = run.start_spark()
    specs = _copy_specs()
    warehouse = os.path.join(run.work, "warehouse")

    t = time.perf_counter()
    out = _pipeline(spark, zone.root, warehouse, zone.run, specs).run_batch()
    preload_s = time.perf_counter() - t
    bad = batch_mismatches(observed_counts(out), exp)
    if bad:
        raise RuntimeError(f"preload does not match its manifest: {bad}")
    res.e2e["setup_s"] = run.since_start()
    res.layers["preload.txn_per_s"] = exp["can_txn"] / preload_s

    new_txns = DELTA["n_new"] + DELTA["n_corrections"]
    op_spans: dict[str, list] = {"delta": [], "noop": []}
    source_counters = defaultdict(list)
    audit_totals = [0, 0]  # rows loaded, rows parsed after the previous run

    def one_run(kind: str, traced: bool) -> float:
        """Land one drop, run the pipeline over it, check it; returns the
        run's latency.  A mismatch counts as failed."""
        if kind == "delta":
            zone.land_delta(**DELTA)
        else:
            zone.land_nothing()
        exp = zone.write_manifest(manifest)
        res.attempted += 1
        pipe = _pipeline(spark, zone.root, warehouse, zone.run, specs)
        run.tracer.active = traced
        try:
            t = time.perf_counter()
            with run.tracer.span("pipeline", kind, trace=f"run-{zone.run}") as root:
                out = pipe.run_batch()
            elapsed = time.perf_counter() - t
        finally:
            run.tracer.active = False
        obs = observed_counts(out)
        bad = batch_mismatches(obs, exp)
        if bad:
            print(f"run {zone.run} ({kind}) mismatch: {bad}", flush=True)
            res.failed += 1
        loaded = sum(obs["audit_rows_loaded_by_type"].values())
        parsed = obs["audit_rows_parsed"]
        if root is not None:
            op_spans[kind].append(root)
            count_merge_sources(run, [s for s in run.tracer.spans if s.trace == root.trace])
        if root is not None and kind == "delta":
            files = [os.path.join(d, f) for d, _, fs in os.walk(zone.root) for f in fs]
            source_counters["files_read"].append(len(files))
            source_counters["files_skipped"].append(len(files) - len(zone.last_landed))
            source_counters["bytes_read"].append(sum(os.path.getsize(f) for f in files))
            source_counters["rows_loaded_ratio"].append(
                (loaded - audit_totals[0]) / max(parsed - audit_totals[1], 1)
            )
        audit_totals[:] = [loaded, parsed]
        return elapsed

    lat = []
    with RssSampler(run.pids()) as rss:
        deadline = time.perf_counter() + run.seconds
        # whole delta runs until the time is up, at least one
        while not lat or time.perf_counter() < deadline:
            lat.append(one_run("delta", traced=False))
        if run.trace:
            # traced after the untraced ones: the difference is the overhead;
            # the no-op run gives the fixed cost of a rerun, layer by layer
            traced_delta_s = one_run("delta", traced=True)
            noop_s = one_run("noop", traced=True)

    res.e2e.update(
        peak_rss_mb=rss.peak / 2**20,
        latency_p50_s=statistics.median(lat),
        latency_tail_s=max(lat),
        throughput_per_s=new_txns / statistics.median(lat),
        ok_share=1 - res.failed / res.attempted,
    )
    res.notes.update(
        latency_tail=f"max of {len(lat)} delta runs",
        delta_runs_s=lat,
        preload_s=preload_s,
        preload_txns=zone.expected()["can_txn"],
    )
    if run.trace:
        lm = layer_metrics(run, op_spans["delta"])
        noop = layer_metrics(run, op_spans["noop"])
        for key in ("files_read", "files_skipped", "bytes_read", "rows_loaded_ratio"):
            vals = source_counters[key]
            lm[f"sources.{key}"] = sum(vals) / len(vals) if vals else 0.0
        lm["storage.bytes_written_per_new_txn"] = lm["storage.bytes_written"] / new_txns
        lm["noop.run_s"] = noop_s
        lm["noop.spark_jobs"] = noop["spark.jobs"]
        lm["noop.ops_views_s"] = noop["ops_views.s"]
        lm["noop.plans_build_s"] = noop["plans.build_s"]
        lm["trace.overhead_s"] = traced_delta_s - statistics.median(lat)
        res.layers.update(lm)
    return res


# ---------------------------------------------------------------------------
# stream_xml_feed
# ---------------------------------------------------------------------------
def _write_atomic(staging: str, dst_dir: str, name: str, body: str) -> None:
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write(body)
    os.replace(tmp, os.path.join(dst_dir, name))


def files_by_batch(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in sorted(os.listdir(log)) if os.path.isdir(log) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def stream_xml_feed(run) -> Result:
    from financial_data_ingestion_canonical_snowflake_spark.sources.readers import CopySpec
    from financial_data_ingestion_canonical_snowflake_spark.streaming.ingest import (
        xml_file_stream,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming.pipeline_stream import (
        FullCanonicalSink,
    )
    from pyspark.sql import functions as F

    res = Result()
    # a traced run offers twice the window, so it has untraced window
    # triggers to set its traced (odd) triggers against
    window_s = run.seconds * (2 if run.trace else 1)
    n_files = FEED_BACKLOG_FILES + int(FEED_RATE_PER_S * window_s)
    feed = gen.xml_feed(run.seed, n_files)
    ref_root = os.path.join(run.work, "ref_zone")
    os.makedirs(os.path.join(ref_root, "client_a", "xml"))
    for name, body in feed:
        with open(os.path.join(ref_root, "client_a", "xml", name), "w") as f:
            f.write(body)
    spark = run.start_spark()
    xml_spec = CopySpec(file_type="XML", path="client_a/xml/", client_id="ClientA")

    # the batch pipeline over the same files: the reference the stream's
    # tables must equal, and the warm-up of every shared plan
    ref = _pipeline(spark, ref_root, os.path.join(run.work, "ref_wh"), 0, (xml_spec,))
    ref.run_batch()
    want = [table_rows(t.read(spark)) for t in (ref.can_txn, ref.can_txn_line, ref.can_txn_anomaly)]

    feed_root = os.path.join(run.work, "feed")
    feed_dir = os.path.join(feed_root, "client_a", "xml")
    staging = os.path.join(run.work, "feed_staging")
    os.makedirs(feed_dir)
    os.makedirs(staging)
    out = _pipeline(spark, feed_root, os.path.join(run.work, "stream_wh"), 0, (xml_spec,))
    sink = FullCanonicalSink(out.can_txn, out.can_txn_line, out.can_txn_anomaly,
                             source_system="XML", join_mode=JOIN_MODE)
    res.e2e["setup_s"] = run.since_start()

    batches: dict[int, tuple[float, float, bool]] = {}
    trigger_spans: list[tracing.Span] = []

    def foreach_batch(df, batch_id: int) -> None:
        traced = run.trace and batch_id % 2 == 1
        run.tracer.active = traced
        t = time.perf_counter()
        try:
            with run.tracer.span("streaming", "trigger", trace=f"batch-{batch_id}") as s:
                sink(df.filter(F.col("_load_error").isNull()).drop("_load_error"), batch_id)
        finally:
            run.tracer.active = False
        batches[batch_id] = (t, time.perf_counter(), traced)
        if s is not None:
            # after the commit time is taken: the count delays only later
            # triggers of this traced run
            trigger_spans.append(s)
            count_merge_sources(run, [x for x in run.tracer.spans if x.trace == s.trace])

    landed: dict[str, tuple[float, float]] = {}  # name -> (due, landed)
    for name, body in feed[:FEED_BACKLOG_FILES]:
        _write_atomic(staging, feed_dir, name, body)
    checkpoint = os.path.join(run.work, "checkpoint")
    stop = threading.Event()
    with RssSampler(run.pids()) as rss:
        t0 = time.perf_counter()
        for name, _ in feed[:FEED_BACKLOG_FILES]:
            landed[name] = (t0, t0)
        query = (
            xml_file_stream(spark, CopySpec("XML", feed_dir, "ClientA"), feed_root)
            .writeStream.foreachBatch(foreach_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=FEED_TRIGGER)
            .start()
        )

        def generator() -> None:
            for i, (name, body) in enumerate(feed[FEED_BACKLOG_FILES:]):
                due = t0 + (i + 1) / FEED_RATE_PER_S
                if stop.wait(max(0.0, due - time.perf_counter())):
                    return
                _write_atomic(staging, feed_dir, name, body)
                landed[name] = (due, time.perf_counter())

        gen_thread = threading.Thread(target=generator, daemon=True)
        gen_thread.start()
        gen_thread.join(timeout=window_s + FEED_DRAIN_LIMIT_S)
        drain_deadline = time.perf_counter() + FEED_DRAIN_LIMIT_S
        names = [n for n, _ in feed]
        while time.perf_counter() < drain_deadline and query.exception() is None:
            fb = files_by_batch(checkpoint)
            if all(fb.get(n) in batches for n in names):
                break
            time.sleep(0.2)
        stop.set()
        progress = list(query.recentProgress)
        query.stop()
        gen_thread.join(timeout=10)
    if query.exception() is not None:
        print(f"stream failed: {query.exception()}", flush=True)

    by_batch = files_by_batch(checkpoint)
    lat = [batches[by_batch[n]][1] - due for n, (due, _) in landed.items()
           if by_batch.get(n) in batches]
    got = [table_rows(t.read(spark)) for t in (out.can_txn, out.can_txn_line, out.can_txn_anomaly)]
    bad_files = set()
    for g, w in zip(got, want):
        bad_files |= differing_files(g, w)
    uncommitted = {n for n, _ in feed if by_batch.get(n) not in batches}
    res.attempted = n_files
    res.failed = len(bad_files | uncommitted)
    if res.failed:
        print(f"stream mismatch: files differing from the batch run {sorted(bad_files)}, "
              f"uncommitted {sorted((n, by_batch.get(n)) for n in uncommitted)}, "
              f"committed batches {sorted(batches)}", flush=True)
    late = sum(1 for x in lat if x > FEED_LATE_LIMIT_S) + len(uncommitted)
    backlog_done = [batches[by_batch[n]][1] for n, _ in feed[:FEED_BACKLOG_FILES]
                    if by_batch.get(n) in batches]
    catchup_s = (max(backlog_done) - t0) if len(backlog_done) == FEED_BACKLOG_FILES else float("inf")
    trigger_s = {b: e - s for b, (s, e, _t) in sorted(batches.items())}
    res.e2e.update(
        peak_rss_mb=rss.peak / 2**20,
        latency_p50_s=statistics.median(lat),
        latency_tail_s=percentile(lat, TAIL_P),
        throughput_per_s=FEED_BACKLOG_FILES / catchup_s,
        ok_share=1 - res.failed / res.attempted,
    )
    res.notes.update(
        latency_tail=f"p{int(TAIL_P * 100)} of {len(lat)} files",
        offered_rate_per_s=FEED_RATE_PER_S,
        late_limit_s=FEED_LATE_LIMIT_S,
        trigger_s=trigger_s,
        files_per_trigger=dict(sorted(Counter(by_batch.values()).items())),
    )
    if run.trace:
        lm = layer_metrics(run, trigger_spans)
        malformed = {n for n, body in feed if body == gen.MALFORMED["XML"]}
        traced_txns = sum(1 for n, b in by_batch.items()
                          if n not in malformed and batches.get(b, (0, 0, False))[2])
        traced_s = [d for b, d in trigger_s.items() if batches[b][2]]
        untraced_s = [d for b, d in trigger_s.items() if not batches[b][2] and b > 0]
        last = max(e for _, e, _ in batches.values())
        busy = sum(e - s for s, e, _ in batches.values())
        per_batch = Counter(by_batch.values())
        commit_times = sorted((batches[b][1], n) for b, n in per_batch.items() if b in batches)
        backlog_max = 0
        for b, (s, _e, _t) in batches.items():
            arrived = sum(1 for _d, la in landed.values() if la <= s)
            committed = sum(n for e, n in commit_times if e <= s)
            backlog_max = max(backlog_max, arrived - committed)

        def dur(key: str) -> float:
            vals = [p.durationMs.get(key, 0) for p in progress]
            return statistics.median(vals) if vals else 0.0

        lm.update({
            "stream.trigger_p50_s": statistics.median(list(trigger_s.values())),
            "stream.trigger_max_s": max(trigger_s.values()),
            "stream.triggers": float(len(batches)),
            "stream.files_per_trigger": len(by_batch) / max(len(batches), 1),
            "stream.jobs_per_trigger": lm["spark.jobs"],
            "stream.idle_share": 1 - busy / max(last - t0, 1e-9),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.backlog_max_files": float(backlog_max),
            "stream.gen_lag_s": max(la - d for d, la in landed.values()),
            "stream.late_share": late / n_files,
            "stream.first_trigger_s": batches[min(batches)][1] - batches[min(batches)][0],
            "storage.bytes_written_per_new_txn": lm["storage.bytes_written"]
            * len(trigger_spans) / max(traced_txns, 1),
            # traced window triggers against untraced ones (the backlog
            # trigger is neither); 0 when the run had no untraced one
            "trace.overhead_s": statistics.median(traced_s) - statistics.median(untraced_s)
            if traced_s and untraced_s else 0.0,
        })
        res.layers.update(lm)
    return res


WORKLOADS = {
    "batch_incremental": batch_incremental,
    "stream_xml_feed": stream_xml_feed,
}
