"""Which public functions the traced run wraps, and the layer each belongs to.

Layers are named after the package's modules:

    sources    sources.readers, sources.audit   (Pipeline.ingest)
    plans      plans.transform_headers, plans.transform_lines, plans.anomaly
    ops_views  plans.ops_views
    merge      operators.merge                  (merge_upsert_scoped)
    storage    operators.storage                (ParquetTable writes and swaps)
    streaming  streaming.ingest, streaming.pipeline_stream
    curation   operators.text_dedup, operators.components
    spark      the engine as a whole (from the event log)

A function imported by name into another module is patched in both
namespaces, since each call resolves exactly one of them.
"""

from __future__ import annotations

import os

from tracing import Span, Tracer


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


def _table_name(table) -> str:
    return os.path.basename(table.path.rstrip("/"))


def install(tr: Tracer) -> None:
    from financial_data_ingestion_canonical_snowflake_spark.operators import storage
    from financial_data_ingestion_canonical_snowflake_spark.plans import (
        anomaly,
        pipeline,
        transform_headers,
        transform_lines,
    )
    from financial_data_ingestion_canonical_snowflake_spark.streaming import (
        ingest,
        pipeline_stream,
    )

    # Pipeline.run_batch's thread pools run their tasks inside the caller's span
    tr.patch_value(pipeline, "ThreadPoolExecutor", tr.inheriting_executor())

    tr.patch(pipeline.Pipeline, "ingest", "sources")

    for mod in (pipeline, pipeline_stream, transform_headers):
        tr.patch(mod, "transform_headers", "plans")
    for mod in (pipeline, transform_lines):
        tr.patch(mod, "transform_lines", "plans")
    for mod in (pipeline, anomaly):
        tr.patch(mod, "stage_anomalies", "plans")
        tr.patch(mod, "anomaly_merge_source", "plans")

    for name in ("register_views", "smoke_counts", "smoke_probes"):
        tr.patch(pipeline, name, "ops_views")

    def merge_done(s: Span, args, kwargs, out) -> None:
        table = args[1] if len(args) > 1 else kwargs["table"]
        s.name = f"merge.{_table_name(table)}"
        # counted after the operation (workloads.count_merge_sources)
        s.attrs["_source"] = args[2] if len(args) > 2 else kwargs["source"]
        if isinstance(out, list):
            s.attrs["buckets_touched"] = len(out)
            s.attrs["buckets_total"] = table.n_buckets

    for mod in (pipeline, ingest):
        tr.patch(mod, "merge_upsert_scoped", "merge", on_exit=merge_done)

    def staged(s: Span, args, kwargs, out) -> None:
        s.attrs["bytes"], s.attrs["files"] = tree_bytes(out["tmp"])

    pt = storage.ParquetTable
    tr.patch(pt, "stage_replace_partitions", "storage", "write", on_exit=staged)
    tr.patch(pt, "commit_replace_partitions", "storage", "commit")
    tr.patch(pt, "overwrite_atomic", "storage", "commit")
    orig_append = pt.append

    def append(self, df):
        # directory walks stay outside the span: they are the tracer's cost
        before = tree_bytes(self.path) if tr.active else None
        with tr.span("storage", "append") as s:
            orig_append(self, df)
        if s is not None:
            after = tree_bytes(self.path)
            s.attrs["bytes"], s.attrs["files"] = after[0] - before[0], after[1] - before[1]

    tr.patch_value(pt, "append", append)


def storage_totals(spans: list[Span]) -> dict[str, float]:
    out = {"bytes": 0.0, "files": 0.0, "commits": 0.0, "write_s": 0.0, "commit_s": 0.0}
    for s in spans:
        if s.layer != "storage":
            continue
        out["bytes"] += s.attrs.get("bytes", 0)
        out["files"] += s.attrs.get("files", 0)
        if s.name in ("commit", "append"):
            out["commits"] += 1
        out["commit_s" if s.name == "commit" else "write_s"] += s.end - s.start
    return out
