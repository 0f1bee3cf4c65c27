"""The benchmark's own tests: seeded inputs, span arithmetic, percentiles.

    python3 -m pytest perfbench/tests -q

No Spark session: these check the benchmark's bookkeeping, not the package.
"""

from __future__ import annotations

import json
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import pytest  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _zone(root: str, seed: int) -> tuple[dict, list[dict]]:
    z = gen.LandingZone(root, seed)
    z.land_bulk(n_xml=6, n_json_files=2, json_per_file=5, n_csv_files=3, csv_rows=20)
    manifests = [z.expected()]
    z.land_delta(n_new=12, n_corrections=4, n_relands=2)
    manifests.append(z.expected())
    z.land_nothing()
    manifests.append(z.expected())
    return _tree(root), manifests


def test_same_seed_same_landing_zone(tmp_path):
    a, ma = _zone(str(tmp_path / "a"), 7)
    b, mb = _zone(str(tmp_path / "b"), 7)
    c, _ = _zone(str(tmp_path / "c"), 8)
    assert a == b and ma == mb
    assert a != c


def test_landing_zone_plants_every_defect(tmp_path):
    z = gen.LandingZone(str(tmp_path / "z"), 3)
    z.land_bulk(n_xml=60, n_json_files=4, json_per_file=20, n_csv_files=4, csv_rows=50)
    exp = z.expected()
    assert all(exp["anomalies_by_code"][c] > 0 for c in gen.ANOMALY_CODES)
    assert {"XML", "JSON", "CSV"} <= set(exp["audit_rows_loaded_by_type"])
    broken = [rel for rel, n in z.audit.items() if n == 0]
    assert len(broken) == 2  # one malformed XML and one malformed JSON file
    assert any(gen.RAGGED_CSV_ROW in body.decode() for body in _tree(z.root).values())


def test_noop_landing_changes_nothing(tmp_path):
    z = gen.LandingZone(str(tmp_path / "z"), 4)
    z.land_bulk(n_xml=5, n_json_files=1, json_per_file=5, n_csv_files=2, csv_rows=10)
    before = {k: v for k, v in z.expected().items() if k != "run"}
    z.land_nothing()
    assert z.last_landed == []
    assert {k: v for k, v in z.expected().items() if k != "run"} == before


def test_corrections_and_relands_flag_duplicates(tmp_path):
    z = gen.LandingZone(str(tmp_path / "z"), 5)
    z.land_bulk(n_xml=20, n_json_files=2, json_per_file=10, n_csv_files=2, csv_rows=10)
    dup0 = z.expected()["anomalies_by_code"]["DUPLICATE_TXN"]
    n0 = z.expected()["can_txn"]
    z.land_delta(n_new=8, n_corrections=5, n_relands=2)
    exp = z.expected()
    assert exp["anomalies_by_code"]["DUPLICATE_TXN"] >= dup0 + 5
    assert exp["can_txn"] == n0 + 8 // 4 + 3 * (8 // 4)  # xml + json file + two csv files


def test_xml_feed_is_seeded(tmp_path):
    assert gen.xml_feed(1, 60) == gen.xml_feed(1, 60)
    assert gen.xml_feed(1, 60) != gen.xml_feed(2, 60)
    feed = gen.xml_feed(1, 60)
    assert [i for i, (_, body) in enumerate(feed) if body == gen.MALFORMED["XML"]] == [24, 49]


# -- percentiles -------------------------------------------------------------
def test_nearest_rank_percentile():
    xs = [float(i) for i in range(10, 0, -1)]  # unsorted input
    assert stats.percentile(xs, 0.9) == 9.0
    assert stats.percentile(xs, 0.5) == 5.0
    assert stats.percentile(xs, 1.0) == 10.0
    assert stats.percentile(xs, 0.01) == 1.0
    assert stats.percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# -- spans -------------------------------------------------------------------
def _span(i, parent, layer, start, end, trace="t"):
    return tracing.Span(i, parent, trace, layer, layer, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "pipeline", 0.0, 10.0),
        _span(2, 1, "merge", 1.0, 4.0),
        _span(3, 1, "merge", 3.0, 6.0),  # overlaps span 2: covered once
        _span(4, 2, "storage", 2.0, 3.0),
        _span(5, 1, "plans", 9.0, 12.0),  # outlives its parent: clipped
    ]
    st = tracing.self_times(spans)
    assert st["pipeline"] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st["merge"] == pytest.approx((3.0 - 1.0) + 3.0)
    assert st["storage"] == pytest.approx(1.0)
    assert st["plans"] == pytest.approx(3.0)


def test_span_nesting_and_inactive_tracer():
    tr = tracing.Tracer()
    with tr.span("pipeline", "run") as none:
        assert none is None
    tr.active = True
    with tr.span("pipeline", "run", trace="run-1") as root:
        with tr.span("merge", "m") as child:
            pass
    assert child.parent == root.id and child.trace == "run-1"
    assert root.start <= child.start <= child.end <= root.end
    assert [s.id for s in tr.spans] == [child.id, root.id]


def test_inheriting_executor_runs_tasks_inside_the_callers_span():
    tr = tracing.Tracer()
    tr.active = True
    seen = []
    with tr.span("sources", "ingest") as parent:
        with tr.inheriting_executor()(max_workers=2) as ex:
            list(ex.map(lambda _: seen.append(tr.current()), range(4)))
    assert seen == [parent] * 4
    assert tr.current() is None


def test_patch_wraps_and_unpatch_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    tr = tracing.Tracer()
    orig = Box.f
    tr.patch(Box, "f", "plans", on_exit=lambda s, a, k, out: s.attrs.update(out=out))
    tr.active = True
    assert Box.f(1) == 2
    assert tr.spans[0].layer == "plans" and tr.spans[0].attrs == {"out": 2}
    tr.unpatch()
    assert Box.f is orig


# -- event log and stream bookkeeping -----------------------------------------
def test_event_log_totals_count_shared_stages_once(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {}},
    ]
    for sid, run_ms in ((0, 100), (1, 200), (2, 400)):
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Number of Tasks": 2, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                {"Name": "internal.metrics.executorCpuTime", "Value": run_ms * 1e6},
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 5},
                {"Name": "internal.metrics.memoryBytesSpilled", "Value": 7},
            ]}})
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = tracing.read_event_log(str(p))
    assert jobs[0]["group"] == "perfbench-span-1" and jobs[1]["group"] is None
    tot = tracing.spark_totals(jobs, stages, [0, 1])
    assert tot["jobs"] == 2 and tot["stages"] == 3 and tot["tasks"] == 6
    assert tot["task_run_s"] == pytest.approx(0.7)
    assert tot["task_cpu_s"] == pytest.approx(0.7)
    assert tot["spill_bytes"] == 36


def test_files_by_batch_reads_the_file_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text('v1\n{"path":"file:///x/a.xml","timestamp":1,"batchId":0}\n')
    (log / "1").write_text('v1\n{"path":"file:///x/b.xml","timestamp":2,"batchId":1}\n'
                           '{"path":"file:///x/c.xml","timestamp":2,"batchId":1}\n')
    (log / ".1.crc").write_text("junk")
    assert workloads.files_by_batch(str(tmp_path)) == {"a.xml": 0, "b.xml": 1, "c.xml": 1}


def test_rss_sampler_sees_this_process():
    with stats.RssSampler([os.getpid()], interval_s=0.01) as s:
        threading.Event().wait(0.05)
    assert s.peak > 1 << 20
