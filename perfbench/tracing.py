"""Spans, counters and Spark-job attribution for the traced runs.

The tracer never edits the package: it replaces public functions and
methods with wrappers (``Tracer.patch``) for the duration of a traced
run.  Each span records its name, layer, start, end, parent and the trace
id of the run or trigger it belongs to, and tags the Spark jobs it starts
with a job group of its own, so the event log attributes every job to the
innermost span that launched it.

Spans and counters stay in memory and are written out when the run ends.
A layer's self time is its spans' duration minus the part covered by
their child spans (``self_times``).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; a no-op pass-through otherwise, so the
    same patched program serves the untraced half of a traced run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- span stack ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", f"{span.layer}:{span.name}")

    def _saved_group(self):
        if self.sc is None:
            return None
        return (
            self.sc.getLocalProperty("spark.jobGroup.id"),
            self.sc.getLocalProperty("spark.job.description"),
        )

    def _restore_group(self, saved) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", saved[0])
            self.sc.setLocalProperty("spark.job.description", saved[1])

    @contextmanager
    def span(self, layer: str, name: str, trace: str | None = None, **attrs):
        """Record one span; yields it (or ``None`` while inactive)."""
        if not self.active:
            yield None
            return
        parent = self.current()
        sid = next(self._ids)
        tid = trace or (parent.trace if parent else f"trace-{sid}")
        s = Span(sid, parent.id if parent else None, tid, layer, name, time.perf_counter(),
                 attrs=dict(attrs))
        saved = self._saved_group()
        self._stack().append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack().pop()
            self._restore_group(saved)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def adopt(self, parent: Span | None):
        """Run the body as if inside ``parent`` (a span of another thread)."""
        if parent is None or not self.active:
            yield
            return
        saved = self._saved_group()
        self._stack().append(parent)
        self._set_group(parent)
        try:
            yield
        finally:
            self._stack().pop()
            self._restore_group(saved)

    # -- patching -----------------------------------------------------------
    def patch(self, owner, attr: str, layer: str, name: str | None = None, on_exit=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_exit(span, args, kwargs, result)`` may add attributes; it runs
        after the span closes, so its own cost is not charged to the layer."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name or attr) as s:
                out = orig(*args, **kwargs)
            if s is not None and on_exit is not None:
                on_exit(s, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def inheriting_executor(self):
        """A ``ThreadPoolExecutor`` whose tasks run inside the submitting
        thread's current span (and so under its Spark job group)."""
        tracer = self

        class InheritingExecutor(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                parent = tracer.current()

                def run():
                    with tracer.adopt(parent):
                        return fn(*args, **kwargs)

                return super().submit(run)

        return InheritingExecutor

    def patch_value(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    **(extra or {}),
                },
                f,
                default=str,
            )


# ---------------------------------------------------------------------------
# Self time
# ---------------------------------------------------------------------------
def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of half-open intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: span durations minus the part their children cover.
    Children that run concurrently are counted once; a child that outlives
    its parent is clipped to the parent's interval."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        cov = _covered(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
        )
        out[s.layer] += (s.end - s.start) - cov
    return dict(out)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
_ACCUMS = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def _event_lines(path: str):
    """Lines of a plain event log file or of a rolling (v2) log directory."""
    files = (
        sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_"))
        if os.path.isdir(path)
        else [path]
    )
    for fp in files:
        with open(fp) as f:
            yield from f


def read_event_log(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Parse a Spark event log into ``jobs`` (id -> group, stage ids) and
    completed ``stages`` (id -> tasks and the summed task metrics)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = defaultdict(float)
            m["tasks"] = info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _ACCUMS.get(acc.get("Name"))
                if key is not None:
                    m[key[0]] += float(acc.get("Value", 0)) * key[1]
            stages[info["Stage ID"]] = m
    return jobs, stages


def spark_totals(jobs: dict[int, dict], stages: dict[int, dict], job_ids) -> dict[str, float]:
    """Summed counters over ``job_ids``; a stage shared by two jobs counts once."""
    out = defaultdict(float)
    seen: set[int] = set()
    for j in job_ids:
        out["jobs"] += 1
        for sid in jobs[j]["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                out["stages"] += 1
                for k, v in stages[sid].items():
                    out[k] += v
    return dict(out)
