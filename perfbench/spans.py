"""Spans around the package's public functions, and Spark's event log.

The traced run wraps every public function of the package's layer modules
(``Tracer.install``) so each call records a span: layer, name, start, end
and parent. Nothing in the package changes; the wrappers live in the
module attributes of this process only and pickle by reference, so Python
workers run the unwrapped functions.

``spark_metrics`` reads the local Spark event log after the session has
stopped and sums the engine-side counters over a time window. Jobs are
attributed to the innermost span open at their submission time.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import json
import os
import pkgutil
import threading
import time
import types
from dataclasses import dataclass

PACKAGE = "etl_lorettoscarpa_1asfb2jf21_spark"
# the sub-packages whose public functions are wrapped, each its own layer;
# the benchmark spans the catalog callables and get_spark itself
LAYERS = ("sources", "functions", "operators", "plans", "streaming", "multimodal")


@dataclass
class Span:
    layer: str
    name: str
    parent: int  # index into Tracer.spans, -1 for a root
    t0: float  # epoch seconds
    t1: float = 0.0


class Tracer:
    """In-memory span recorder; spans are read after the run. Safe to call
    from the catalog's worker threads: each thread nests its own spans, and
    a thread's first span hangs under the main thread's innermost span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, layer: str, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else -1)
        with self._lock:
            self.spans.append(Span(layer, name, parent, time.time()))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].t1 = time.time()
        self._stack().pop()

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        idx = self.begin(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.begin(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    def install(self) -> None:
        """Wrap every public function defined in a layer module, and rebind
        each module-level name (in any package module) that refers to it."""
        pkg = importlib.import_module(PACKAGE)
        mods = [importlib.import_module(m.name) for m in
                pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")]
        wrapped: dict[int, object] = {}
        for mod in mods:
            parts = mod.__name__.split(".")
            if len(parts) < 3 or parts[1] not in LAYERS:
                continue
            for attr, obj in vars(mod).items():
                if (isinstance(obj, types.FunctionType) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    wrapped[id(obj)] = self._wrap(obj, parts[1])
        for mod in mods + [pkg]:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped and isinstance(obj, types.FunctionType):
                    setattr(mod, attr, wrapped[id(obj)])


def attribute_jobs(spans: list[Span], job_times: list[float]) -> list[int]:
    """Index of the innermost span open at each job time (-1 for none): the
    latest-starting span that contains it. Where threads overlap, that is
    one of the spans open at that moment."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].t0)
    starts = [spans[i].t0 for i in order]
    out = []
    for t in job_times:
        k = bisect.bisect_right(starts, t) - 1
        while k >= 0 and spans[order[k]].t1 < t:
            k -= 1
        out.append(order[k] if k >= 0 else -1)
    return out


def self_seconds(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return [s.t1 - s.t0 - union_seconds(
        [(max(a, s.t0), min(b, s.t1)) for a, b in kids.get(i, []) if b > s.t0 and a < s.t1])
        for i, s in enumerate(spans)]


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_metrics(events: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Engine counters for the tasks, stages and jobs that started inside
    ``windows`` (epoch-second intervals, one per timed operation)."""
    lo, hi = min(w[0] for w in windows), max(w[1] for w in windows)

    def inside(ms: float) -> bool:
        return lo <= ms / 1000.0 <= hi

    m = dict.fromkeys(
        ["jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
         "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "input_bytes", "output_bytes", "python_eval_s"], 0.0)
    task_iv: list[tuple[float, float]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
            m["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if inside(info.get("Submission Time", 0)):
                m["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not inside(info["Launch Time"]):
                continue
            m["tasks"] += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            task_iv.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            tm = ev.get("Task Metrics") or {}
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            m["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                # SQL timing metric (ms) of the Arrow / pandas UDF nodes
                if acc.get("Name") == "time to run Python workers":
                    m["python_eval_s"] += float(acc.get("Update", 0)) / 1e3
    busy = sum(union_seconds([(max(a, w0), min(b, w1)) for a, b in task_iv if b > w0 and a < w1])
               for w0, w1 in windows)
    m["sched_idle_s"] = sum(w1 - w0 for w0, w1 in windows) - busy
    return m


def job_submit_times(events: list[dict]) -> list[float]:
    return [ev["Submission Time"] / 1000.0 for ev in events
            if ev.get("Event") == "SparkListenerJobStart"]
