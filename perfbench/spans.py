"""Spans and Spark task metrics for the traced run.

A span is opened around each call the benchmark makes into ``kats_spark``:
run, set-up, pass, public call, and the ``call`` and ``action`` parts
inside it.  Spans live in memory.  While one is open, the Spark local
property ``perfbench.span`` holds its id, so every job Spark starts inside
it carries that id into the event log.  After the session stops, the event
log is read once: each task's metrics are added to the span whose job ran
its stage.  With tracing off, every method is a no-op and Spark runs
without an event log.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark import SparkContext

SPAN_PROPERTY = "perfbench.span"

_MB = float(1 << 20)
# SQL metrics of the Python exec nodes (sizes in bytes, times in ms)
_PY_ACCUMS = {
    "data sent to Python workers": ("py_in_mb", _MB),
    "time to run Python workers": ("py_run_s", 1e3),
    "time to start Python workers": ("py_boot_s", 1e3),
}


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        _set_span(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            _set_span(self._stack[-1] if self._stack else None)

    def attach_event_log(self, path: str) -> None:
        """Add each span's Spark task-metric totals from the event log."""
        per_span = read_event_log(path)
        for rec in self.spans:
            rec["spark"] = dict(per_span.get(rec["id"], {}))

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time covered by its
        children (children of one span never overlap: calls are serial)."""
        child_time: Counter = Counter()
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: Counter = Counter()
        for rec in self.spans:
            out[_layer(rec["name"])] += rec["end"] - rec["start"] - child_time[rec["id"]]
        return {k: round(v, 6) for k, v in sorted(out.items())}


def _layer(name: str) -> str:
    """Span names carry a row or pass index after '#'; self time is per layer."""
    return name.split("#", 1)[0]


def _set_span(sid: int | None) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROPERTY, None if sid is None else str(sid))


def read_event_log(path: str) -> dict[int, Counter]:
    """Task-metric totals per span id from an uncompressed event log."""
    stage_span: dict[int, int] = {}
    per_span: dict[int, Counter] = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if sid is None:
                    continue
                per_span[int(sid)]["jobs"] += 1
                for stage in ev["Stage IDs"]:
                    stage_span.setdefault(stage, int(sid))
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                c = per_span[sid]
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                c["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
                )
                c["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / _MB
                c["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB
                for acc in ev["Task Info"].get("Accumulables", ()):
                    hit = _PY_ACCUMS.get(acc.get("Name"))
                    if hit is not None and acc.get("Update") is not None:
                        c[hit[0]] += int(acc["Update"]) / hit[1]
    return per_span
