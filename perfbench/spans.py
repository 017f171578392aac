"""Spans recorded from the benchmark's own files, and Spark's event log.

A span is (id, name, layer, start, end, parent, run id). Spans live in
memory and are written as JSON lines when the run ends. A layer's self
time is the time its spans cover minus the part their child spans cover.
With tracing off, ``Tracer.span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class EventLog:
    """Task and job intervals from a finished Spark event log."""

    def __init__(self, log_dir: str):
        self.tasks: list[dict] = []
        self.jobs: list[tuple[float, float]] = []
        starts: dict[int, float] = {}
        for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerTaskEnd":
                        self._task(ev)
                    elif kind == "SparkListenerJobStart":
                        starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                        self.jobs.append((starts[ev["Job ID"]], ev["Completion Time"] / 1000.0))

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        self.tasks.append(
            {
                "start": info.get("Launch Time", 0) / 1000.0,
                "end": info.get("Finish Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            }
        )

    def window(self, t0: float, t1: float) -> dict[str, float]:
        """Counters of the tasks and jobs that started inside [t0, t1],
        plus the wall time in [t0, t1] during which no task ran."""
        tasks = [t for t in self.tasks if t0 <= t["start"] <= t1]
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(t["start"], t0), min(t["end"], t1)) for t in tasks):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        mb = 1024.0 * 1024.0
        return {
            "driver_gap_s": max(0.0, (t1 - t0) - busy),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / mb,
            "input_mb": sum(t["input_b"] for t in tasks) / mb,
            "spill_mb": sum(t["spill_b"] for t in tasks) / mb,
            "tasks": float(len(tasks)),
            "jobs": float(sum(1 for s, _ in self.jobs if t0 <= s <= t1)),
        }
