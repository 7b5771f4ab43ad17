"""Spans recorded from outside the program, job accounting through Spark's
status tracker, and the digest of Spark's event log.

Spans are kept in memory and written once, when the run ends.  Tracing off
(``Tracer(False)``) records nothing and wraps nothing, so the plain run
measures the program alone.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` from entry to exit, parented to the enclosing span
        of the same thread."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by one
        that records a span around each call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        """Seconds of each finished ``name`` span that started after ``since``."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None and s["start"] >= since]

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"] or s["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return {k: round(v, 6) for k, v in out.items()}


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (info := st.getJobInfo(j)) is not None for s in info.stageIds]
    tasks = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)) is not None)
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def digest_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum the task metrics of every task that finished inside one of the
    timed ``windows`` (epoch seconds)."""
    keys = ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
    out = dict.fromkeys(keys, 0.0)
    for path in glob.glob(f"{log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                end = ev.get("Task Info", {}).get("Finish Time", 0) / 1000.0
                m = ev.get("Task Metrics")
                if not m or not any(lo <= end <= hi for lo, hi in windows):
                    continue
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                out["executor_run_ms"] += m.get("Executor Run Time", 0)
                out["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                out["gc_ms"] += m.get("JVM GC Time", 0)
                out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
