"""Helpers shared by the benchmark workers: the span recorder, quantiles,
peak memory, Spark progress and event-log reduction."""

from __future__ import annotations

import json
import math
import os
import resource
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


def now_ms() -> float:
    return time.time() * 1000.0


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..1); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def median(values) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    n = len(s)
    return float(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the program. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans
        self._lock = threading.Lock()

    def _append(self, rec: dict) -> None:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "start_ms": now_ms(), "end_ms": None, **attrs}
        self._append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end_ms"] = now_ms()

    def add(self, name: str, start_ms: float, end_ms: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. inside a Spark callback
        thread, where the parent stack does not apply)."""
        if self.enabled:
            self._append({"name": name, "parent": None, "start_ms": start_ms,
                          "end_ms": end_ms, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end_ms"] - s["start_ms"] for s in self.spans
                if s["name"] == name and s["end_ms"] is not None]


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def progress_end_ms(p: dict) -> float:
    """Wall-clock end of the micro-batch a StreamingQueryProgress describes."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
    return start + p["durationMs"].get("triggerExecution", 0)


def progress_start_ms(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id that read it, from a file-source checkpoint log."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def reduce_event_log(log_dir: str, key_of_job) -> dict[str, dict]:
    """Reduce a Spark event log to per-key task time, shuffle and spill.

    ``key_of_job(properties) -> str | None`` assigns each job to a key
    (a streaming query, a registry query); tasks of stages of unassigned
    jobs are dropped."""
    stage_key: dict[int, str] = {}
    stats: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "task_ms": 0, "shuffle_bytes": 0,
                                                  "spill_bytes": 0})
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    key = key_of_job(ev.get("Properties") or {})
                    if key is None:
                        continue
                    stats[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_key[sid] = key
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    key = stage_key.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if key is None or not m:
                        continue
                    st = stats[key]
                    st["task_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return dict(stats)


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}


def write_result(path: str, result: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, path)
