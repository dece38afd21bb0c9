"""Spans, counters and Spark event-log accounting for the traced run.

A span has a name, a start, an end, a parent span id and a request id.
Spans stay in memory and are written as JSON when the run ends; no span
is recorded when tracing is off, so the untraced run pays one attribute
check per boundary.

Spark job, stage, shuffle and spill counts come from Spark's event log,
which the traced run alone turns on. Jobs are attributed to a span by
time: a job belongs to the span whose interval holds its submission.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._mu = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        """Record one span around the body; yields its id (None when off).
        Its parent is the innermost span open on the same thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            t1 = time.time()
            stack.pop()
            with self._mu:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent, "req": req}
                )

    def add(self, name: str, start: float, end: float, parent=None, req=None) -> None:
        """Record a span measured elsewhere (e.g. in another process)."""
        if self.enabled:
            with self._mu:
                self.spans.append(
                    {"id": next(self._ids), "name": name, "start": start, "end": end,
                     "parent": parent, "req": req}
                )

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._mu:
                self.counts[name] = self.counts.get(name, 0) + n

    def durations(self, name: str, windows=None) -> list[float]:
        """Durations of the spans called *name*, only those starting inside
        one of *windows* ((start, end) pairs) when given."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and (windows is None or any(a <= s["start"] <= b for a, b in windows))]

    def median(self, name: str, windows=None) -> float | None:
        d = self.durations(name, windows)
        return statistics.median(d) if d else None

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def read_eventlog(log_dir: str) -> list[dict]:
    """Jobs from the newest event log in *log_dir* (call after spark.stop()):
    one dict per job with submit/end (epoch s), stage count, shuffle
    read/write and spill bytes summed over its tasks."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not logs:
        return []
    newest = logs[-1]
    # Spark writes either one file or a directory of rolled event files
    files = sorted(glob.glob(os.path.join(newest, "events_*"))) if os.path.isdir(newest) else [newest]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid, "submit": ev["Submission Time"] / 1000.0, "end": None,
                "stages": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None and "Submission Time" in ev["Stage Info"]:
                jobs[jid]["stages"] += 1  # skipped stages never submit
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics") or {}
            if jid is None or not tm:
                continue
            j = jobs[jid]
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end"] is not None]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def session_split(jobs: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Spark work inside a set of call windows: jobs, stages, shuffle and
    spill bytes submitted within them, and the driver share — the part of
    the windows' wall time during which no Spark job was running."""
    inside = [j for j in jobs if any(a <= j["submit"] <= b for a, b in windows)]
    busy = 0.0
    for a, b in windows:
        busy += _covered(
            [(max(a, j["submit"]), min(b, j["end"])) for j in jobs
             if j["end"] > a and j["submit"] < b]
        )
    wall = sum(b - a for a, b in windows)
    return {
        "jobs": len(inside),
        "stages": sum(j["stages"] for j in inside),
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in inside),
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in inside),
        "spill_bytes": sum(j["spill"] for j in inside),
        "driver_share": (1.0 - busy / wall) if wall > 0 else 0.0,
    }
