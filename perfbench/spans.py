"""Spans around calls into the engine's layers, and the Spark event-log fold.

A span is a dict: ``id``, ``name``, ``parent`` (span id or None), ``op``
(the timed operation it belongs to, or None), ``group`` (the Spark job
group set while it is the innermost open span), ``start``/``end``
(``time.time()`` seconds, so they line up with the event log's
millisecond timestamps) and free-form ``attrs``. Spans stay in memory
and are written out once, when the run ends.

With tracing off, ``Tracer.span`` records nothing and sets no job group,
so untraced runs pay one context-manager call per boundary.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "group": f"perfbench-{sid}", "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(top["group"], top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count_jobs(self) -> None:
        """Attach each span's Spark job ids, from the status tracker.

        Called once after the measured window: the tracker is fed by the
        asynchronous listener bus, so counting right after an action can
        miss its last job."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(s["id"] for s in self.children(cur))
        return out

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        rec = self.spans[sid]
        covered = _union([(c["start"], c["end"]) for c in self.children(sid)],
                         rec["start"], rec["end"])
        return rec["end"] - rec["start"] - covered


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


# --- event log ---------------------------------------------------------------

_TASK_FIELDS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0),
    "shuffle_read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0)
    + m.get("Disk Bytes Spilled", 0),
}


def _event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in write order: a plain log is
    one file, a rolling log is ``eventlog_v2_*/events_<n>_*``."""
    out = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.endswith(".crc") or f.startswith("appstatus"):
                continue
            parts = f.split("_")
            idx = int(parts[1]) if f.startswith("events_") and parts[1].isdigit() else 0
            out.append((root, idx, os.path.join(root, f)))
    return [p for _, _, p in sorted(out)]


def fold_event_log(log_dir: str) -> dict[int, dict]:
    """Per Spark job: its group, [start, end] in seconds, and task totals.

    Each task is charged to the job that first listed its stage: stages
    a later job reuses appear in that job's stage list as skipped."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev.get("Submission Time", 0) / 1e3,
                        "end": None,
                        **{k: 0.0 for k in _TASK_FIELDS},
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    metrics = ev.get("Task Metrics")
                    if job is None or not metrics:
                        continue
                    for k, fn in _TASK_FIELDS.items():
                        job[k] += fn(metrics)
    return jobs


def spark_op_totals(tracer: Tracer, jobs: dict[int, dict], op_span: dict) -> dict:
    """Event-log totals for one operation's span subtree, plus
    ``driver_s``: the op's wall time minus the time its jobs cover."""
    tot = {k: 0.0 for k in _TASK_FIELDS}
    intervals = []
    for rec in tracer.subtree(op_span["id"]):
        for jid in rec.get("jobs", []):
            job = jobs.get(jid)
            if job is None:
                continue
            for k in _TASK_FIELDS:
                tot[k] += job[k]
            if job["end"] is not None:
                intervals.append((job["start"], job["end"]))
    wall = op_span["end"] - op_span["start"]
    tot["driver_s"] = wall - _union(intervals, op_span["start"], op_span["end"])
    return tot
