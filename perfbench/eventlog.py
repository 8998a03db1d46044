"""Spans recorded around engine calls, and a Spark event-log reader that
rolls task metrics up per span.

A span is (name, start, end) in wall-clock seconds.  Spark jobs carry no
span id: job-group local properties do not reach the thread pools the
engine starts internally, so each job goes to the innermost span whose
interval holds the job's submission time.  The event log is plain JSON
lines (``spark.eventLog.enabled`` with compression off), so reading it
needs nothing beyond the standard library.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MEASURES = ("wall_s", "task_s", "shuffle_mb", "spill_mb", "skew", "jobs")


class Spans:
    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.items.append(rec)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name]


def read_event_log(log_dir: str) -> tuple[dict[int, dict], dict[int, list]]:
    """Jobs and tasks from every event-log file under ``log_dir`` (plain
    or rolling logs).

    Returns ({job_id: {"submit": s, "stages": [...]}},
             {stage_id: [task_metrics, ...]}) where each task entry is a
    dict of run_s, shuffle_bytes, spill_bytes and records_read."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    files = [os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus"))]
    for fn in files:
        with open(fn) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "records_read": (m.get("Input Metrics") or {})
                        .get("Records Read", 0),
                    })
    return jobs, tasks


def attribute(spans: list[dict], jobs: dict[int, dict]) -> dict[int, int]:
    """job id -> index of the innermost span holding its submission
    (the latest-starting one among the spans that contain it)."""
    out = {}
    for jid, job in jobs.items():
        best = None
        for i, s in enumerate(spans):
            if s["start"] <= job["submit"] <= s["end"] and (
                    best is None or s["start"] >= spans[best]["start"]):
                best = i
        if best is not None:
            out[jid] = best
    return out


def span_metrics(spans: list[dict], log_dir: str) -> dict[str, dict]:
    """Per span name: the median over its instances of each measure in
    ``MEASURES``, plus ``records_read`` summed over all instances.

    A stage is charged to the first job that lists it; later jobs that
    reuse it skip it and run no tasks."""
    jobs, tasks = read_event_log(log_dir)
    owner = attribute(spans, jobs)
    per_instance = [
        {"jobs": 0, "tasks": []} for _ in spans
    ]
    seen_stages: set[int] = set()
    for jid in sorted(jobs):
        stages = [s for s in jobs[jid]["stages"] if s not in seen_stages]
        seen_stages.update(stages)
        if jid not in owner:
            continue
        inst = per_instance[owner[jid]]
        inst["jobs"] += 1
        for st in stages:
            inst["tasks"].extend(tasks.get(st, []))
    by_name: dict[str, list[dict]] = {}
    for s, inst in zip(spans, per_instance):
        t = inst["tasks"]
        runs = [x["run_s"] for x in t]
        med = statistics.median(runs) if runs else 0.0
        by_name.setdefault(s["name"], []).append({
            "wall_s": s["end"] - s["start"],
            "task_s": sum(runs),
            "shuffle_mb": sum(x["shuffle_bytes"] for x in t) / 1e6,
            "spill_mb": sum(x["spill_bytes"] for x in t) / 1e6,
            "skew": max(runs) / med if med > 0 else 1.0,
            "jobs": inst["jobs"],
            "records_read": sum(x["records_read"] for x in t),
        })
    out = {}
    for name, insts in by_name.items():
        out[name] = {m: statistics.median(i[m] for i in insts)
                     for m in MEASURES}
        out[name]["records_read"] = sum(i["records_read"] for i in insts)
        out[name]["calls"] = len(insts)
    return out
