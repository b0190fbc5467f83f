"""Layer spans around the program's calls, and Spark's event log rolled up
per layer.

A ``Tracer`` times each layer's action as a span and sets a Spark job group
named after the layer while it runs, so every job the action starts is
tagged in the event log. Layers run one after another over materialized
inputs, so a span's duration is the layer's self time. Spans stay in memory
until the run writes them out.

``rollup(event_log_dir)`` reads the JSON-lines event log (written with
``spark.eventLog.enabled``) and sums, per job group: jobs, tasks, executor
CPU time, shuffle bytes written, bytes spilled to disk, GC time and the
max/median task duration.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def layer(self, name: str):
        """Time the block as a span of `name` and tag its Spark jobs with
        the job group `name`."""
        self.sc.setJobGroup(name, name)
        span = {"name": name, "start": time.perf_counter()}
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            span["self_s"] = span["end"] - span["start"]
            clear_job_group(self.sc)
            self.spans.append(span)

    def self_s(self, name: str) -> float:
        return sum(s["self_s"] for s in self.spans if s["name"] == name)


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


_ADDITIVE = ("jobs", "tasks", "exec_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s")


def rollup(event_log_dir: str) -> dict[str, dict]:
    """job group -> {jobs, tasks, exec_cpu_s, shuffle_write_mb, spill_mb,
    gc_s, task_skew, scan_stages}. ``scan_stages`` counts stages that read
    a file source (a parquet, text or csv scan)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    scans: dict[str, int] = {}
    tasks: dict[str, list[dict]] = {}
    scan_stage_ids: set[int] = set()
    # one file per application, or (rolling format) a directory of
    # events_<n>_<app> files beside an appstatus marker
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if any('"Scan ' in (r.get("Scope") or "")
                           or (r.get("Name") or "").startswith("FileScanRDD")
                           for r in info.get("RDD Info", [])):
                        scan_stage_ids.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    per_group_tasks: dict[str, list] = {}
    for sid, evs in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        per_group_tasks.setdefault(group, []).extend(evs)
    for sid in scan_stage_ids:
        group = stage_group.get(sid)
        if group is not None:
            scans[group] = scans.get(group, 0) + 1
    for group in set(jobs) | set(per_group_tasks):
        evs = per_group_tasks.get(group, [])
        cpu = shuffle = spill = gc = 0.0
        durs = []
        for ev in evs:
            info = ev.get("Task Info", {})
            durs.append(max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0))
            m = ev.get("Task Metrics") or {}
            cpu += m.get("Executor CPU Time", 0) / 1e9
            gc += m.get("JVM GC Time", 0) / 1e3
            spill += m.get("Disk Bytes Spilled", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        med = statistics.median(durs) if durs else 0.0
        out[group] = {
            "jobs": jobs.get(group, 0),
            "tasks": len(evs),
            "exec_cpu_s": cpu,
            "shuffle_write_mb": shuffle / 2**20,
            "spill_mb": spill / 2**20,
            "gc_s": gc,
            "task_skew": (max(durs) / max(med, 1.0)) if durs else 0.0,
            "scan_stages": scans.get(group, 0),
        }
    return out


def subtract(outer: dict, *inner: dict) -> dict:
    """Event-log totals of `outer` less those of the layers nested in it,
    for the additive metrics (task_skew stays the outer group's)."""
    out = dict(outer)
    for k in _ADDITIVE:
        out[k] = max(outer.get(k, 0) - sum(i.get(k, 0) for i in inner), 0)
    return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20
