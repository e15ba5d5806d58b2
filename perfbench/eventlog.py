"""Per-span cost rows from Spark's own event log.

The benchmark wraps every call it makes into the package in a span and
sets the span's name as the Spark job group, so each job, stage and
task in the event log names the span that caused it.  ``parse`` reads
an uncompressed event log (a single file, or Spark's rolling
``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` files) and
``attribute`` folds it into one row per span:

  jobs, stages, tasks         counts
  job_s                       wall time covered by the union of the
                              span's job intervals
  driver_s                    span wall minus ``job_s``
  exec_cpu_s, gc_s, input_bytes, output_bytes, shuffle_write_bytes,
  result_bytes                task metric sums
  json_scan_cpu_s, json_input_bytes
                              the same sums over the tasks of stages
                              that scan JSON files (a stage's RDD info
                              names the scan); the CPU includes the
                              operators Spark pipelines into the stage
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

_COUNTS = ("jobs", "stages", "tasks")
_SUMS = ("exec_cpu_s", "gc_s", "input_bytes", "output_bytes",
         "shuffle_write_bytes", "result_bytes")
_JSON_SUMS = {"json_scan_cpu_s": "exec_cpu_s",
              "json_input_bytes": "input_bytes"}


@dataclass
class Log:
    """What ``attribute`` needs from one application's event log."""

    jobs: dict[int, dict] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    json_stages: set[int] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)


def log_files(path: str) -> list[str]:
    """The files of one event log, in write order."""
    if os.path.isfile(path):
        return [path]
    idx = lambda f: int(re.match(r"events_(\d+)_", f).group(1))  # noqa: E731
    names = [f for f in os.listdir(path) if re.match(r"events_\d+_", f)]
    return [os.path.join(path, f) for f in sorted(names, key=idx)]


def find_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    found = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(found) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {sorted(found)}")
    return found[0]


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "result_bytes": m.get("Result Size", 0),
    }


def _scans_json(rdd: dict) -> bool:
    """Whether an RDD of a stage's RDD info is a JSON file scan: Spark
    names its operation scope ``Scan json``."""
    if rdd.get("Name") != "FileScanRDD":
        return False
    scope = json.loads(rdd.get("Scope") or "{}")
    return scope.get("name", "").strip().lower() == "scan json"


def parse(path: str) -> Log:
    log = Log()
    for fn in log_files(path):
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = {
                        "group": props.get(GROUP_KEY),
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    info = ev["Stage Info"]
                    log.stage_group[info["Stage ID"]] = props.get(GROUP_KEY)
                    if any(_scans_json(r) for r in info.get("RDD Info", ())):
                        log.json_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task_row(ev))
    return log


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(log: Log, spans: list[dict]) -> dict[str, dict]:
    """One cost row per span name.  ``spans`` are ``{"name", "start",
    "end"}`` dicts in epoch seconds; several spans may share a name
    (one per pass), and their rows add up."""
    rows: dict[str, dict] = {}
    for s in spans:
        row = rows.setdefault(s["name"], {k: 0 for k in (
            "wall_s", *_COUNTS, *_SUMS, *_JSON_SUMS)} | {"job_s": 0.0})
        row["wall_s"] += s["end"] - s["start"]
        clipped = [
            (max(j["start"], s["start"]), min(j["end"], s["end"]))
            for j in log.jobs.values()
            if j["group"] == s["name"] and j["end"] is not None
            and j["end"] > s["start"] and j["start"] < s["end"]
        ]
        row["job_s"] += union_s(clipped)
    for j in log.jobs.values():
        if j["group"] in rows:
            rows[j["group"]]["jobs"] += 1
    for stage, group in log.stage_group.items():
        if group in rows:
            rows[group]["stages"] += 1
    for t in log.tasks:
        group = log.stage_group.get(t["stage"])
        if group in rows:
            row = rows[group]
            row["tasks"] += 1
            for k in _SUMS:
                row[k] += t[k]
            if t["stage"] in log.json_stages:
                for k, src in _JSON_SUMS.items():
                    row[k] += t[src]
    for row in rows.values():
        row["driver_s"] = max(0.0, row["wall_s"] - row["job_s"])
    return rows
