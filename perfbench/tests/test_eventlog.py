import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402


def _write(path, events):
    with open(path, "w", encoding="utf-8") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _job(jid, group, start_ms, end_ms, stages):
    props = {eventlog.GROUP_KEY: group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start_ms, "Stage IDs": stages,
         "Properties": props},
        *[{"Event": "SparkListenerStageSubmitted",
           "Stage Info": {"Stage ID": s}, "Properties": props}
          for s in stages],
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end_ms, "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, cpu_ns=0, gc_ms=0, inp=0, out=0, sw=0, result=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": 5, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Result Size": result,
                "Input Metrics": {"Bytes Read": inp},
                "Output Metrics": {"Bytes Written": out},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                         "Local Bytes Read": 2}}}


def test_union_of_overlapping_intervals():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert eventlog.union_s([(3, 4), (0, 1)]) == 2.0


def test_attribute_by_job_group(tmp_path):
    log_dir = tmp_path / "eventlog_v2_app"
    log_dir.mkdir()
    # a rolling log: two files, read in index order (10 after 2)
    _write(log_dir / "events_2_app",
           _job(0, "p0:a", 1000, 1400, [0]) + [_task(0, cpu_ns=2e9, inp=10)])
    _write(log_dir / "events_10_app",
           _job(1, "p0:a", 1300, 1600, [1]) + [_task(1, sw=7, result=3)]
           + _job(2, "p0:b", 2000, 2500, [2]) + [_task(2, out=5, gc_ms=20)]
           + _job(3, None, 2100, 2200, [3]) + [_task(3, inp=99)])
    log = eventlog.parse(str(log_dir))
    spans = [{"name": "p0:a", "start": 0.9, "end": 1.9},
             {"name": "p0:b", "start": 1.9, "end": 3.0}]
    rows = eventlog.attribute(log, spans)
    a, b = rows["p0:a"], rows["p0:b"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 2, 2)
    assert a["job_s"] == pytest.approx(0.6)       # union of 1.0-1.4, 1.3-1.6
    assert a["driver_s"] == pytest.approx(0.4)
    assert a["exec_cpu_s"] == pytest.approx(2.0)
    assert (a["input_bytes"], a["shuffle_write_bytes"], a["result_bytes"]) \
        == (10, 7, 3)
    assert (b["jobs"], b["output_bytes"]) == (1, 5)
    assert b["gc_s"] == pytest.approx(0.02)
    assert b["driver_s"] == pytest.approx(0.6)
    # the ungrouped job is nobody's
    assert sum(r["input_bytes"] for r in rows.values()) == 10


def test_recorded_log():
    """A log Spark 4.1 wrote for two job groups (``g_count``: one
    aggregation; ``g_write``: one parquet write), reduced to the
    events and fields the parser reads."""
    log = eventlog.parse(os.path.join(HERE, "data", "eventlog_v2_small"))
    groups = {j["group"] for j in log.jobs.values()}
    assert {"g_count", "g_write"} <= groups
    start = min(j["start"] for j in log.jobs.values()) - 1
    end = max(j["end"] for j in log.jobs.values()) + 1
    rows = eventlog.attribute(log, [{"name": "g_count", "start": start,
                                     "end": end},
                                    {"name": "g_write", "start": start,
                                     "end": end}])
    assert rows["g_count"]["jobs"] >= 1
    assert rows["g_count"]["tasks"] >= 1
    assert rows["g_count"]["result_bytes"] > 0
    assert rows["g_write"]["output_bytes"] > 0
    assert rows["g_write"]["output_bytes"] > rows["g_count"]["output_bytes"]


def test_recorded_json_scan():
    """A log Spark 4.1 wrote for one release table: ``g_json`` writes the
    table from the JSON feeds, ``g_parquet`` counts its rows back from
    the parquet snapshot.  Only the JSON scan's stage counts as one."""
    log = eventlog.parse(os.path.join(HERE, "data", "eventlog_v2_scans"))
    start = min(j["start"] for j in log.jobs.values()) - 1
    end = max(j["end"] for j in log.jobs.values()) + 1
    rows = eventlog.attribute(log, [{"name": g, "start": start, "end": end}
                                    for g in ("g_json", "g_parquet")])
    js, pq = rows["g_json"], rows["g_parquet"]
    assert len(log.json_stages) == 1
    assert js["json_input_bytes"] == js["input_bytes"] > 0
    assert js["json_scan_cpu_s"] == pytest.approx(js["exec_cpu_s"])
    assert js["json_scan_cpu_s"] > 0
    assert pq["input_bytes"] > 0
    assert pq["json_input_bytes"] == pq["json_scan_cpu_s"] == 0


def test_find_log_wants_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "eventlog_v2_x").mkdir()
    assert eventlog.find_log(str(tmp_path)).endswith("eventlog_v2_x")
