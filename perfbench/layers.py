"""Metric definitions and their computation from a worker's result.

End-to-end metrics come from an untraced run.  Per-layer metrics come
from a traced run: the worker's spans joined with Spark's event log
(``eventlog.attribute``).  Each per-layer metric names the workload it
is measured on and the end-to-end metric it should move; on the other
workload it reads 0, because that workload does no work in the layer.
``session.start_s`` and ``jvm.peak_rss_mb`` are measured on both.
Units, directions and bounds are declared once, in ``BENCHMARK.json``.
"""

from __future__ import annotations

from dataclasses import dataclass

import eventlog
from statistics import median

RELEASE_TABLES = (
    "repository", "model", "dataset", "space", "tag", "tags_in_repo",
    "repo_file", "commits", "commit_parents", "modified_file",
    "files_in_commit", "discussion", "conflicting_files_discussion",
    "discussion_event", "author", "models_in_space", "datasets_in_space",
)

END_TO_END = ("setup_s", "pass_s", "pass_cpu_s", "op_p50_s", "rows_per_s",
              "driver_peak_rss_mb")


@dataclass(frozen=True)
class Layer:
    name: str
    workload: str
    moves: str  # the end-to-end metric it should move


def _etl_layers() -> list[Layer]:
    e = "etl_release"
    out = [
        Layer("etl.first_load_extra_s", e, "setup_s"),
        Layer("etl.plan_s", e, "pass_s"),
    ]
    out += [Layer(f"io.write_s.{t}", e, "pass_s")
            for t in RELEASE_TABLES]
    out += [
        Layer("io.readback_s", e, "pass_s"),
        Layer("etl.driver_s", e, "pass_s"),
        Layer("etl.jobs", e, "pass_s"),
        Layer("etl.stages", e, "pass_s"),
        Layer("etl.tasks", e, "pass_cpu_s"),
        Layer("etl.exec_cpu_s", e, "pass_cpu_s"),
        Layer("etl.gc_s", e, "pass_cpu_s"),
        Layer("sources.parse_cpu_s", e, "pass_cpu_s"),
        Layer("sources.input_bytes", e, "pass_cpu_s"),
        Layer("sources.scan_amplification", e, "pass_cpu_s"),
        Layer("etl.shuffle_write_bytes", e, "pass_cpu_s"),
        Layer("io.output_bytes", e, "pass_s"),
        Layer("etl.result_bytes", e, "driver_peak_rss_mb"),
    ]
    return out


def _inventory_layers(modules) -> list[Layer]:
    i = "inventory"
    out = [Layer("q.first_pass_extra_s", i, "setup_s")]
    for m in sorted(modules):
        out += [Layer(f"q.{m}.s", i, "pass_s"),
                Layer(f"q.{m}.driver_s", i, "op_p50_s"),
                Layer(f"q.{m}.jobs", i, "op_p50_s")]
    out += [
        Layer("q.tasks", i, "pass_cpu_s"),
        Layer("q.exec_cpu_s", i, "pass_cpu_s"),
        Layer("q.gc_s", i, "pass_cpu_s"),
        Layer("q.input_bytes", i, "pass_cpu_s"),
        Layer("q.shuffle_write_bytes", i, "pass_cpu_s"),
        Layer("q.result_bytes", i, "driver_peak_rss_mb"),
    ]
    return out


def per_layer(inventory_modules) -> list[Layer]:
    # the JVM's peak resident set moved by a third between runs of the
    # same code, too far to serve as an end-to-end bound
    return ([Layer("session.start_s", "all", "setup_s"),
             Layer("jvm.peak_rss_mb", "all", "pass_cpu_s")]
            + _etl_layers() + _inventory_layers(inventory_modules))


# -- computation ------------------------------------------------------

def _per_op(res: dict, key: str) -> dict[str, list]:
    """Timed samples of ``key`` per op name, failed ops left out."""
    out: dict[str, list] = {}
    for p in res["passes"]:
        for op in p["ops"]:
            if op["ok"]:
                out.setdefault(op["name"], []).append(op[key])
    return out


def end_to_end(res: dict, spawned: float) -> dict[str, float]:
    """A pass is every op once: its time and its CPU are the sums of
    each op's median."""
    walls = _per_op(res, "wall_s")
    pass_s = sum(median(v) for v in walls.values())
    return {
        "setup_s": res["first_op"] - spawned,
        "pass_s": pass_s,
        "pass_cpu_s": sum(median(v) for v in _per_op(res, "cpu_s").values()),
        "op_p50_s": median([w for v in walls.values() for w in v]),
        "rows_per_s": sum(median(v) for v in _per_op(res, "rows").values())
        / pass_s,
        "driver_peak_rss_mb": res["driver_peak_rss_mb"],
    }


def _by_pass(rows: dict[str, dict]) -> dict[str, dict[str, dict]]:
    """``{"p0:io.write.model": row}`` -> ``{"p0": {"io.write.model":
    row}}``."""
    out: dict[str, dict[str, dict]] = {}
    for key, row in rows.items():
        tag, name = key.split(":", 1)
        out.setdefault(tag, {})[name] = row
    return out


def _pass_job_s(log: eventlog.Log, p: dict) -> float:
    """Wall time of pass ``p`` covered by its own jobs."""
    return eventlog.union_s([
        (max(j["start"], p["start"]), min(j["end"], p["end"]))
        for j in log.jobs.values()
        if (j["group"] or "").startswith(p["tag"] + ":")
        and j["end"] is not None
        and j["end"] > p["start"] and j["start"] < p["end"]
    ])


def _total(rows: dict[str, dict], key: str) -> float:
    return sum(r[key] for r in rows.values())


def etl_layers(res: dict, log: eventlog.Log) -> dict[str, float]:
    by_pass = _by_pass(eventlog.attribute(log, res["spans"]))
    per_load = []
    for p in res["passes"]:
        rows = by_pass.get(p["tag"], {})
        span = lambda n: rows.get(n, {}).get("wall_s", 0.0)  # noqa: E731
        v = {
            "etl.plan_s": span("etl.plan"),
            "io.readback_s": sum(span(f"io.readback.{t}")
                                 for t in RELEASE_TABLES),
            "etl.driver_s": p["ops"][0]["wall_s"] - _pass_job_s(log, p),
            "etl.jobs": _total(rows, "jobs"),
            "etl.stages": _total(rows, "stages"),
            "etl.tasks": _total(rows, "tasks"),
            "etl.exec_cpu_s": _total(rows, "exec_cpu_s"),
            "etl.gc_s": _total(rows, "gc_s"),
            # the feeds are the only JSON the load reads
            "sources.parse_cpu_s": _total(rows, "json_scan_cpu_s"),
            "sources.input_bytes": _total(rows, "json_input_bytes"),
            "sources.scan_amplification":
                _total(rows, "json_input_bytes") / res["input_bytes"],
            "etl.shuffle_write_bytes": _total(rows, "shuffle_write_bytes"),
            "io.output_bytes": _total(rows, "output_bytes"),
            "etl.result_bytes": _total(rows, "result_bytes"),
        }
        v.update({f"io.write_s.{t}": span(f"io.write.{t}")
                  for t in RELEASE_TABLES})
        per_load.append(v)
    out = {k: median([v[k] for v in per_load]) for k in per_load[0]}
    out["etl.first_load_extra_s"] = (
        res["warm"][0]["wall_s"] - end_to_end(res, 0.0)["pass_s"])
    return out


def inventory_layers(res: dict, log: eventlog.Log,
                     face_module: dict[str, str]) -> dict[str, float]:
    """Per face, the median over its timed invocations; a total is the
    sum of the faces' medians, i.e. per pass."""
    samples: dict[str, list[dict]] = {}
    for key, row in eventlog.attribute(log, res["spans"]).items():
        tag, face = key.split(":", 1)
        if tag.startswith("p"):
            samples.setdefault(face, []).append(row)
    med = {face: {k: median([r[k] for r in rows]) for k in rows[0]}
           for face, rows in samples.items()}
    out = {}
    for face, m in face_module.items():
        r = med.get(face, {})
        out[f"q.{m}.s"] = r.get("wall_s", 0.0)
        out[f"q.{m}.driver_s"] = r.get("driver_s", 0.0)
        out[f"q.{m}.jobs"] = r.get("jobs", 0)
    for key in ("tasks", "exec_cpu_s", "gc_s", "input_bytes",
                "shuffle_write_bytes", "result_bytes"):
        out[f"q.{key}"] = _total(med, key)
    out["q.first_pass_extra_s"] = (
        res["warm"][0]["wall_s"] - end_to_end(res, 0.0)["pass_s"])
    return out
