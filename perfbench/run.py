#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload etl_release --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 12]

A run starts two fresh processes of ``worker.py`` in turn, one that
writes the seeded inputs and the worker that measures, under a
benchmark-owned ``TMPDIR`` inside the checkout, so every run starts from
the same fixture state, and waits for them and every process they
started.
It prints the run's provenance, each ``<workload>/<metric>`` with its
unit, and as its last line one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (from Spark's event log) with
``--trace 1``.  It exits non-zero when an output check fails.

``--all`` runs every workload untraced and traced and also prints
each per-layer metric with the end-to-end metric it should move, and
the tracing overhead (traced minus untraced end-to-end values).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from worker import INVENTORY_FACES, WORKLOADS  # noqa: E402

FACE_MODULE = {face: m for m, face in INVENTORY_FACES.items()}
PER_LAYER = layers.per_layer(set(INVENTORY_FACES))
# keep the whole command under three minutes
DEADLINE_S = 170.0
MARKER = "PERFBENCH_RUN_ID"


def units() -> dict[str, str]:
    """Each metric's unit, as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _require_checkout() -> None:
    """The benchmark measures the package in the checkout it sits in."""
    for rel in ("hfcommunity_spark/cli.py", "hfcommunity_spark/queries.py",
                "tools/etl_bench.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from "
                     "a checkout of the repository")


def _marked(run_id: str) -> list[int]:
    """Live processes whose environment carries this run's marker (the
    worker, its JVM and the Python workers the JVM forks, which leave
    the worker's process group)."""
    needle = f"{MARKER}={run_id}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


def _reap(run_id: str) -> None:
    """Stop every process of the run and wait until each has ended."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = _marked(run_id)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while _marked(run_id) and time.monotonic() < end:
            time.sleep(0.1)
    if _marked(run_id):
        raise RuntimeError(f"processes of run {run_id} did not end")


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             deadline: float) -> tuple[dict, float, str]:
    """One run; returns (result, spawn epoch, work dir)."""
    work = os.path.join(ROOT, ".perfbench-work", f"{workload}-t{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    run_id = uuid.uuid4().hex
    env = dict(os.environ)
    env.update({
        MARKER: run_id,
        # Spark's Python workers import the package by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the JVMs' temporary files (native libraries, artifacts, perf
    # counters) stay in the run's directory too
    jvm_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = jvm_opts
    submit = [f"--driver-java-options '{jvm_opts}'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
            # the default codec is zstd, which Python here cannot read
            "--conf spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--root", ROOT, "--work", work, "--out", out]
    spawned = time.time()
    # the inputs are written by a process of their own, so that their
    # memory does not count as the worker's
    _spawn(cmd + ["--inputs-only"], work, env, run_id, deadline)
    _spawn(cmd, work, env, run_id, deadline)
    with open(out, encoding="utf-8") as fh:
        return json.load(fh), spawned, work


def _spawn(cmd: list[str], work: str, env: dict, run_id: str,
           deadline: float) -> None:
    """Run ``cmd`` to its end, then stop every process of the run."""
    with open(os.path.join(work, "worker.log"), "ab") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(run_id)
            proc.wait()
    if code != 0:
        with open(os.path.join(work, "worker.log"), "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        what = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"{cmd[3]} worker {what}:\n{tail}")


def layer_metrics(workload: str, res: dict, work: str) -> dict[str, float]:
    """Every per-layer metric; those of the other workload read 0."""
    log = eventlog.parse(eventlog.find_log(os.path.join(work, "eventlog")))
    vals = (layers.etl_layers(res, log) if workload == "etl_release"
            else layers.inventory_layers(res, log, FACE_MODULE))
    vals["session.start_s"] = res["setup_parts"]["session_s"]
    vals["jvm.peak_rss_mb"] = res["jvm_peak_rss_mb"]
    return {lay.name: vals.get(lay.name, 0) for lay in PER_LAYER}


def counts(res: dict) -> tuple[int, int]:
    ops = [op for p in res["warm"] + res["passes"] for op in p["ops"]]
    return len(ops), sum(not op["ok"] for op in ops)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            deadline: float) -> dict:
    res, spawned, work = run_once(workload, seed, seconds, trace, deadline)
    attempted, failed = counts(res)
    e2e = layers.end_to_end(res, spawned)
    return {
        "res": res,
        "e2e": e2e,
        "layers": layer_metrics(workload, res, work) if trace else None,
        "attempted": attempted,
        "failed": failed,
        "correct": res["check"]["ok"] and failed == 0,
    }


def report(workload: str, m: dict, trace: bool) -> dict:
    """Print one run's provenance, checks and metrics; return the
    contract's result object."""
    res = m["res"]
    print(f"provenance {json.dumps(res['provenance'], sort_keys=True)}")
    print(f"setup_parts {json.dumps(res['setup_parts'])}")
    print(f"{workload}: ops failed/attempted {m['failed']}/{m['attempted']}"
          f", timed passes {len(res['passes'])}")
    for f in res["failures"]:
        print(f"  failed {f['pass']}:{f['op']}: {f['error']}")
    lat = [op["wall_s"] for p in res["passes"] for op in p["ops"] if op["ok"]]
    print(f"{workload}: op latency p50 {statistics.median(lat):.4g} s, p90 "
          f"{stats.percentile(lat, 90):.4g} s over {len(lat)} timed ops "
          f"({stats.beyond(len(lat), 90)} beyond p90)")
    chk = res["check"]
    print(f"{workload}: output check {'ok' if chk['ok'] else 'FAILED'} "
          f"({chk['checked']} checked)")
    for e in chk["errors"]:
        print(f"  {e}")
    metrics = m["layers"] if trace else m["e2e"]
    unit = units()
    for name, value in metrics.items():
        print(f"{workload}/{name} {value:.6g} {unit[name]}")
    return {
        "correct": m["correct"],
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {name: {"value": value, "unit": unit[name]}
                    for name, value in metrics.items()},
    }


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced: metrics, what each layer
    metric should move, and the tracing overhead."""
    ok = True
    moves = {lay.name: lay for lay in PER_LAYER}
    unit = units()
    for w in WORKLOADS:
        plain = measure(w, seed, seconds, False,
                        time.monotonic() + DEADLINE_S)
        report(w, plain, False)
        traced = measure(w, seed, seconds, True,
                         time.monotonic() + DEADLINE_S)
        for name, value in traced["layers"].items():
            lay = moves[name]
            if lay.workload in (w, "all"):
                print(f"{w}/{name} {value:.6g} {unit[name]} "
                      f"(should move {w}/{lay.moves})")
        for name in layers.END_TO_END:
            d = traced["e2e"][name] - plain["e2e"][name]
            print(f"{w}/{name} tracing overhead {d:+.6g} {unit[name]} "
                  f"({d / plain['e2e'][name]:+.1%})")
        ok = ok and plain["correct"] and traced["correct"]
    print(json.dumps({"correct": ok}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.all == bool(args.workload):
        ap.error("give exactly one of --workload and --all")
    _require_checkout()
    # on SIGTERM, unwind so that run_once stops the run's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.all:
        return run_all(args.seed, args.seconds)
    m = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                time.monotonic() + DEADLINE_S)
    result = report(args.workload, m, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
