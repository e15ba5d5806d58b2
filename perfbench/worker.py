"""One run of one workload, in a fresh process started by ``run.py``.

A short-lived first invocation with ``--inputs-only`` writes the run's
inputs from the seed, so that their memory is not the worker's.  The
worker then starts a Spark session through the package's own factory,
warms up with untimed passes, then runs timed passes until the time
budget is spent and at least two ops are timed (the op that crosses it
finishes; none starts after it), checks every output outside the timed
region, and writes one JSON result file.  The driver's peak resident
set is that of the timed window alone.

Workloads
  etl_release  a pass is one op: one ``cli.run`` load of seeded JSONL
               feeds into a fresh release directory
  inventory    a pass runs every face of ``INVENTORY_FACES`` once, in a
               seeded order, each op materializing one face's result at
               the driver with ``toArrow()``

With ``--trace 1`` every call the worker makes into the package runs
under a Spark job group named after its span, so the event log (enabled
by the parent through ``PYSPARK_SUBMIT_ARGS``) attributes each job.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import procs  # noqa: E402

# Feed size of one etl_release load: 1,000 repositories with the
# June-2024 child ratios of tools/etl_bench.py (about 74k rows).
ETL_REPOS = 1_000
# Untimed loads before timing.  The first load in a process pays JIT and
# Python-worker start-up and takes more than twice a warm load.  From
# the second load on the wall time is flat, but the process-tree CPU
# still falls by 5-10 % a load until about the sixth (JIT compiler
# threads; 4-core probe, 3 seeds).  Each further warm load adds ~10 s
# to a run, which the benchmark's total run budget does not leave room
# for, so the timed loads' CPU still includes that compilation.
ETL_WARM_LOADS = 1

# Query tables for inventory: the TPC-H scale of the reference test
# data's oracle tier (60k lineitem rows).
DATA_SCALE = 0.01
# The first pass pays first-touch costs; the second still ran ~5 % slower
# and used ~20 % more process-tree CPU than the third (JIT compiler
# threads), so timing starts after two.
INVENTORY_WARM_PASSES = 2

# One face per registering module: the face whose warm latency is
# closest to its module's median (4-core probe over all 181 faces at
# this scale).  Most faces are small, so this set keeps the per-face
# fixed cost that sets the inventory's median latency.
INVENTORY_FACES = {
    "curation": "pipe_curate_select_pack_shard",
    "dedup": "dd_maintained_pairs_parity",
    "etlops": "a3_run_counters",
    "graph": "g_pagerank_fixed_iter",
    "layout": "layout_zorder_pruning_audit",
    "linkage": "j12_fuzzy_blocked_join",
    "lm": "samp_repeat_schedule",
    "mergeops": "d2_upsert_last_writer",
    "multimodal": "mm_byte_features",
    "pandas_udfs": "ud3_grouped_agg_cents",
    "relational": "a6_ratio_customers_with_orders",
    "relational_ext": "p2_watermark_split_counts",
    "relational_ext2": "q13_customer_order_distribution",
    "retrieval": "ret_maintained_bm25_parity",
    "sampling": "samp_mixture_weights",
    "similarity": "sim_kmeans_ivf_topk",
    "skew": "skew_salted_agg_parity",
    "textops": "t_pii_scrub_stats",
    "batch_parity": "x3_sliding_halfhour",
}

WORKLOADS = ("etl_release", "inventory")
# A load slowed past the time budget by a busy host would otherwise be
# the run's only sample; with two, a short slow spell moves the median
# by half as much.
MIN_TIMED_OPS = 2


class Tracer:
    """Spans at the benchmark's calls into the package.  Each span's
    name is set as the Spark job group while it is open; with tracing
    off nothing is recorded and no job group is set."""

    def __init__(self, sc, on: bool) -> None:
        self.sc, self.on = sc, on
        self.spans: list[dict] = []
        self._open: dict | None = None

    def switch(self, name: str | None) -> None:
        """Close the open span and, unless ``name`` is None, open
        ``name``."""
        if not self.on:
            return
        now = time.time()
        if self._open is not None:
            self._open["end"] = now
            self.spans.append(self._open)
            self._open = None
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            return
        self.sc.setJobGroup(name, name)
        self._open = {"name": name, "start": now}

    def sibling(self, name: str) -> None:
        """Switch to span ``name`` of the open span's pass."""
        if self.on:
            self.switch(f"{self._open['name'].split(':')[0]}:{name}")


def scratch_fixtures() -> dict[str, bool]:
    """The package's shared scratch fixtures under ``$TMPDIR`` (see
    ``etlops._stable_scratch_dir``): name -> complete."""
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"hfc-scratch-{os.getuid()}")
    if not os.path.isdir(root):
        return {}
    return {d: os.path.exists(os.path.join(root, d, "_COMPLETE"))
            for d in sorted(os.listdir(root))}


class Run:
    """Timed operations of one workload in one session."""

    def __init__(self, args, sc) -> None:
        self.args = args
        self.tracer = Tracer(sc, args.trace)
        self.me = os.getpid()
        self.warm: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[dict] = []

    def _op(self, tag: str, name: str, fn) -> dict:
        """Run one op under span ``<tag>:<name>``, with its wall time and
        its process-tree CPU; a failure is recorded and the op's
        latency is left out."""
        self.tracer.switch(f"{tag}:{name}")
        cpu0 = procs.tree_cpu_s(self.me)
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception as exc:  # one failed op must not end the run
            out, ok = None, False
            self.failures.append({"op": name, "pass": tag,
                                  "error": repr(exc)[:500],
                                  "trace": traceback.format_exc()[-2000:]})
        wall = time.perf_counter() - t0
        self.tracer.switch(None)
        cpu = procs.tree_cpu_s(self.me) - cpu0
        return {"name": name, "ok": ok, "wall_s": wall, "cpu_s": cpu,
                "out": out}

    def _pass(self, tag: str, ops, stop=None) -> dict:
        """Run ``ops`` in order; with ``stop``, start no op once
        ``stop()`` is true, except the pass's first."""
        p = {"tag": tag, "start": time.time(), "ops": []}
        t0 = time.perf_counter()
        for name, fn in ops:
            if stop is not None and p["ops"] and stop():
                break
            p["ops"].append(self._op(tag, name, fn))
        p["wall_s"] = time.perf_counter() - t0
        p["end"] = time.time()
        return p

    def loop(self, n_warm: int, make_ops) -> float:
        """``n_warm`` untimed passes, then timed passes: one whole pass,
        then more until the time budget is spent and at least
        ``MIN_TIMED_OPS`` ops are timed.  Returns the epoch time of the
        first timed op."""
        for i in range(n_warm):
            self.warm.append(self._pass(f"w{i}", make_ops(f"w{i}")))
        gc.collect()
        procs.reset_peak_rss()
        first = time.time()
        t0 = time.perf_counter()
        host0 = procs.host_cpu_ticks()
        over = lambda: time.perf_counter() - t0 >= self.args.seconds  # noqa: E731
        self.passes.append(self._pass("p0", make_ops("p0")))
        while (not over() or sum(len(p["ops"]) for p in self.passes)
               < MIN_TIMED_OPS):
            tag = f"p{len(self.passes)}"
            self.passes.append(self._pass(tag, make_ops(tag), stop=over))
        host1 = procs.host_cpu_ticks()
        # a diagnostic for noisy runs: the share of the host's CPU time
        # in the timed window that other guests took
        self.steal_share = (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
        self.peak_rss_mb = procs.status_kb(self.me, "VmHWM") / 1024
        return first


# -- etl_release ------------------------------------------------------

def _feed_bytes(feeds: str) -> int:
    return sum(os.path.getsize(os.path.join(feeds, f))
               for f in os.listdir(feeds))


def run_etl(args, spark, run: Run, work: str) -> dict:
    from hfcommunity_spark import cli

    feeds = os.path.join(work, "feeds")
    releases = os.path.join(work, "releases")
    if args.trace:
        _trace_etl_calls(run.tracer)

    def make_ops(tag):
        # the previous load's release is removed here, outside any timing
        shutil.rmtree(releases, ignore_errors=True)
        ns = cli._parser().parse_args(
            ["--feeds", feeds, "--base", os.path.join(releases, tag),
             "--release", "bench"])
        return [("load", lambda: cli.run(spark, ns))]

    first = run.loop(ETL_WARM_LOADS, make_ops)
    for p in run.passes:
        p["ops"][0]["rows"] = sum((p["ops"][0]["out"] or {}).values())
    expected = checks.expected_release_counts(feeds)
    results = [
        {"tag": p["tag"], "counts": p["ops"][0]["out"]}
        for p in run.warm + run.passes if p["ops"][0]["ok"]
    ]
    return {"first_op": first, "check": checks.check_release(
        expected, results), "input_bytes": _feed_bytes(feeds)}


def _trace_etl_calls(tracer: Tracer) -> None:
    """Span the package calls ``cli.run`` makes: the plan build and
    each table's snapshot write; the row-count read-back after a write
    runs in an ``io.readback.<table>`` span.  The feeds are read lazily,
    so their parse runs in the write spans' jobs."""
    from hfcommunity_spark import cli
    from hfcommunity_spark.etl import pipeline

    run_offline = pipeline.run_offline
    write_snapshot = cli.write_snapshot

    def traced_plan(*a, **kw):
        tracer.sibling("etl.plan")
        return run_offline(*a, **kw)

    def traced_write(df, base_dir, table, release, *a, **kw):
        tracer.sibling(f"io.write.{table}")
        out = write_snapshot(df, base_dir, table, release, *a, **kw)
        tracer.sibling(f"io.readback.{table}")
        return out

    pipeline.run_offline = traced_plan
    cli.write_snapshot = traced_write


# -- inventory --------------------------------------------------------

def run_inventory(args, spark, run: Run, data: str) -> dict:
    from hfcommunity_spark.queries import all_queries

    specs = all_queries()
    missing = sorted(f for f in INVENTORY_FACES.values() if f not in specs)
    if missing:
        raise RuntimeError(f"faces no longer registered: {missing}")
    order_rng = random.Random(args.seed)
    # the last warm pass's results are kept for the output check; every
    # other op keeps only its row count
    kept = f"w{INVENTORY_WARM_PASSES - 1}"

    def make_ops(tag):
        faces = sorted(INVENTORY_FACES.values())
        order_rng.shuffle(faces)
        if tag == kept:
            return [(f, lambda f=f: specs[f].spark(spark, data).toArrow())
                    for f in faces]
        return [(f, lambda f=f: specs[f].spark(spark, data).toArrow()
                 .num_rows) for f in faces]

    first = run.loop(INVENTORY_WARM_PASSES, make_ops)
    tables = {op["name"]: op.pop("out")
              for op in run.warm[-1]["ops"] if op["ok"]}
    timed_rows: dict[str, list[int]] = {}
    for p in run.passes:
        for op in p["ops"]:
            op["rows"] = op["out"] if op["ok"] else 0
            if op["ok"]:
                timed_rows.setdefault(op["name"], []).append(op["rows"])
    check = checks.check_faces(
        {f: specs[f].oracle for f in INVENTORY_FACES.values()}, tables,
        timed_rows, data)
    return {"first_op": first, "check": check,
            "input_bytes": _feed_bytes(data)}


# -- process ----------------------------------------------------------

def build_inputs(args, work: str) -> dict:
    """Seeded inputs; returns their sizes."""
    if args.workload == "etl_release":
        from tools.etl_bench import _write_feeds

        feeds = os.path.join(work, "feeds")
        os.makedirs(feeds)
        _write_feeds(feeds, ETL_REPOS, seed=args.seed)
        return {"repos": ETL_REPOS, "feed_bytes": _feed_bytes(feeds)}
    import datagen

    rows = datagen.write(os.path.join(work, "data"), args.seed, DATA_SCALE)
    return {"scale": DATA_SCALE, "rows": rows,
            "bytes": _feed_bytes(os.path.join(work, "data"))}


def provenance(args, spark, inputs: dict) -> dict:
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "inputs": inputs,
        "source_sha256": checks.source_digest(args.root),
        "git_sha": checks.git_sha(args.root),
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "placement": "as shipped: driver-local twins where gated, no cap "
                     "pinned",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--inputs-only", action="store_true",
                    help="write the run's inputs and their sizes, then exit")
    args = ap.parse_args(argv)
    sys.path.insert(0, args.root)
    sizes_json = os.path.join(args.work, "inputs.json")
    if args.inputs_only:
        t0 = time.time()
        inputs = build_inputs(args, args.work)
        inputs["build_s"] = time.time() - t0
        with open(sizes_json, "w", encoding="utf-8") as fh:
            json.dump(inputs, fh)
        return 0
    with open(sizes_json, encoding="utf-8") as fh:
        inputs = json.load(fh)
    load_start = os.getloadavg()

    t0 = time.time()
    fixtures_before = scratch_fixtures()

    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    build_s = inputs.pop("build_s")
    try:
        prov = provenance(args, spark, inputs)
        run = Run(args, spark.sparkContext)
        if args.workload == "etl_release":
            res = run_etl(args, spark, run, args.work)
        else:
            res = run_inventory(args, spark, run,
                                os.path.join(args.work, "data"))
        java = procs.find_java(os.getpid())
        hwm = procs.status_kb(java, "VmHWM") if java else None
    finally:
        spark.stop()
    fixtures_after = scratch_fixtures()
    prov["fixtures"] = {
        name: ("reused" if fixtures_before.get(name) else "built")
        for name, ok in fixtures_after.items() if ok
    }
    prov["loadavg_start"] = load_start
    prov["loadavg_end"] = os.getloadavg()
    prov["timed_steal_share"] = run.steal_share
    for p in run.warm + run.passes:
        for op in p["ops"]:
            op.pop("out", None)
    out = {
        "provenance": prov,
        "setup_parts": {"inputs_s": build_s,
                        "session_s": t_session - t0,
                        "warm_s": res["first_op"] - t_session},
        "first_op": res["first_op"],
        "warm": run.warm,
        "passes": run.passes,
        "failures": run.failures,
        "check": res["check"],
        "input_bytes": res["input_bytes"],
        "spans": run.tracer.spans,
        "driver_peak_rss_mb": run.peak_rss_mb,
        "jvm_peak_rss_mb": hwm / 1024 if hwm else None,
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
