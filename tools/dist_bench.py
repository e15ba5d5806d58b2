#!/usr/bin/env python
"""Caps-zeroed bench arm (VERDICT r13 ask #1): per-round perf evidence
for the DISTRIBUTED plans behind the five twin-gated faces.

Five faces take gated driver-local fast paths at bench scale
(g_merge_base, g_commit_ancestors, g_pagerank_fixed_iter,
x15_stream_maintained_clusters, x17_stream_maintained_spans).  Their
distributed plans — the ones the 100 TB story depends on — are
parity-locked for CORRECTNESS with the caps pinned to 0, but before
r14 their PERFORMANCE had no per-round recording: the in-suite and solo numbers are twin numbers, so a silent
distributed-path regression stayed invisible until the next sporadic
scale rehearsal.

This tool runs each face in a fresh subprocess session with EVERY
driver-local cap pinned to 0 (``placement.distributed()``, the
configuration tests/test_placement.py checks against the oracles), times it best-of-2 at $SPARK_GRAFT_SF_DIR (default sf0.1), and
writes BENCH_DIST.json with the same calibration block as bench.py
and the provenance block of tools/etl_bench.py (git sha, nproc, ...) —
one artifact per round, shape-locked by tests/test_bench_contract.py.

Usage:  python tools/dist_bench.py            # all five, writes artifact
        python tools/dist_bench.py --only g_merge_base   # subset, stdout only
        python tools/dist_bench.py --worker NAME         # (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

DIST_FACES = (
    "g_commit_ancestors",
    "g_merge_base",
    "g_pagerank_fixed_iter",
    "x15_stream_maintained_clusters",
    "x17_stream_maintained_spans",
)


def _sf_dir() -> str:
    from bench import _sf_dir as bench_sf_dir

    return bench_sf_dir()


def _worker(name: str) -> None:
    """Fresh session, ALL caps pinned to 0, shallow warm, best-of-2
    timing + the bench calibration pair; one JSON line on stdout.

    The calibration is taken BEFORE the attempts and AGAIN after them
    (``*_end`` keys, mirroring bench.py's end sentinels): on this host
    steal bursts are minute-scale, so a burst can land entirely inside
    the timed attempts and leave the pre-attempt sentinel clean — the
    first x15 recording read 51.7 s against a 0.28/0.24 start sentinel
    exactly that way.  The end reading makes that case adjudicable."""
    from bench import _calibrate, _warm

    from hfcommunity_spark.operators import placement
    from hfcommunity_spark.queries import all_queries
    from hfcommunity_spark.session import get_spark
    from tools.etl_bench import _provenance

    spark = get_spark(app_name="hfcommunity-bench-dist")
    spark.sparkContext.setLogLevel("ERROR")
    with placement.distributed() as pinned:
        _warm(spark)
        cal = _calibrate(spark)
        spec = all_queries()[name]
        attempts = []
        for _ in range(2):
            t0 = time.monotonic()
            spec.spark(spark, _sf_dir()).count()
            attempts.append(round(time.monotonic() - t0, 4))
        end = _calibrate(spark)
    cal["cpu_loop_sec_end"] = end["cpu_loop_sec"]
    cal["spark_scan_sec_end"] = end["spark_scan_sec"]
    print(json.dumps({
        "name": name,
        "sec": min(attempts),
        # both attempt times, in run order (r14): the span-fold faces
        # showed ~30 % min-to-min spread across recordings, so the
        # artifact carries the raw attempts — a future reader can
        # tell a tight pair (trustworthy min) from a wild one before
        # calling a cross-round delta a regression
        "attempts": attempts,
        "calibration": cal,
        "caps_zeroed": pinned,
        "provenance": _provenance(spark),
    }))
    spark.stop()


# Contended-face guard (r14, the solo outlier guard's discipline
# applied to the arm): a face's recording is SUSPECT — re-run, keep
# the faster, record every try — when any of its four sentinel
# readings (cpu/scan, start/end) departs >1.4x from the quietest
# reading seen anywhere in the run.  Interleaved same-code runs on
# this host measured pagerank {2.03,1.44,2.56} vs {1.78,1.27,2.23}
# and a first-recording x15 of 51.7 s against 14.4 s in the previous
# pass — pure steal-burst phantoms, exactly what the guard absorbs.
DIST_CAL_RATIO = 1.4
DIST_MAX_TRIES = 3


def _face_suspect(cal: dict, best_cpu: float | None,
                  best_scan: float | None) -> str | None:
    """Reason string when any sentinel reading says this face's
    subprocess saw contention (None = clean)."""
    for key, best in (("cpu_loop_sec", best_cpu),
                      ("spark_scan_sec", best_scan)):
        for suffix in ("", "_end"):
            v = cal.get(key + suffix)
            if v and best and v > DIST_CAL_RATIO * best:
                return (f"{key}{suffix} {v:.3f}s > {DIST_CAL_RATIO:g}x "
                        f"run-best {best:.3f}s")
    return None


def build_dist_payload(rows: list[dict], sf_val,
                       tries: dict[str, list] | None = None) -> dict:
    """The BENCH_DIST.json shape (locked by
    tests/test_bench_contract.py): per-face seconds + per-face
    calibration, a top-level calibration (min across workers — the
    host's best, mirroring the min-of-3 discipline), scan-normalized
    ratios, and the caps inventory actually pinned.  ``tries`` (r14
    contended-face guard) records EVERY subprocess run for faces that
    needed more than one, flag reasons included."""
    queries = {r["name"]: r["sec"] for r in rows}
    total = round(sum(queries.values()), 4)
    cals = {r["name"]: r["calibration"] for r in rows}
    out = {
        "metric": "twin_gated_faces_distributed_path_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": dict(sorted(queries.items())),
        "query_attempts": {
            r["name"]: r["attempts"] for r in sorted(
                rows, key=lambda r: r["name"]) if r.get("attempts")
        },
        "caps_zeroed": rows[0]["caps_zeroed"] if rows else {},
        "provenance": rows[0].get("provenance") if rows else None,
        "regime": (
            "one fresh-session subprocess per face; every driver-"
            "local cap pinned to 0 (the distributed plans the 100 TB "
            "story depends on); shallow warm, best-of-2; contended-"
            "face guard: a face whose cpu/scan sentinel (start OR "
            "end) departs >1.4x from the run's quietest reading "
            "re-runs (max 3 tries), fastest kept, every try recorded "
            "under face_tries"
        ),
        "per_face_calibration": dict(sorted(cals.items())),
    }
    if tries:
        out["face_tries"] = {
            n: [{"sec": t["sec"], "attempts": t.get("attempts"),
                 "calibration": t["calibration"],
                 "flagged": t.get("flagged")} for t in ts]
            for n, ts in sorted(tries.items()) if len(ts) > 1
        }
    cpu = [c["cpu_loop_sec"] for c in cals.values()
           if c.get("cpu_loop_sec")]
    scan = [c["spark_scan_sec"] for c in cals.values()
            if c.get("spark_scan_sec")]
    if cpu and scan:
        out["calibration"] = {
            "cpu_loop_sec": min(cpu),
            "spark_scan_sec": min(scan),
        }
        out["queries_scan_normalized"] = {
            k: round(v / min(scan), 3) for k, v in queries.items()
        }
        out["value_scan_normalized"] = round(total / min(scan), 2)
    return out


def main(argv: list[str]) -> None:
    if len(argv) > 1 and argv[1] == "--worker":
        _worker(argv[2])
        return
    only = None
    if len(argv) > 1 and argv[1] == "--only":
        if len(argv) < 3:
            raise SystemExit(
                "--only requires a comma-separated face list; a bare "
                "--only would run ALL faces and overwrite BENCH_DIST.json"
            )
        only = set(argv[2].split(","))
        unknown = only - set(DIST_FACES)
        if unknown:
            raise SystemExit(
                f"unknown face(s) {sorted(unknown)}; "
                f"choose from {list(DIST_FACES)}"
            )
    faces = [f for f in DIST_FACES if only is None or f in only]
    here = os.path.abspath(__file__)

    def _run_once(name: str) -> dict:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, here, "--worker", name],
            capture_output=True, text=True, timeout=1800,
        )
        try:
            row = json.loads(out.stdout.strip().splitlines()[-1])
        except Exception:
            print(f"dist worker failed for {name}:\n{out.stderr[-2000:]}",
                  file=sys.stderr)
            raise
        print(f"{name}: {row['sec']}s "
              f"(wall {time.monotonic() - t0:.0f}s)", file=sys.stderr)
        return row

    # run-best sentinel readings, updated over every try of every
    # face — the guard's baseline.  None until the first row lands;
    # the FIRST face can therefore only be flagged by its own
    # start-vs-end disagreement, so a final sweep below re-checks
    # every kept row against the finished run's minima.
    best: dict[str, float | None] = {"cpu": None, "scan": None}

    def _update_best(cal: dict) -> None:
        for short, key in (("cpu", "cpu_loop_sec"),
                           ("scan", "spark_scan_sec")):
            for suffix in ("", "_end"):
                v = cal.get(key + suffix)
                if v and (best[short] is None or v < best[short]):
                    best[short] = v

    rows, tries = [], {}
    for name in faces:
        face_tries = []
        while True:
            row = _run_once(name)
            _update_best(row["calibration"])
            row["flagged"] = _face_suspect(
                row["calibration"], best["cpu"], best["scan"])
            face_tries.append(row)
            if row["flagged"] is None or len(face_tries) >= DIST_MAX_TRIES:
                break
            print(f"contended-face guard: re-running {name} "
                  f"({row['flagged']})", file=sys.stderr)
        tries[name] = face_tries
        rows.append(min(face_tries, key=lambda r: r["sec"]))

    # final sweep: the run's minima are only complete now — one extra
    # try for any kept row the finished baseline flags (covers the
    # first-face-contended case the in-order guard cannot see)
    for i, row in enumerate(rows):
        if len(tries[row["name"]]) >= DIST_MAX_TRIES:
            continue
        reason = _face_suspect(row["calibration"], best["cpu"],
                               best["scan"])
        if reason is None:
            continue
        print(f"contended-face guard (final sweep): re-running "
              f"{row['name']} ({reason})", file=sys.stderr)
        retry = _run_once(row["name"])
        _update_best(retry["calibration"])
        retry["flagged"] = _face_suspect(
            retry["calibration"], best["cpu"], best["scan"])
        tries[row["name"]].append(retry)
        rows[i] = min(tries[row["name"]], key=lambda r: r["sec"])

    # Kept-row selection against the FINISHED run's minima (ADVICE
    # r14): in-loop flags were evaluated against a mid-run baseline,
    # so a kept min(sec) try could carry a stale flag status — and a
    # flagged-fastest try beat an unflagged one.  Re-evaluate every
    # try's flag against the final run-best, then keep the fastest
    # UNFLAGGED try when one exists (fall back to the plain min).
    for ts in tries.values():
        for t in ts:
            t["flagged"] = _face_suspect(
                t["calibration"], best["cpu"], best["scan"])
    for i, row in enumerate(rows):
        ts = tries[row["name"]]
        clean = [t for t in ts if t["flagged"] is None]
        rows[i] = min(clean or ts, key=lambda r: r["sec"])
    from bench import _sf_value

    payload = build_dist_payload(rows, _sf_value(), tries)
    line = json.dumps(payload, separators=(",", ":"))
    if only is None:
        with open(os.path.join(_REPO, "BENCH_DIST.json"), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    print(line)


if __name__ == "__main__":
    main(sys.argv)
