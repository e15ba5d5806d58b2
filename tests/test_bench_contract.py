"""The bench stdout contract: one JSON line that survives the driver's
2000-char tail capture (the round-1 regression: a 3KB line clipped at
the head, parsed=null) while keeping metric/value/unit/queries/sf."""

from __future__ import annotations

import json

from bench import TAIL_BUDGET, build_payloads


def _fake_timings(n):
    return {f"some_rather_long_query_name_{i:04d}": 0.1 + (i % 37) * 0.13
            for i in range(n)}


def test_line_fits_tail_budget_at_any_inventory_size():
    for n in (1, 50, 109, 400):
        full, line = build_payloads(_fake_timings(n), 0.1)
        assert len(line) <= TAIL_BUDGET + 1
        d = json.loads(line)
        assert {"metric", "value", "unit", "queries", "sf",
                "n_queries"} <= set(d)
        assert d["n_queries"] == n == len(full["queries"])
        assert round(sum(full["queries"].values()), 4) == d["value"]


def test_line_keeps_the_slowest_queries():
    timings = _fake_timings(400)
    _, line = build_payloads(timings, 0.1)
    d = json.loads(line)
    shown = d["queries"]
    cutoff = min(shown.values())
    omitted = [v for k, v in timings.items() if k not in shown]
    assert all(v <= cutoff + 0.005 for v in omitted)  # fastest omitted
    assert d["queries_omitted_fastest"] == 400 - len(shown)


def test_solo_regime_rides_the_line_and_full_payload():
    """The dual-regime contract (round 10): when a solo map is passed,
    BOTH artifacts carry it — the stdout line under 'solo' (rounded)
    and BENCH_FULL under 'solo' + 'solo_regime' — and the line still
    fits the driver's tail budget at a large inventory."""
    timings = _fake_timings(200)
    solo = {"g_merge_base": 1.2345, "x15_stream_maintained_clusters": 7.89}
    full, line = build_payloads(timings, 0.1, solo)
    assert len(line) <= TAIL_BUDGET + 1
    d = json.loads(line)
    assert d["solo"] == {"g_merge_base": 1.23,
                         "x15_stream_maintained_clusters": 7.89}
    assert full["solo"] == dict(sorted(solo.items()))
    assert "fresh-session" in full["solo_regime"]
    # and without a solo map neither artifact grows the keys
    full2, line2 = build_payloads(timings, 0.1, None)
    assert "solo" not in full2 and "solo" not in json.loads(line2)


def test_calibration_rides_both_payloads_and_fits_budget():
    """The host-calibration sentinel (round-11 verdict: BENCH_r11
    carried phantom 2-4x regressions from a contended host that only
    a re-run could adjudicate): when a calibration map is passed,
    BENCH_FULL carries the full map + note and the stdout line carries
    the two timing fields — still inside the driver's tail budget at a
    large inventory; without one, neither payload grows the keys."""
    from bench import _CAL_CPU_N, _CAL_SCAN_ROWS

    timings = _fake_timings(400)
    cal = {"cpu_loop_sec": 0.3123, "cpu_loop_n": _CAL_CPU_N,
           "spark_scan_sec": 0.4567, "spark_scan_rows": _CAL_SCAN_ROWS}
    solo = {"g_merge_base": 1.2345}
    full, line = build_payloads(timings, 0.1, solo, cal)
    assert len(line) <= TAIL_BUDGET + 1
    d = json.loads(line)
    assert d["calibration"] == {"cpu_loop_sec": 0.3123,
                                "spark_scan_sec": 0.4567}
    assert full["calibration"] == cal
    assert "normalize" in full["calibration_note"]
    # fixed work units are part of the artifact so a changed unit is
    # visible, not silently incomparable
    assert full["calibration"]["cpu_loop_n"] == _CAL_CPU_N
    assert full["calibration"]["spark_scan_rows"] == _CAL_SCAN_ROWS
    full2, line2 = build_payloads(timings, 0.1)
    assert "calibration" not in full2
    assert "calibration" not in json.loads(line2)


def test_scan_normalized_ratios_ride_the_full_payload():
    """Round-13 (VERDICT r12 #4): with a calibration present, the full
    payload carries per-query time/spark_scan_sec ratios and a
    normalized total, and the stdout line carries the normalized total
    — host-independent deltas readable without re-derivation.  The
    ratios must be exactly time/scan over the SAME query set."""
    timings = _fake_timings(300)
    cal = {"cpu_loop_sec": 0.3, "cpu_loop_n": 1,
           "spark_scan_sec": 0.16, "spark_scan_rows": 1}
    full, line = build_payloads(timings, 0.1, None, cal)
    assert len(line) <= TAIL_BUDGET + 1
    norm = full["queries_scan_normalized"]
    assert set(norm) == set(timings)
    for k, v in timings.items():
        assert norm[k] == round(v / 0.16, 3)
    assert full["value_scan_normalized"] == round(full["value"] / 0.16, 2)
    assert json.loads(line)["value_scan_norm"] == (
        full["value_scan_normalized"]
    )
    assert "spark_scan_sec" in full["scan_normalized_note"]
    # a zero/absent scan sentinel must not divide by zero
    full2, _ = build_payloads(timings, 0.1, None, {"cpu_loop_sec": 0.3})
    assert "queries_scan_normalized" not in full2
    # end-of-pass sentinels ride the full calibration map verbatim
    cal3 = dict(cal, cpu_loop_sec_end=0.31, spark_scan_sec_end=0.11)
    full3, line3 = build_payloads(timings, 0.1, None, cal3)
    assert full3["calibration"]["cpu_loop_sec_end"] == 0.31
    assert full3["calibration"]["spark_scan_sec_end"] == 0.11
    assert len(line3) <= TAIL_BUDGET + 1


def test_annealed_prefix_rides_the_full_payload():
    """ADVICE r13: the annealed-prefix NAMES land in BENCH_FULL so a
    reader comparing raw seconds across rounds can see whether a face
    sat inside the warm-only prefix — and the stdout line stays
    inside the tail budget (the list rides only the full payload)."""
    from bench import WARM_PREFIX

    timings = _fake_timings(200)
    full, line = build_payloads(timings, 0.1)
    assert full["annealed_prefix"] == sorted(timings)[:WARM_PREFIX]
    assert str(min(WARM_PREFIX, 200)) in full["regime"]
    assert len(line) <= TAIL_BUDGET + 1
    assert "annealed_prefix" not in json.loads(line)


def test_solo_outlier_guard_trigger_and_attempt_recording():
    """VERDICT r13 ask #2: the solo self-adjudication.  The trigger
    fires on >3x-in-suite (beyond the half-second floor) or a
    contended subprocess cpu sentinel, and NOT on small-face noise;
    recorded attempts ride BENCH_FULL (both attempts, flag reason on
    the first) while the headline solo map keeps the faster number."""
    from bench import _solo_suspect

    # 3x a tiny face inside the floor: noise, no retry
    assert _solo_suspect(0.3, 0.09, None, None) is None
    # a genuine stall: 11.3 s vs 0.48 in-suite (the r13 precedent)
    reason = _solo_suspect(11.3, 0.48, None, None)
    assert reason and "in-suite" in reason
    # contended subprocess: cpu sentinel 1.6x the suite's
    reason2 = _solo_suspect(1.0, 0.9, 0.48, 0.29)
    assert reason2 and "contended" in reason2
    # quiet subprocess, agreeing regimes: clean
    assert _solo_suspect(1.0, 0.9, 0.30, 0.29) is None

    timings = _fake_timings(50)
    solo = {"g_merge_base": 0.72}
    attempts = {"g_commit_ancestors": [
        {"sec": 11.3, "cpu_loop_sec": 0.51,
         "flagged": "solo 11.30s > 3x in-suite 0.48s"},
        {"sec": 0.49, "cpu_loop_sec": 0.29, "flagged": None},
    ]}
    full, line = build_payloads(timings, 0.1, solo, None, attempts)
    assert full["solo_attempts"] == attempts
    assert "auto-re-run" in full["solo_regime"]
    assert len(line) <= TAIL_BUDGET + 1
    # no attempts -> no key
    full2, _ = build_payloads(timings, 0.1, solo, None, {})
    assert "solo_attempts" not in full2


def test_dist_bench_artifact_shape():
    """VERDICT r13 ask #1: the caps-zeroed arm's artifact is
    shape-locked — per-face seconds, the pinned caps inventory
    (ALL caps, each 0), per-face + top-level (min) calibration,
    scan-normalized ratios, the recording's provenance, and the five
    twin-gated faces in the standing face list."""
    from hfcommunity_spark.operators import placement
    from tools.dist_bench import DIST_FACES, build_dist_payload

    assert set(DIST_FACES) == {
        "g_commit_ancestors", "g_merge_base", "g_pagerank_fixed_iter",
        "x15_stream_maintained_clusters", "x17_stream_maintained_spans",
    }
    caps = dict.fromkeys(placement.CAPS, 0)
    prov = {"git_sha": "abc", "nproc": 4}
    rows = [
        {"name": n, "sec": 1.0 + i,
         "attempts": [1.3 + i, 1.0 + i],
         "calibration": {"cpu_loop_sec": 0.3 + i * 0.01,
                         "cpu_loop_n": 5_000_000,
                         "spark_scan_sec": 0.2 + i * 0.01,
                         "spark_scan_rows": 100_000_000},
         "caps_zeroed": caps, "provenance": prov}
        for i, n in enumerate(DIST_FACES)
    ]
    p = build_dist_payload(rows, 0.1)
    # raw attempt pairs ride along (r14) so spread is visible, and
    # the headline stays the min of each pair
    assert set(p["query_attempts"]) == set(DIST_FACES)
    for n in DIST_FACES:
        assert p["queries"][n] == min(p["query_attempts"][n])
    assert p["metric"] == "twin_gated_faces_distributed_path_runtime"
    assert p["unit"] == "sec" and p["sf"] == 0.1
    assert set(p["queries"]) == set(DIST_FACES)
    assert p["value"] == round(sum(r["sec"] for r in rows), 4)
    # every pinned cap is in the artifact, each at 0
    assert p["caps_zeroed"] == caps and all(
        v == 0 for v in p["caps_zeroed"].values())
    assert p["provenance"] == prov
    # top-level calibration is the min across workers
    assert p["calibration"] == {"cpu_loop_sec": 0.3, "spark_scan_sec": 0.2}
    assert set(p["per_face_calibration"]) == set(DIST_FACES)
    for n in DIST_FACES:
        assert p["queries_scan_normalized"][n] == round(
            p["queries"][n] / 0.2, 3)
    assert p["value_scan_normalized"] == round(p["value"] / 0.2, 2)
    assert "cap pinned to 0" in p["regime"]
    # a committed BENCH_DIST.json must carry this shape too
    import json
    import os

    art = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_DIST.json")
    if os.path.exists(art):
        with open(art) as fh:
            d = json.load(fh)
        assert d["metric"] == p["metric"]
        assert set(d["queries"]) == set(DIST_FACES)
        assert set(d["caps_zeroed"]) == set(placement.CAPS)
        assert all(v == 0 for v in d["caps_zeroed"].values())
        assert d["provenance"]["nproc"]


def test_warm_prefix_env_validation(monkeypatch):
    """r14 review fix: a typo'd SPARK_GRAFT_WARM_PREFIX must not kill
    the bench (dist_bench workers import the module) or record a
    negative-slice regime — malformed falls back to the default 30,
    negatives clamp to 0, 'all' means the whole inventory."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_WARM_PREFIX", "all")
    assert bench._warm_prefix() == 10**9
    monkeypatch.setenv("SPARK_GRAFT_WARM_PREFIX", "bogus")
    assert bench._warm_prefix() == 30
    monkeypatch.setenv("SPARK_GRAFT_WARM_PREFIX", "-3")
    assert bench._warm_prefix() == 0
    monkeypatch.setenv("SPARK_GRAFT_WARM_PREFIX", " 12 ")
    assert bench._warm_prefix() == 12


def test_dist_bench_only_arg_validation():
    """r14 review fix: a bare --only (would run ALL faces and clobber
    the artifact) and unknown face names must refuse loudly instead
    of running zero faces and printing an empty payload."""
    import pytest

    from tools.dist_bench import main

    with pytest.raises(SystemExit, match="requires"):
        main(["dist_bench.py", "--only"])
    with pytest.raises(SystemExit, match="unknown face"):
        main(["dist_bench.py", "--only", "g_typo"])


def test_solo_guard_baselines_on_quieter_sentinel():
    """r14 review fix: the solo contention guard compares against the
    QUIETER of the suite's start/end cpu sentinels — a burst during
    the start calibration must not raise the baseline and mask an
    equally-contended solo."""
    import bench

    # contended solo (0.6) vs quiet baseline (0.28): flagged
    assert bench._solo_suspect(1.0, None, 0.6, 0.28) is not None
    # same solo vs a burst-inflated baseline (0.6): NOT flagged —
    # which is why main() must pass min(start, end), not start
    assert bench._solo_suspect(1.0, None, 0.6, 0.6) is None
    import inspect

    src = inspect.getsource(bench.main)
    assert "min(suite_cpus" in src


def test_dist_contended_face_guard_and_tries_recording():
    """r14: the caps-zeroed arm self-adjudicates like the solos — a
    face whose subprocess sentinel (start OR end reading) departs
    >1.4x from the run's quietest reading re-runs, and every try is
    recorded under face_tries.  The end reading exists because a
    minute-scale steal burst can land entirely inside the timed
    attempts and leave the pre-attempt sentinel clean (the first x15
    recording: 51.7 s against a clean 0.28/0.24 start sentinel)."""
    from hfcommunity_spark.operators import placement
    from tools.dist_bench import (DIST_FACES, _face_suspect,
                                  build_dist_payload)

    quiet = {"cpu_loop_sec": 0.29, "spark_scan_sec": 0.15,
             "cpu_loop_sec_end": 0.30, "spark_scan_sec_end": 0.16}
    # clean vs run-best: no flag
    assert _face_suspect(quiet, 0.28, 0.15) is None
    # contended start cpu: flagged
    assert "cpu_loop_sec 0.5" in _face_suspect(
        dict(quiet, cpu_loop_sec=0.5), 0.28, 0.15)
    # the x15 case — clean start, burst during the attempts shows in
    # the END scan reading only: flagged
    assert "spark_scan_sec_end" in _face_suspect(
        dict(quiet, spark_scan_sec_end=0.31), 0.28, 0.15)
    # no baseline yet (first face): never flagged
    assert _face_suspect(dict(quiet, cpu_loop_sec=9.9), None, None) is None

    caps = dict.fromkeys(placement.CAPS, 0)
    rows = [{"name": n, "sec": 1.0, "attempts": [1.2, 1.0],
             "calibration": quiet, "caps_zeroed": caps}
            for n in DIST_FACES]
    tries = {n: [rows[i]] for i, n in enumerate(DIST_FACES)}
    # one face needed a retry: both tries must land in face_tries,
    # single-try faces must NOT (the common case stays compact)
    flagged = dict(rows[0], sec=51.7,
                   flagged="spark_scan_sec_end 0.62s > 1.4x run-best")
    tries[DIST_FACES[0]] = [flagged, rows[0]]
    p = build_dist_payload(rows, 0.1, tries)
    assert set(p["face_tries"]) == {DIST_FACES[0]}
    recorded = p["face_tries"][DIST_FACES[0]]
    assert [t["sec"] for t in recorded] == [51.7, 1.0]
    assert recorded[0]["flagged"] and recorded[1]["flagged"] is None
    assert "contended-face guard" in p["regime"]
    # and the payload without tries keeps the r14 pre-guard shape
    assert "face_tries" not in build_dist_payload(rows, 0.1)


def test_band_probes_ride_both_payloads_and_fit_budget():
    """VERDICT r14 #1: minute-scale steal bursts inside the ~6-minute
    query pass are invisible to the start/end calibrations (r14 lost
    its headline number to exactly that).  With interleaved band
    probes passed, BENCH_FULL carries the probe list + a per-query
    band-normalized map over the WHOLE inventory, and the stdout line
    carries the per-band sentinel arrays plus normalized values
    ALIGNED with the queries map — still inside the tail budget."""
    from bench import BAND_SIZE

    timings = _fake_timings(181)
    probes = [{"cpu": round(0.3 + 0.01 * i, 4),
               "scan": round(0.1 + 0.02 * (i % 3), 4)}
              for i in range(181 // BAND_SIZE + 2)]
    cal = {"cpu_loop_sec": 0.31, "cpu_loop_n": 1,
           "spark_scan_sec": 0.18, "spark_scan_rows": 1}
    full, line = build_payloads(timings, 0.1, None, cal, None, probes)
    assert len(line) <= TAIL_BUDGET + 1
    d = json.loads(line)
    assert d["bands"]["n"] == BAND_SIZE
    assert d["bands"]["scan"] == [p["scan"] for p in probes]
    assert d["bands"]["cpu"] == [p["cpu"] for p in probes]
    # the full map covers every query; normalization is the mean of
    # the band's two bracketing scan probes
    norm = full["queries_band_norm"]
    assert set(norm) == set(timings)
    names = sorted(timings)
    for idx in (0, BAND_SIZE - 1, BAND_SIZE, len(names) - 1):
        b = min(idx // BAND_SIZE, len(probes) - 2)
        scan = (probes[b]["scan"] + probes[b + 1]["scan"]) / 2
        assert norm[names[idx]] == round(timings[names[idx]] / scan, 3)
    # line values align 1:1 with the (slowest-first) queries map
    vals = d["queries_band_norm_vals"]
    assert len(vals) == len(d["queries"])
    for k, v in zip(d["queries"], vals):
        assert v == norm[k]
    assert d["value_band_norm"] == round(sum(norm.values()), 2)
    # without probes neither payload grows the keys (solo workers)
    full2, line2 = build_payloads(timings, 0.1, None, cal)
    assert "calibration_bands" not in full2
    assert "bands" not in json.loads(line2)
    assert "queries_band_norm_vals" not in json.loads(line2)


def test_band_norm_follows_timed_order_not_alphabetical():
    """Bands follow the order the queries were timed — the insertion
    order of ``timings``, which is when the probes were taken — even
    when that order is not alphabetical: the first BAND_SIZE timed
    queries share the first two probes, whatever their names."""
    from bench import BAND_SIZE, _band_norm

    names = [f"q{i:03d}" for i in range(2 * BAND_SIZE)][::-1]
    timings = {n: 1.0 for n in names}
    probes = [{"cpu": 0.3, "scan": 0.5}, {"cpu": 0.3, "scan": 1.5},
              {"cpu": 0.3, "scan": 4.5}]
    norm = _band_norm(timings, probes)
    assert all(norm[n] == round(1.0 / 1.0, 3) for n in names[:BAND_SIZE])
    assert all(norm[n] == round(1.0 / 3.0, 3) for n in names[BAND_SIZE:])
