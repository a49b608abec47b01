"""The bench artifact contract — round 2 shipped with NO benchmark
number because bench.py crashed partway (rc=1, stack trace instead of
JSON). This test runs the real harness end-to-end at the smoke scale
and validates everything the driver consumes, so a query that breaks
the bench breaks the suite first."""

import json
import os
import subprocess
import sys


def test_bench_runs_to_completion_and_emits_contract_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=900,
    )
    assert proc.returncode == 0, f"bench crashed:\n{proc.stderr[-2000:]}"

    # the driver takes the LAST stdout line as the artifact and
    # tail-captures only ~2000 chars — the whole line must fit.
    line = proc.stdout.strip().splitlines()[-1]
    assert len(line) <= 1900, f"bench line too long for tail capture: {len(line)}"
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["value"] > 0
    assert out["queries"], "no per-query timings"
    assert all(t >= 0 for t in out["queries"].values())
    from tfl_bikes_data_pipeline_spark import registry

    # stdout carries the driver-pinned subset; value/n cover the full set
    assert set(out["queries"]) <= set(registry.BENCH_QUERIES)
    assert set(out["queries"]) <= registry.DRIVER_PINNED
    assert out["n"] == len(registry.BENCH_QUERIES)
    assert sum(out["queries"].values()) <= out["value"] + 0.01

    # the complete per-query map lands in the detail artifact; non-sf0.1
    # runs write a side file so this smoke run can never clobber the
    # committed sf0.1 BENCH_DETAIL.md (VERDICT r6 item 2)
    assert out["detail"] == "BENCH_DETAIL_smoke.md"
    detail = os.path.join(root, out["detail"])
    assert os.path.exists(detail)
    with open(detail) as fh:
        body = fh.read()
    full = json.loads(body.split("```json\n")[1].split("\n```")[0])
    assert set(full["queries"]) == set(registry.BENCH_QUERIES)
    # cold/steady split (round 6; steady = median-of-N since r14):
    # every query carries the cold run, the median steady, and the raw
    # steady reps (rep 1 = the rounds-6-13 single-rep reading); the
    # stdout `value` is the cold total and `steady_total` the warm one,
    # and session-health telemetry makes inflation diagnosable from the
    # artifact alone.
    n_reps = full["steady_reps_per_query"]
    assert n_reps >= 3 and n_reps % 2 == 1, "median needs an odd count >= 3"
    for q, t in full["queries"].items():
        assert set(t) == {"cold", "steady", "steady_reps", "codegen_compiles"}, (
            f"{q} missing cold/steady/steady_reps/codegen_compiles split"
        )
        # Janino compiles: the cold run's, and the sum over the steady reps
        assert set(t["codegen_compiles"]) == {"cold", "steady"}, q
        assert all(
            isinstance(c, int) and c >= 0 for c in t["codegen_compiles"].values()
        ), q
        assert t["cold"] >= 0 and t["steady"] >= 0
        assert len(t["steady_reps"]) == n_reps
        assert all(r >= 0 for r in t["steady_reps"])
        # the reported steady IS the median of the raw reps
        assert t["steady"] == sorted(t["steady_reps"])[n_reps // 2], q
    assert abs(out["value"] - sum(t["cold"] for t in full["queries"].values())) < 0.01
    assert (
        abs(out["steady_total"] - sum(t["steady"] for t in full["queries"].values()))
        < 0.01
    )
    health = full["session_health"]
    assert health["calib_before_sec"] > 0 and health["calib_after_sec"] > 0
    assert len(out["calib"]) == 2
    # normalized headline (r10 verdict task 5; reference re-pinned to
    # r11 per r11 task 3): present in both artifacts, null outside
    # sf0.1 (the references are sf0.1 measurements). The r10 splice
    # chain retired in r13 on schedule.
    assert "steady_total_normalized_sec" in full
    assert "norm_ref" in full and full["norm_ref"]["round"] == 11
    assert "norm_ref_chain" not in full and "steady_total_normalized_r10_sec" not in full
    assert "steady_norm" in out and "scan_ratio_r11" in out
    assert "steady_norm_r10" not in out
    assert full["steady_total_normalized_sec"] is None  # smoke runs sf0.001
    assert out["steady_norm"] is None
    # per-segment stationarity telemetry (verdict r12 task 1): the scan
    # probe interleaves every probe_every queries; probe list has one
    # reading per segment boundary (endpoints included), segments
    # partition the steady total exactly, and the max/min drift summary
    # rides both artifacts (gate input at >2x).
    import math

    n_queries = len(full["queries"])
    n_segments = math.ceil(n_queries / full["probe_every"])
    probes = health["scan_calib_probes_sec"]
    assert len(probes) == n_segments + 1
    assert probes[0] == health["scan_calib_before_sec"]
    assert probes[-1] == health["scan_calib_after_sec"]
    assert all(p > 0 for p in probes)
    assert len(full["segment_steady_sec"]) == n_segments
    assert len(full["segment_scan_geomean_sec"]) == n_segments
    assert (
        abs(sum(full["segment_steady_sec"]) - out["steady_total"]) < 0.01 * n_segments
    )
    expect_stat = round(max(probes) / min(probes), 3)
    assert health["scan_stationarity_max_over_min"] == expect_stat
    assert out["scan_stationarity"] == expect_stat
    assert full["norm_method"].startswith("per-segment")
    # driver-pinned queries must ALL be benched (verdict r5 #2): the
    # pinned set is exactly the correctness artifact's key set, and
    # every one of those names must appear in the bench set.
    assert registry.DRIVER_PINNED <= set(registry.BENCH_QUERIES), (
        sorted(registry.DRIVER_PINNED - set(registry.BENCH_QUERIES))
    )
