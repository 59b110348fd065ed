"""The benchmark's own checks: a wrong expected digest must fail requests,
and a checkout without the engine must not produce a result.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The first test starts Spark and takes about half a minute.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]


def test_corrupted_expected_digest_drives_ok_frac_below_one(tmp_path):
    import harness
    import run

    run.pin_settings(str(tmp_path))
    try:
        state = harness.run_workload(
            "uba_dashboard",
            seed=3,
            seconds=6,
            work_dir=str(tmp_path / "run"),
            corrupt_oracle="growth_accounting",
        )
    finally:
        run.stop_jvm()
    ok_frac = harness.end_to_end(state)["ok_frac"][0]
    rows = {r.row for r in state.requests}
    assert "growth_accounting" in rows and len(rows) > 1
    assert 0 < ok_frac < 1
    assert all(r.ok == (r.row != "growth_accounting") for r in state.requests)


def test_tail_latency_does_not_depend_on_the_mix():
    import harness

    def reqs(n_fast, n_slow):
        return [harness.Request("fast", 0.1 + i / 1000, 1, True) for i in range(n_fast)] + [
            harness.Request("slow", 1.0 + i / 1000, 1, True) for i in range(n_slow)
        ]

    # a pooled 75th percentile would move from the fast kind to the slow one
    assert abs(harness.kind_p75_s(reqs(6, 4)) - harness.kind_p75_s(reqs(6, 2))) < 0.002
    assert abs(harness.kind_p75_s(reqs(5, 5)) - (0.103 + 1.003) / 2) < 1e-9


def test_no_result_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "uba_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
