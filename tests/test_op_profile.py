"""scripts/op_profile.py sweep: one record per op whose end-to-end time
is build + plan + exec, with the Spark jobs of each phase counted."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _porcelain() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def test_sweep_counts_build_jobs_and_writes_nothing(sf_dir):
    before = _porcelain()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "op_profile.py"),
            "sweep",
            sf_dir,
            "1",
            "--only=op17_agg_groupby,op220_triangle_count",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout)

    header = out["header"]
    for key in ("job_floor_ms_start", "job_floor_ms_end", "loadavg_start", "loadavg_end"):
        assert key in header, key
    assert header["job_floor_ms_start"] > 0

    ops = out["ops"]
    assert sorted(ops) == ["op17_agg_groupby", "op220_triangle_count"]
    for name, rec in ops.items():
        assert "err" not in rec, (name, rec)
        phases = rec["build_s"] + rec["plan_s"] + rec["exec_s"]
        assert abs(rec["e2e_s"] - phases) < 1e-3, (name, rec)
        assert rec["e2e_s"] <= rec["e2e_median_s"]
        assert rec["exec"]["result_rows"] > 0
    # op220's size guard counts supplier while the plan is built
    assert ops["op220_triangle_count"]["build"]["jobs"] >= 1
    assert ops["op17_agg_groupby"]["build"]["jobs"] == 0
    assert ops["op17_agg_groupby"]["exec"]["jobs"] >= 1
    assert out["totals"]["timed"] == 2

    assert _porcelain() == before
