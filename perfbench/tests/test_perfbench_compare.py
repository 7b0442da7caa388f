"""The comparison tool reads captured run output and applies the verdict."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402


def _run(workload: str, wall: float, jobs: int) -> str:
    detail = {"workload": workload, "seed": 1, "metrics": {"jobs": {"value": jobs, "unit": "count"}},
              "failures": [], "check_errors": []}
    final = {"correct": True, "attempted": 1, "failed": 0,
             "metrics": {"wall_s": {"value": wall, "unit": "s"}}}
    return f"noise line\nDETAIL {json.dumps(detail)}\n{json.dumps(final)}\n"


def _write(tmp_path, name: str, walls: list[float]) -> str:
    path = tmp_path / name
    path.write_text("".join(_run("refine", w, 50) for w in walls))
    return str(path)


def test_diff_reports_better_for_a_clear_win(tmp_path):
    parent = _write(tmp_path, "p.out", [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.2])
    change = _write(tmp_path, "c.out", [8.0, 8.1, 7.9, 8.2, 8.0, 7.8, 8.1, 8.0, 7.9, 8.2])
    lines = compare.diff(compare.load_runs([parent]), compare.load_runs([change]),
                         {"wall_s": ("lower", 0.1)})
    assert lines[0].startswith("== refine: 10 pairs")
    wall = next(line for line in lines if line.startswith("wall_s"))
    assert "better (10/10 wins)" in wall and "REGRESSION" not in wall
    jobs = next(line for line in lines if line.startswith("jobs"))
    assert jobs.endswith("exact")


def test_diff_flags_a_regression_beyond_the_bound(tmp_path):
    parent = _write(tmp_path, "p.out", [10.0] * 4)
    change = _write(tmp_path, "c.out", [12.0] * 4)
    lines = compare.diff(compare.load_runs([parent]), compare.load_runs([change]),
                         {"wall_s": ("lower", 0.1)})
    wall = next(line for line in lines if line.startswith("wall_s"))
    assert "unresolved" in wall and "REGRESSION beyond bound 10%" in wall


def test_diff_marks_no_regression_unresolved_when_spread_exceeds_bound(tmp_path):
    parent = _write(tmp_path, "p.out", [8.0, 12.0, 9.0, 11.0])  # IQR/median 30 %
    change = _write(tmp_path, "c.out", [8.5, 12.5, 9.5, 11.5])
    lines = compare.diff(compare.load_runs([parent]), compare.load_runs([change]),
                         {"wall_s": ("lower", 0.1)})
    wall = next(line for line in lines if line.startswith("wall_s"))
    assert "no-regression unresolved" in wall
