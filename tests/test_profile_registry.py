"""tools/profile_registry.py: one end-to-end run, and its ``--diff`` rule.

The run is a subprocess: the tool needs its own session with the event
log on, which the shared test session cannot take. Over two queries at
sf0.001 (a relational one, and one with a MapInPandas node) it must
time both, read jobs, tasks and Python-worker time for them from the
event log, and write their plans. ``diff`` is a function of two
reports, so it is checked on fixed ones: against a doctored PREV it
must name the planted entrant and only it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import bench

TOOL = Path(__file__).resolve().parents[1] / "tools" / "profile_registry.py"
# the warm-up tables next to bench.py's default SF
SF_DIR = str(Path(bench.SF_DIR).with_name("sf0.001"))
RELATIONAL = "q01_pricing_summary"
PYTHON = "q102_exif_metadata"


def _tool():
    spec = importlib.util.spec_from_file_location("profile_registry", TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_profile_records_event_log_costs(tmp_path):
    plans = tmp_path / "plans"
    out = tmp_path / "report.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, str(TOOL), "--reps", "1", "--json", str(out), "--explain", str(plans),
         RELATIONAL, PYTHON],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(out.read_text())
    assert json.loads(proc.stdout) == report

    assert report["sf_dir"] == SF_DIR and report["cpus"] == 2 and report["reps"] == 1
    assert report["errors"] == {}
    for name in (RELATIONAL, PYTHON):
        cost = report["profile"][name]
        assert report["queries"][name] == cost["wall_s"] > 0
        assert cost["jobs"] >= 1 and cost["tasks"] >= 1, cost
        assert "Physical Plan" in (plans / f"{name}.txt").read_text()
    assert report["profile"][PYTHON]["python_s"] > 0


def test_diff_names_only_new_outliers():
    # PREV's median is 0.25 s, so the yardstick is 1.0 s: the relational
    # query (planted, 1.5 s) and the Python query (2.1 s) sit above it,
    # but PREV already flagged the Python query. Against the new run's
    # own median (0.9 s) neither would be above 4x.
    prev = {
        "queries": {RELATIONAL: 0.1, PYTHON: 2.0, "q03": 0.2, "q04": 0.3},
        "flagged_over_ratio": {PYTHON: 2.0},
    }
    now = {RELATIONAL: 1.5, PYTHON: 2.1, "q03": 0.25, "q04": 0.3}
    assert _tool().diff(prev, now) == [RELATIONAL]


def test_diff_ignores_same_code_noise_above_the_line():
    # a second sweep of identical code (PREV median 0.505 s, line 2.02 s)
    # moved q37/q38/q90/q100 across 4x the median at 1.22-1.41x their own
    # PREV times: within the noise band, none is named. A 3x regression
    # over the line is.
    noisy = {"q37": (1.90, 2.47), "q38": (1.80, 2.37), "q90": (1.61, 2.27), "q100": (1.81, 2.21)}
    filler = {f"f{i}": 0.505 for i in range(9)}
    prev = {"queries": {**filler, "q01": 0.7, **{q: b for q, (b, _) in noisy.items()}}}
    now = {**filler, "q01": 0.7, **{q: a for q, (_, a) in noisy.items()}}
    tool = _tool()
    assert tool.diff(prev, now) == []
    assert tool.diff(prev, {**now, "q01": 2.1}) == ["q01"]
