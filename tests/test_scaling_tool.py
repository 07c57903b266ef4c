"""The scaling harness's gate rule, and that every measurement script imports
(tier-1 never runs them, so a broken import would otherwise go unseen).
No Spark session is started here."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SCRIPTS = sorted(glob.glob(os.path.join(TOOLS, "*.py"))) + [os.path.join(ROOT, "bench.py")]


def _load(path: str):
    spec = importlib.util.spec_from_file_location(
        "_script_" + os.path.splitext(os.path.basename(path))[0], path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # module-level code only; main() is not run
    return mod


@pytest.fixture
def scaling(monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)  # scripts run with tools/ on sys.path
    return _load(os.path.join(TOOLS, "scaling.py"))


def _level(cpus: int, wall: float, **fingerprint) -> dict:
    return {"cpus": cpus, "wall_sec": wall, "steal": 0.0, **fingerprint}


@pytest.mark.parametrize(
    "efficiency, high_counts, passes",
    [(0.85, {"written": 10}, True), (0.79, {"written": 10}, False), (0.9, {"written": 9}, False)],
)
def test_summary_gate(scaling, efficiency, high_counts, passes):
    low = _level(2, 100.0, counts={"written": 10})
    high = _level(8, 100.0 / (4 * efficiency), counts=high_counts)
    s = scaling.summary(low, high)
    assert s["scaling_efficiency"] == efficiency
    assert s["identical_output"] is (high_counts == low["counts"])
    assert s["pass"] is passes


def test_summary_compares_pipeline_fingerprint(scaling):
    low = _level(2, 40.0, lines=7, templates=3, n_sinks=3)
    assert scaling.summary(low, _level(8, 10.0, lines=7, templates=3, n_sinks=3))["pass"]
    assert not scaling.summary(low, _level(8, 10.0, lines=7, templates=3, n_sinks=4))["pass"]


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports(path, monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)
    monkeypatch.setattr(sys, "argv", [path])
    _load(path)
