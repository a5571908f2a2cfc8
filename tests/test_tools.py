"""Smoke test of the kept tools: each loads, the probe harness times on
bench.py's calibration gate (no second copy), and the probe CLI rejects
a missing argument before it starts Spark. Starts no Spark session."""

from __future__ import annotations

import importlib.util
import pathlib
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLS = ROOT / "tools"
KEPT = ["check", "make_bigsf", "dump_plans", "dump_internal_plans",
        "isolated_probe", "graph_scale_probe"]


def _load(name: str):
    spec = importlib.util.spec_from_file_location(f"tools_{name}", TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tools_dir_holds_only_the_kept_tools():
    assert sorted(p.stem for p in TOOLS.glob("*.py")) == sorted(KEPT)


@pytest.mark.parametrize("name", KEPT)
def test_tool_loads(name):
    assert callable(_load(name).main)


def test_probes_use_the_bench_gate():
    import bench

    iso = _load("isolated_probe")
    assert iso._calib1 is bench._calib1
    assert iso._bw_calib1 is bench._bw_calib1
    assert iso._calib_gate is bench._calib_gate
    assert _load("graph_scale_probe").gated_passes.__module__ == "isolated_probe"
    for path in TOOLS.glob("*.py"):
        assert "def _calib1" not in path.read_text(), path


def test_isolated_probe_without_queries_exits_2():
    for argv in ([], ["3"]):
        r = subprocess.run([sys.executable, str(TOOLS / "isolated_probe.py"), *argv],
                           capture_output=True, text=True, timeout=120)
        assert r.returncode == 2, r.stderr
        assert "usage:" in r.stderr
