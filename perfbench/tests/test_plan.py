"""Benchmark-local tests: seeded plans, declared mixes, metric lists, spans.

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
The last test runs the benchmark twice end to end (about a minute).
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
from collections import Counter

import pytest

HERE = pathlib.Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import layers  # noqa: E402
import plan  # noqa: E402
from spans import Span, counters_by_group, read_event_logs, self_time, summarize  # noqa: E402


@pytest.mark.parametrize("workload", sorted(plan.SHAPE))
def test_same_seed_same_plan(workload):
    assert plan.build(workload, 7, 20) == plan.build(workload, 7, 20)


@pytest.mark.parametrize("workload", sorted(plan.SHAPE))
def test_other_seed_other_params(workload):
    a = [op.params for ops in plan.build(workload, 7, 20) for op in ops]
    b = [op.params for ops in plan.build(workload, 8, 20) for op in ops]
    assert a != b


def test_work_fixed_by_seconds_not_speed():
    assert len(plan.build("interactive_read", 1, 20)[0]) == 7 * plan.cycles("interactive_read", 20)
    assert plan.cycles("batch_small", 1) == 1


@pytest.mark.parametrize("seed", range(5))
def test_interactive_mix_matches_declared(seed):
    ops = plan.build("interactive_read", seed, 60)[0]
    n = plan.cycles("interactive_read", 60)
    assert Counter(op.type for op in ops) == {t: k * n for t, k in plan.INTERACTIVE_MIX.items()}


@pytest.mark.parametrize("seed", range(5))
def test_serve_mix_is_four_reads_per_write(seed):
    for ops in plan.build("serve_mixed", seed, 60):
        kinds = Counter(op.kind for op in ops)
        assert kinds["read"] == 4 * kinds["write"]
        n = plan.cycles("serve_mixed", 60)
        seeded = Counter(op.type for op in ops if op.kind == "read" and op.type != "ryw")
        assert seeded == {t: k * n for t, k in plan.SERVE_READS.items()}
        # every write is followed by its read-your-writes check
        for i, op in enumerate(ops):
            if op.kind == "write":
                assert ops[i + 1].type == "ryw" and ops[i + 1].params["after"] == op.type


def test_serve_writes_touch_no_seed_key():
    for ops in plan.build("serve_mixed", 3, 60):
        for op in ops:
            if op.kind == "write" or op.type == "ryw":
                keys = op.params.get("keys", [op.params.get("key", op.params.get("custkey"))])
                assert min(keys) >= plan.NEW_CUSTKEY_BASE


def test_batch_passes_repeat_the_same_jobs():
    ops = plan.build("batch_small", 5, 100)[0]
    per = len(plan.ANALYTICS) + len(plan.CORPUS)
    assert len(ops) == per * plan.cycles("batch_small", 100) and len(ops) > per
    assert [o.params for o in ops[:per]] == [o.params for o in ops[per:2 * per]]


def test_benchmark_json_matches_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert len(spec["per_layer"]) <= 128
    assert {w["name"] for w in spec["workloads"]} <= set(plan.SHAPE)
    metrics = json.loads((BENCH / "metrics.json").read_text())
    assert set(metrics["end_to_end"]) == {m["name"] for m in spec["end_to_end"]}
    assert set(metrics["per_layer"]) == set(layers.PER_LAYER)


def test_self_time_subtracts_child_cover():
    parent = Span(1, "p", 0.0, 10.0)
    kids = [Span(2, "a", 1.0, 4.0, parent=1), Span(3, "b", 3.0, 5.0, parent=1),
            Span(4, "c", 8.0, 12.0, parent=1)]
    assert self_time(parent, [parent, *kids]) == pytest.approx(10.0 - 4.0 - 2.0)


def test_event_log_attribution(tmp_path):
    log = tmp_path / "app-1"
    log.mkdir()
    grp = {"spark.jobGroup.id": "pb-5"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": ms, "Shuffle Write Metrics":
                          {"Shuffle Bytes Written": 1024 * 1024}}}
        for ms in (10, 10, 40)
    ]
    (log / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n{cut")
    buckets = counters_by_group(*read_event_logs(tmp_path))
    c = summarize([buckets["pb-5"]])
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 3)
    assert c["executor_run_s"] == pytest.approx(0.06)
    assert c["shuffle_write_mb"] == pytest.approx(3.0)
    assert c["task_skew"] == pytest.approx(4.0)


def _run(seed: int) -> dict:
    """One by-hand interactive_read run; returns its result line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive_read",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONWARNINGS": "ignore"})
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    return last


def test_same_seed_same_fingerprints_end_to_end():
    for last in (_run(3), _run(3)):
        assert last["correct"] and last["failed"] == 0
    files = sorted((ROOT / ".bench_build" / "perfbench" / "results").glob(
        "interactive_read-s3-t0-*.json"), key=lambda p: p.stat().st_mtime)[-2:]
    fps = [[(o["type"], o["fp"]) for o in json.loads(f.read_text())["ops"]] for f in files]
    assert fps[0] == fps[1] and all(fp for _, fp in fps[0])
