"""Smoke test of the benchmark itself: each workload at toy sizes through
the real entry point, the traced run's per-layer table, the event-log
rollup on a recorded fragment, and the refusal to run without the program.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import report, run, trace  # noqa: E402

FRAGMENT = os.path.join(HERE, "fixtures", "eventlog")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}


def test_printed_metrics_are_the_ones_benchmark_json_lists():
    assert run.END_TO_END == END_TO_END
    assert report.PER_LAYER == PER_LAYER


def test_event_log_rollup_on_recorded_fragment():
    groups = trace.rollup_events(trace.event_log_lines(FRAGMENT))
    a, b = groups["pb0:phase.a"], groups["pb1:phase.b"]
    assert (a.jobs, a.stages, a.tasks) == (2, 2, 5)
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 3)
    assert a.shuffle_write_bytes == a.shuffle_read_bytes == 236
    assert a.run_ms == 1359 and len(a.task_ms) == a.tasks
    assert all(e > s for s, e in a.stage_intervals)
    assert a.summary()["spark.task_max_ms"] >= a.summary()["spark.task_p50_ms"]


def test_self_time_and_driver_time():
    tr = trace.Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    outer.start, outer.end = 0.0, 10.0
    tr.spans[1].start, tr.spans[1].end = 2.0, 5.0
    assert trace.self_times(tr.spans) == {0: 7.0, 1: 3.0}
    assert [s.name for s in tr.named("inner", "outer")] == ["inner"]
    st = trace.GroupStats(stage_intervals=[(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)])
    assert trace.driver_time(outer, st) == pytest.approx(10.0 - 3.0 - 1.0)


def _run(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["tree", "search"])
def test_workload_at_toy_size(workload):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1", "--toy"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    diag = json.loads(lines[-2])["diagnostics"]
    assert diag["probe_start_s"] > 0 and diag["probe_end_s"] > 0
    with open(os.path.join(ROOT, ".perfbench", "results", f"toy-{workload}-s7-trace1.json")) as f:
        record = json.load(f)
    assert set(record["metrics"]) == set(END_TO_END)
    assert all(v > 0 for v in record["metrics"].values())
    assert any(r["span"].startswith("phase.") and r["self_s"] >= 0 for r in record["spans"])
    layers = result["metrics"]
    key = "api.retrieve.spark_jobs" if workload == "tree" else "sources.searchindex.search.plan_s"
    assert layers[key]["value"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(["--workload", "tree", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
