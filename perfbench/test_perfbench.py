"""Self-tests of the benchmark (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases start Spark through run.py at the tiny sizes, eight
runs in all (a few minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
START = time.time()


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=200)


_runs: dict[tuple, dict] = {}


def tiny_result(workload: str, trace: int, seed: int = 7) -> dict:
    """Parsed last stdout line of one tiny run (memoized per argument set)."""
    key = (workload, trace, seed)
    if key not in _runs:
        proc = bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                     "--trace", str(trace), "--tiny")
        assert proc.returncode == 0, proc.stderr[-3000:]
        _runs[key] = json.loads(proc.stdout.strip().splitlines()[-1])
    return _runs[key]


def exact_counts(metrics: dict) -> dict:
    names = [n for n in metrics
             if n.endswith((".rows", ".jobs", ".tasks", ".files")) or n == "out_files"]
    return {n: metrics[n]["value"] for n in names}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_stdout_parses_into_every_named_metric(workload, trace):
    res = tiny_result(workload, trace)
    assert set(res) == RESULT_KEYS
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_exact_counts_repeat_at_one_seed(workload, trace):
    first = exact_counts(tiny_result(workload, trace)["metrics"])
    _runs.pop((workload, trace, 7))
    again = exact_counts(tiny_result(workload, trace)["metrics"])
    assert first and first == again


def test_every_layer_metric_is_measured_on_some_workload():
    # spill stays 0 at these sizes; unattributed jobs should stay 0
    zero_ok = ("spill_mb", "trace.unattributed_jobs")
    seen = {n for w in WORKLOADS
            for n, m in tiny_result(w, 1)["metrics"].items() if m["value"]}
    missing = [m["name"] for m in SPEC["per_layer"]
               if m["name"] not in seen and not m["name"].endswith(zero_ok)]
    assert not missing


def test_runs_leave_no_temp_dirs():
    for w in WORKLOADS:
        tiny_result(w, 0)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))
    assert not [d for d in os.listdir("/dev/shm") if d.startswith("omx-")
                and os.path.getmtime(os.path.join("/dev/shm", d)) > START]


def test_benchmark_json_is_well_formed():
    import re

    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8 and 1 <= len(SPEC["per_layer"]) <= 128
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in SPEC["workloads"])
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in SPEC["end_to_end"])} in SPEC["end_to_end"]


def test_seed_changes_the_inputs():
    from ontology_mapper_spark.datagen import ontology_terms_rows, transcripts_rows

    assert ontology_terms_rows(30, 1) != ontology_terms_rows(30, 2)
    assert transcripts_rows(20, 1) != transcripts_rows(20, 2)
    assert transcripts_rows(20, 1) == transcripts_rows(20, 1)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_self_time_subtracts_the_union_of_children():
    from tracing import self_times

    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 6.0},  # overlaps b
        {"id": "d", "parent": "c", "start": 3.0, "end": 5.0},
    ]
    assert self_times(spans) == {"a": 5.0, "b": 3.0, "c": 1.0, "d": 2.0}


def test_event_log_charges_broadcast_jobs_to_their_execution(tmp_path):
    from tracing import job_metrics

    def task(stage, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": 0}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000, "Properties": {
             "spark.jobGroup.id": "broadcast-uuid", "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 2000, "Properties": {
             "spark.jobGroup.id": "pbspan-1-x", "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 99000, "Properties": {}},
        task(0, 0), task(1, 2**20), task(2, 0), task(3, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Accumulables": [
                {"Name": "data sent to Python workers", "Value": 2**20}]}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    got = job_metrics(str(tmp_path), window=(0.0, 10.0))
    assert got == {"pbspan-1-x": {"jobs": 2, "tasks": 3, "shuffle_mb": 1.0,
                                  "spill_mb": 0.0, "py_mb": 1.0}}

