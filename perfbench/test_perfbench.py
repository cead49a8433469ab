"""The benchmark's own tests: BENCHMARK.json against the code, seeded
inputs, event-log folding, and a smoke size of every workload whose
exact-repeat counts must match across two traced runs of one seed.

    python -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark: about three minutes a workload on a
contended 4-CPU host. Run the fast ones alone with ``-k "not smoke"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads  # noqa: E402
from perfbench.tracing import EventLog  # noqa: E402

# counts a later change may claim: they must repeat exactly for one seed
EXACT = (
    [f"{p}.rows" for p in workloads.STAGES.values()]
    + ["cc.jobs", "catalog.jobs", "pipeline.jobs", "pairs.per_name",
       "scored.match_share", "names.per_mention"]
)


def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _tree_bytes(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(base, f), "rb") as fh:
                out[os.path.relpath(os.path.join(base, f), d)] = fh.read()
    return out


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def make(tag, seed):
        d = tmp_path / tag
        inputs.write_contract_tables(str(d), seed, workloads.Headline.FRACTIONS["smoke"])
        return _tree_bytes(str(d))

    b1, b2, b3 = make("x", 7), make("y", 7), make("z", 8)
    assert b1 == b2
    assert b1 != b3


def test_event_log_fold(tmp_path):
    def task(stage, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Failed": False, "Killed": False, "Accumulables": [
                    {"Name": "time to run Python workers", "Update": py_ms}]},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 10,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2e6},
                                 "Output Metrics": {"Bytes Written": 1e6}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "scored"}},
        task(0, 100, 50), task(0, 100, 50), task(0, 400, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # job 1 lists stage 0 again as skipped: its tasks stay on job 0
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1],
         "Submission Time": 3000, "Properties": {}},
        task(1, 50, 0),
    ]
    d = tmp_path / "log"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog(str(d))
    scored = log.fold([j for j in log.jobs_in(0, 10) if j.group == "scored"])
    assert scored["jobs"] == 1 and scored["task_s"] == pytest.approx(0.6)
    assert scored["skew"] == pytest.approx(4.0)
    assert scored["python_s"] == pytest.approx(0.1)
    assert scored["shuffle_mb"] == pytest.approx(6.0)
    rest = [j for j in log.jobs_in(2.5, 10) if j.group is None]
    assert [j.jid for j in rest] == [1]
    assert log.fold(rest)["task_s"] == pytest.approx(0.05)


def _run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_workload(workload):
    res = _run(workload, 3, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    t1, t2 = _run(workload, 3, 1), _run(workload, 3, 1)
    assert set(t1["metrics"]) == set(workloads.LAYER_UNITS)
    for name in EXACT:
        assert t1["metrics"][name] == t2["metrics"][name], name


def test_missing_program_exits_without_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in ("run.py", "__init__.py", "workloads.py", "tracing.py", "inputs.py"):
        with open(os.path.join(ROOT, "perfbench", f)) as src:
            (tmp_path / "perfbench" / f).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_vocab", "--seed", "1",
         "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout == ""
