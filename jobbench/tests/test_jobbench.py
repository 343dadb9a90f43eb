"""Tests of the benchmark itself (not the package):

    python3 -m pytest jobbench/tests -q

The smoke runs start Spark once per workload at JOBBENCH_SCALE=0.1 and
take about a minute each.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import eventlog  # noqa: E402
import gate  # noqa: E402
import metrics as M  # noqa: E402
import spans  # noqa: E402


def _spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == M.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == M.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(M.WORKLOADS)
    assert "setup_s" in M.END_TO_END
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_result_line_requires_every_metric():
    values = {n: 1.0 for n in M.END_TO_END}
    out = M.result("end_to_end", values, correct=True, attempted=2, failed=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["job_cpu_s"] == {"value": 1.0, "unit": "s"}
    del values["job_cpu_s"]
    with pytest.raises(KeyError):
        M.result("end_to_end", values, correct=True, attempted=2, failed=0)


def test_eventlog_reader_on_canned_log():
    events = eventlog.read_events(HERE / "data" / "eventlog_canned.jsonl")
    m = eventlog.engine_metrics(events, "jobbench-job")
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 3          # stage 3 was skipped
    assert m["spark.tasks"] == 7
    assert m["spark.failed_tasks"] == 1
    # longest stage is stage 2: task walls 100, 200, 800, 50 ms
    assert m["spark.task_skew"] == pytest.approx(800 / 150)
    assert m["spark.cpu_frac"] == pytest.approx(760 / 1420)
    assert m["spark.gc_s"] == pytest.approx(0.1)
    assert m["spark.scheduler_delay_s"] == pytest.approx(0.015)
    assert m["spark.shuffle_bytes"] == 500
    assert m["spark.spill_bytes"] == 4096


def test_eventlog_reader_ignores_other_groups():
    events = eventlog.read_events(HERE / "data" / "eventlog_canned.jsonl")
    m = eventlog.engine_metrics(events, "jobbench-warm")
    assert (m["spark.jobs"], m["spark.tasks"], m["spark.gc_s"]) == (1, 1, 0.5)


def test_table_hash_is_order_and_column_order_insensitive():
    a = gate.table_hash([(1, 0.1 + 0.2, "x"), (2, -0.0, "y")],
                        ["id", "v", "s"])
    b = gate.table_hash([("y", 2, 0.0), ("x", 1, 0.3)], ["s", "id", "v"])
    assert a == b
    assert a != gate.table_hash([(1, 0.3, "x")], ["id", "v", "s"])


def test_spans_nest_and_a_disabled_tracer_records_nothing():
    tr = spans.Tracer(True)
    with tr.span("job") as job:
        with tr.span("child"):
            pass
    assert tr.spans[1].parent == job.id
    assert tr.total("child") <= tr.total("job")
    off = spans.Tracer(False)
    with off.span("job"):
        pass
    assert off.spans == []


@pytest.mark.slow
@pytest.mark.parametrize("workload", M.WORKLOADS)
def test_smoke_run(workload):
    env = dict(os.environ, JOBBENCH_SCALE="0.1")
    proc = subprocess.run(
        [sys.executable, "jobbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] is True and res["failed"] == 0, proc.stderr[-3000:]
    assert set(res["metrics"]) == set(M.PER_LAYER)
    units = set(M.END_TO_END.values()) | set(M.INFO.values())
    for line in proc.stdout.splitlines()[:-1]:
        assert line.split()[-1] in units


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    without a result line."""
    import shutil
    shutil.copytree(BENCH, tmp_path / "jobbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "jobbench/run.py", "--workload", M.WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
