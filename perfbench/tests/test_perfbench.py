"""Self-tests of the benchmark: every workload at a tiny scale, the
printed metric names and units against BENCHMARK.json, a corrupted
expectation showing up as a failure, the refusal to run without the
engine, and the event-log fold.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.05"]


def _run(args: list[str], prelude: str = "") -> subprocess.CompletedProcess:
    code = (
        "import sys; sys.path.insert(0, '.')\n" + prelude
        + "\nfrom perfbench import run\nsys.exit(run.main(sys.argv[1:]))\n"
    )
    return subprocess.run([sys.executable, "-c", code, *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    result["context"] = json.loads(lines[-2])["perfbench"]
    return result


def _assert_declared(metrics: dict, declared: list[dict]) -> None:
    assert sorted(metrics) == sorted(m["name"] for m in declared)
    for m in declared:
        value = metrics[m["name"]]
        assert value["unit"] == m["unit"], m["name"]
        assert isinstance(value["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["corpus_folds"])
def test_workload_smoke_prints_every_end_to_end_metric(workload):
    result = _result(_run(["--workload", workload, "--trace", "0", *TINY]))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _assert_declared(result["metrics"], SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # the two metrics printed on the context line but not gated
    assert result["context"]["fail_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert result["context"]["stored_bytes_per_row"]["unit"] == "bytes/row"


def test_traced_run_prints_every_per_layer_metric():
    result = _result(_run(["--workload", "latinad_refresh", "--trace", "1", *TINY]))
    assert result["correct"]
    _assert_declared(result["metrics"], SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.fanout_requests"] == 25 and m["sources.fanout_failed"] == 1
    assert 0 < m["sources.fanout_task_s"] <= m["spark.task_s"]
    assert m["plans.latinad.jobs"] > 0 and m["sinks.files_written"] > 0
    assert m["spark.jobs"] >= m["plans.latinad.jobs"]


CORRUPT_LATINAD = """
from perfbench import workloads
_gen = workloads.LatinadRefresh.generate
def generate(self):
    _gen(self)
    self.expected_rows = self.expected_rows[1:]
workloads.LatinadRefresh.generate = generate
"""

CORRUPT_ORACLE = """
from collections import Counter
from perfbench import workloads
_gen = workloads.QueryMix.generate
def generate(self):
    _gen(self)
    self.expected[self.queries[0]] = Counter()
workloads.QueryMix.generate = generate
"""


@pytest.mark.parametrize("workload,prelude", [
    ("latinad_refresh", CORRUPT_LATINAD), ("relational_mix", CORRUPT_ORACLE)])
def test_corrupted_expectation_counts_as_failure(workload, prelude):
    result = _result(_run(["--workload", workload, "--trace", "0", *TINY], prelude))
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload",
                           SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _event(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def _task(stage: int, run_ms: int, out_bytes: int = 0) -> str:
    zero_read = {"Remote Bytes Read": 0, "Local Bytes Read": 10}
    return _event(
        "SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 1, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0, "Shuffle Read Metrics": zero_read,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Output Metrics": {"Bytes Written": out_bytes}}})


def test_event_log_fold_attributes_jobs_to_spans(tmp_path):
    fanout_rdd = [{"RDD ID": 5, "Name": "MapPartitionsRDD",
                   "Scope": json.dumps({"id": "9", "name": "MapInPandas"})}]
    lines = [
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "span-1", "spark.sql.execution.id": "7"}}),
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 0, "RDD Info": fanout_rdd},
            "Properties": {"spark.jobGroup.id": "span-1"}}),
        _task(0, 300), _task(0, 200, out_bytes=64),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 11_000}),
        # a job from a thread that never entered a span
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 11_500,
                                           "Stage IDs": [1, 2], "Properties": {}}),
        # lists the same mapInPandas RDD, read from its cache
        _event("SparkListenerStageSubmitted", **{
            "Stage Info": {"Stage ID": 2, "RDD Info": fanout_rdd}, "Properties": {}}),
        _task(2, 100),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 11_800}),
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               sparkPlanInfo={"nodeName": "Execute", "children": [], "metrics": [
                   {"name": "number of written files", "accumulatorId": 42}]}),
        _event("org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
               executionId=7, accumUpdates=[[42, 3]]),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(lines) + "\n")
    log = trace.fold_event_log(str(path))
    assert log.jobs[0].stages == [0] and log.jobs[1].stages == [2]
    assert log.stages[0].tasks == 2 and log.stages[0].run_ms == 500
    assert log.stages[0].fanout and not log.stages[2].fanout
    assert log.written_files == {"7": 3}

    spans = [trace.Span(0, "bench.op", None, 1, 9.0, 12.0),
             trace.Span(1, "sinks.full_refresh", 0, 1, 9.5, 11.2)]
    m = trace.Fold(spans, log, [(1, 9.0, 12.0)], cores=4).metrics()
    assert m["spark.jobs"] == 2 and m["trace.unattributed_jobs"] == 1
    assert m["spark.task_s"] == pytest.approx(0.6)
    assert m["spark.idle_core_s"] == pytest.approx(4 * 3.0 - 0.6)
    assert m["sinks.write_s"] == pytest.approx(1.7)
    assert m["sinks.write_task_s"] == pytest.approx(0.5)
    assert m["sinks.commit_s"] == pytest.approx(0.2)
    assert m["sinks.files_written"] == 3
