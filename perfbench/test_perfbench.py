"""Self-tests of the benchmark: statistics, attribution, inputs, and a smoke run.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
The smoke runs start Spark and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import LAYERS, ROWS_ONLY, WORKLOADS, layer_of  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- percentiles and the sample-count rule ---------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.percentile([7.0], 0.9) == 7.0


@pytest.mark.parametrize("n", range(20, 301))
def test_tail_quantile_leaves_ten_samples_beyond(n):
    q = stats.tail_quantile(n)
    values = [float(i) for i in range(n)]
    assert stats.beyond(values, q) >= stats.TAIL_SAMPLES
    if q < stats.TAIL_CAP:
        # The next rank up would leave fewer than ten beyond it.
        assert stats.beyond(values, q + 1.0 / n) < stats.TAIL_SAMPLES


def test_tail_quantile_examples():
    assert stats.tail_quantile(100) == 0.9
    assert stats.tail_quantile(1000) == 0.9
    assert stats.tail_quantile(33) == pytest.approx(23 / 33)
    # Too few samples for any tail above the median.
    assert stats.tail_quantile(12) == 0.5


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_workload_has_a_tail_above_the_median(name):
    w = WORKLOADS[name]
    n = w.passes * len(w.keys)
    q = stats.tail_quantile(n)
    assert q > 0.5
    assert stats.beyond([0.0] * n, q) >= stats.TAIL_SAMPLES


# -- span self time ---------------------------------------------------


def test_self_time_subtracts_the_union_of_clipped_children():
    # Children overlap each other and stick out of the span on both sides.
    children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0), (-1.0, 0.5)]
    assert stats.self_time((0.0, 10.0), children) == pytest.approx(10.0 - 3.0 - 2.0 - 0.5)


def test_self_time_without_children_is_the_duration():
    assert stats.self_time((2.0, 5.0), []) == 3.0
    assert stats.self_time((2.0, 5.0), [(6.0, 7.0)]) == 3.0


def test_self_time_never_negative():
    assert stats.self_time((0.0, 1.0), [(0.0, 1.0), (0.0, 1.0)]) == 0.0


# -- failure counting ---------------------------------------------------


def test_failed_frac_counts_raises_and_check_failures():
    assert stats.failed_frac(40, 0, 0) == 0.0
    assert stats.failed_frac(40, 1, 2) == pytest.approx(3 / 40)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


# -- event-log attribution --------------------------------------------


def _line(**ev) -> str:
    return json.dumps(ev)


def _task(stage, run_ms=100, cpu_ns=50_000_000, accum=()):
    return _line(
        Event="SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accum]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 5,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                "Shuffle Read Metrics": {"Fetch Wait Time": 1},
                "Input Metrics": {"Bytes Read": 1000},
            },
        },
    )


def _job(job, group, stages, start_ms, end_ms):
    return [
        _line(Event="SparkListenerJobStart", **{
            "Job ID": job, "Submission Time": start_ms, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}),
        _line(Event="SparkListenerJobEnd", **{"Job ID": job, "Completion Time": end_ms}),
    ]


SQL = "org.apache.spark.sql.execution.ui."


def _event_log():
    plan = {
        "nodeName": "AdaptiveSparkPlan", "metrics": [],
        "children": [{
            "nodeName": "ArrowEvalPython", "children": [],
            "metrics": [{"name": "data sent to Python workers", "accumulatorId": 77}],
        }],
    }
    return (
        _job(0, "pb|1.0|build", [0], 1_000, 1_500)
        + _job(1, "run-abc", [1], 1_600, 1_900)  # a microbatch of 1.0's query
        + _job(2, "pb|1.0|exec", [2], 2_100, 2_800)
        + _job(3, "pb|1.1|exec", [3], 3_100, 3_200)
        + _job(4, None, [4], 3_300, 3_400)  # not ours
        + [
            _line(Event=SQL + "SparkListenerSQLExecutionStart", executionId=5,
                  jobGroupId="pb|1.1|exec", sparkPlanInfo=plan),
            _task(0), _task(1), _task(2), _task(3, accum=[(77, 4096)]), _task(4),
        ]
    )


def test_read_event_log_attributes_jobs_tasks_and_python_bytes():
    inv = tracing.read_event_log(_event_log(), {"run-abc": "1.0"})
    assert set(inv) == {"1.0", "1.1"}
    assert inv["1.0"].jobs == {"build": 2, "exec": 1}
    assert inv["1.0"].tasks == 3
    assert inv["1.0"].py_nodes == 0
    assert inv["1.1"].jobs == {"exec": 1}
    assert inv["1.1"].py_nodes == 1
    assert inv["1.1"].py_bytes == 4096
    assert sorted(inv["1.0"].job_spans["build"]) == [(1.0, 1.5), (1.6, 1.9)]


def test_pass_metrics_per_layer_and_streaming():
    inv = tracing.read_event_log(_event_log(), {"run-abc": "1.0"})
    records = [
        {"id": "1.0", "layer": "streaming", "start": 0.9, "end": 3.0,
         "build": (0.9, 2.0), "plan": (2.0, 2.05), "exec": (2.05, 2.95),
         "persist_bytes": 0},
        {"id": "1.1", "layer": "udfs", "start": 3.0, "end": 3.5,
         "build": (3.0, 3.05), "plan": (3.05, 3.08), "exec": (3.08, 3.5),
         "persist_bytes": 128},
    ]
    progress = {"1.0": [{
        "runId": "run-abc",
        "durationMs": {"triggerExecution": 300, "addBatch": 200, "queryPlanning": 20,
                       "walCommit": 10, "commitOffsets": 5},
        "numInputRows": 600,
        "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 42}],
    }]}
    m = tracing.pass_metrics(records, inv, progress, cores=4)
    wall = 2.1 + 0.5
    assert m["streaming.build_frac"] == pytest.approx(1.1 / wall)
    assert m["phase.build_s"] == pytest.approx(1.1 + 0.05)
    assert m["streaming.build_jobs"] == 2
    assert m["streaming.jobs"] == 3
    # Invocation 1.0 lasts 2.1 s; its jobs cover 0.5 + 0.3 + 0.7 s of it.
    assert m["streaming.no_job_frac"] == pytest.approx((2.1 - 1.5) / wall)
    assert m["streaming.build_self_frac"] == pytest.approx((1.1 - 0.8) / wall)
    assert m["udfs.py_nodes"] == 1 and m["udfs.py_bytes"] == 4096
    assert m["executor.tasks"] == 4
    assert m["executor.busy_frac"] == pytest.approx(0.4 / (4 * wall))
    assert m["tables.persist_bytes"] == 128
    assert m["streaming.batches"] == 1
    assert m["streaming.wal_commit_frac"] == pytest.approx(0.015 / wall)
    assert m["streaming.state_rows"] == 42
    assert m["streaming.input_rows_per_s"] == pytest.approx(2000.0)
    assert m["streaming.outside_batch_frac"] == pytest.approx((1.1 - 0.3) / wall)
    assert set(m) <= set(tracing.per_layer_units())


def test_unattributed_is_the_gap_between_phases():
    rec = {"start": 0.0, "end": 10.0, "build": (0.0, 4.0), "plan": (4.0, 5.0),
           "exec": (5.5, 10.0)}
    assert tracing.unattributed([rec]) == pytest.approx(0.05)


# -- workloads, inputs and BENCHMARK.json ------------------------------


def test_layer_of_module():
    assert layer_of("bigdata_twitter_spark.llm.mmr") == "llm"
    assert layer_of("bigdata_twitter_spark.udfs") == "udfs"


def test_benchmark_json_matches_the_code():
    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == tracing.per_layer_units()
    assert set(ROWS_ONLY) <= {k for w in WORKLOADS.values() for k in w.keys}


def test_datagen_is_a_function_of_the_seed():
    a = datagen.build_tables(5, 0.001)
    b = datagen.build_tables(5, 0.001)
    c = datagen.build_tables(6, 0.001)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(c["lineitem"])
    from bigdata_twitter_spark.tables import TABLE_NAMES

    assert sorted(a) == sorted(TABLE_NAMES)
    assert a["lineitem"].num_rows == 6000
    assert a["embeddings"].schema.field("embedding").type.value_type == pa.float32()


# -- smoke run ----------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace, tmp_path):
    """One timed pass at sf0.001, started from outside the repository."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001", "--passes", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    # The check pass, the warm-up passes, one timed pass and, traced,
    # one traced pass.
    w = WORKLOADS[workload]
    assert result["attempted"] == (2 + w.warmup + trace) * len(w.keys)
    b = _benchmark_json()
    expected = b["per_layer"] if trace else b["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    if trace:
        layers = {layer_of(m) for m in _spec_modules(workload)}
        for layer in layers & set(LAYERS):
            assert result["metrics"][f"{layer}.build_frac"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def _spec_modules(workload: str) -> list[str]:
    from bigdata_twitter_spark.registry import load_all_operators

    specs = load_all_operators()
    return [specs[k].fn.__module__ for k in WORKLOADS[workload].keys]
