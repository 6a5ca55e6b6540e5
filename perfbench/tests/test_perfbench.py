"""Unit tests for the benchmark's reducers and input generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats, tracing


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_failed_frac():
    assert stats.failed_frac(10, 0, 0) == 0.0
    assert stats.failed_frac(10, 1, 2) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_times_subtract_covered_child_time():
    spans = [
        _span(0, "harness.pass", 0.0, 10.0),
        _span(1, "harness.op", 1.0, 9.0, parent=0),
        _span(2, "plans.build", 1.0, 4.0, parent=1),
        _span(3, "plans.exec", 3.0, 8.0, parent=1),  # overlaps the build
        _span(4, "sinks.copy", 5.0, 6.0, parent=3),
    ]
    out = stats.self_times(spans)
    # pass 10 - op 8 = 2; op 8 - union(1..8)=7 -> 1
    assert out["harness"] == pytest.approx(3.0)
    # build 3 (no children) + exec 5 - copy 1
    assert out["plans"] == pytest.approx(7.0)
    assert out["sinks"] == pytest.approx(1.0)
    # the overlap of build and exec (1 s) is counted in both
    assert math.isclose(sum(out.values()), 10.0 + 1.0)


def _task(stage, run_ms, launch, finish, **metrics):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": metrics.pop("accs", [])},
        "Task Metrics": {"Executor Run Time": run_ms, **metrics},
    }


def _plan(*names):
    node = {"nodeName": names[-1], "children": []}
    for n in reversed(names[:-1]):
        node = {"nodeName": n, "children": [node]}
    return node


def test_reduce_event_log_keeps_selected_jobs_only():
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 900,
         "Stage IDs": [1], "Properties": {"spark.sql.execution.id": "8"}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "SortMergeJoin")},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 7,
         "sparkPlanInfo": _plan("AdaptiveSparkPlan", "BroadcastHashJoin", "BroadcastHashJoin")},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 8,
         "sparkPlanInfo": _plan("SortMergeJoin")},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        _task(0, 400, 1000, 1500, **{
            "Executor CPU Time": 2e8, "JVM GC Time": 50,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2 * 1024 * 1024},
            "Disk Bytes Spilled": 0,
            "accs": [{"Name": "data sent to Python workers", "Update": "1048576"}],
        }),
        _task(1, 999, 0, 5000),  # belongs to job 1, which is filtered out
    ]
    out = tracing.reduce_event_log(events, lambda e: e["Submission Time"] < 500)
    assert (out["jobs"], out["stages"], out["tasks"]) == (1, 1, 1)
    assert out["executor_run_s"] == pytest.approx(0.4)
    assert out["task_overhead_s"] == pytest.approx(0.1)
    assert out["executor_cpu_s"] == pytest.approx(0.2)
    assert out["gc_s"] == pytest.approx(0.05)
    assert out["shuffle_write_mb"] == pytest.approx(1.0)
    assert out["shuffle_read_mb"] == pytest.approx(2.0)
    assert out["python_io_mb"] == pytest.approx(1.0)
    # the final (adaptive) plan of the kept execution counts, not its
    # initial plan nor the plan of the dropped one
    assert (out["broadcast_joins"], out["shuffled_joins"]) == (2, 0)


def test_tracer_nests_spans():
    tr = tracing.Tracer()
    with tr.span("harness.op", "o1"):
        with tr.span("plans.build", "o1"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.durations("plans.build") == [inner["end"] - inner["start"]]


def test_workbook_roundtrips_through_the_package_reader(tmp_path):
    import datetime as dt

    import numpy as np

    from etl_xlsx_potgres_spark.sources import xlsx_stdlib
    from perfbench import inputs

    rows = inputs.workbook_rows(np.random.default_rng(7), n=300)
    again = inputs.workbook_rows(np.random.default_rng(7), n=300)
    assert rows == again  # same seed, same sheet
    path = str(tmp_path / "w.xlsx")
    inputs.write_workbook(path, inputs.WORKBOOK_HEADERS, rows)
    headers, read = xlsx_stdlib.read_rows(path)
    assert headers == inputs.WORKBOOK_HEADERS
    assert len(read) == 300
    cadastro = inputs.WORKBOOK_HEADERS.index("Data Cadastro cliente")
    assert all(isinstance(r[cadastro], dt.datetime) for r in read)
    assert [r[2] for r in read] == [r[2] for r in rows]  # CPF/CNPJ text survives


def test_inputs_follow_the_fixture_profile():
    import numpy as np
    import pyarrow as pa

    from perfbench import inputs

    # the fixture events table stores ts as TIMESTAMP(NANOS), which
    # routes the package through its nanosecond intake path
    assert inputs.events(np.random.default_rng(1), n=10).schema.field("ts").type == pa.timestamp("ns")
    rows = inputs.workbook_rows(np.random.default_rng(1), n=2_000)
    complemento = inputs.WORKBOOK_HEADERS.index("Complemento")
    nulls = sum(r[complemento] is None for r in rows) / len(rows)
    assert 0.03 < nulls < 0.09  # FIXTURES.md A1: 75 of 1 200
