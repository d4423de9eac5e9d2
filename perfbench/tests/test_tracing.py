"""Tests for the event-log parser and the per-layer rows built from it.

`data/eventlog-small.json` is a trimmed Spark 4.1 event log of three
labelled operations under workload `demo`: `agg` (a two-stage
aggregation), `python` (a mapInPandas stage then an aggregation) and
`write` (a parquet write to `/data/run/out/results`).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import Tracer, op_rows, parse_event_log, write_ms_by_path  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog-small.json")


@pytest.fixture(scope="module")
def log():
    return parse_event_log(LOG)


def _raw_events():
    with open(LOG) as fh:
        return [json.loads(line) for line in fh]


def test_jobs_carry_description_and_sql_execution(log):
    descs = sorted(j["desc"] for j in log["jobs"].values())
    assert descs == ["demo/agg", "demo/agg", "demo/python", "demo/python", "demo/write"]
    assert {j["sql"] for j in log["jobs"].values()} == {0, 1, 2}


def test_rows_count_only_stages_that_ran(log):
    rows = op_rows(log, "demo", [])
    assert set(rows) == {"agg", "python", "write"}
    # each aggregation job lists a map stage it reuses; only run stages count
    assert (rows["agg"]["jobs"], rows["agg"]["stages"], rows["agg"]["tasks"]) == (2, 2, 5)
    assert rows["write"]["tasks"] == 4
    task_ends = [e for e in _raw_events() if e["Event"] == "SparkListenerTaskEnd"]
    total_run_s = sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends) / 1000.0
    assert sum(r["executor_run_s"] for r in rows.values()) == pytest.approx(total_run_s)


def test_python_stage_time_only_where_a_python_node_ran(log):
    rows = op_rows(log, "demo", [])
    assert rows["agg"]["python_stage_s"] == 0
    assert rows["write"]["python_stage_s"] == 0
    assert 0 < rows["python"]["python_stage_s"] <= rows["python"]["executor_run_s"]


def test_shuffle_bytes_balance(log):
    rows = op_rows(log, "demo", [])
    for op in ("agg", "python"):
        assert rows[op]["shuffle_write_mb"] > 0
        assert rows[op]["shuffle_read_mb"] == pytest.approx(rows[op]["shuffle_write_mb"])
    assert rows["write"]["shuffle_write_mb"] == 0


def test_plan_ms_is_sql_start_to_first_job(log):
    events = _raw_events()
    start = {e["executionId"]: e["time"] for e in events
             if e["Event"].endswith("SparkListenerSQLExecutionStart")}
    first = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            eid = int(e["Properties"]["spark.sql.execution.id"])
            first[eid] = min(first.get(eid, e["Submission Time"]), e["Submission Time"])
    rows = op_rows(log, "demo", [])
    assert rows["agg"]["plan_ms"] == first[0] - start[0]
    assert rows["agg"]["sql_executions"] == 1


def test_writes_are_split_by_output_path(log):
    rows = op_rows(log, "demo", [])
    by_sink = write_ms_by_path(rows, {"results": "/data/run/out/results",
                                      "stats": "/data/run/out/stats"})
    assert by_sink["stats"] == []
    assert len(by_sink["results"]) == 1 and by_sink["results"][0] > 0


def test_spans_give_build_action_and_py4j(log):
    spans = [
        {"op": "agg", "layer": "build", "ms": 30.0, "py4j": 25, "start_ms": 0.0},
        {"op": "agg", "layer": "action", "ms": 70.0, "py4j": 40, "start_ms": 30.0},
    ]
    row = op_rows(log, "demo", spans)["agg"]
    assert row["build_ms"] == 30.0
    assert row["action_ms"] == 70.0
    assert row["py4j_calls"] == 65


def test_spans_may_not_nest():
    tracer = Tracer(True, "demo")
    with tracer.span("agg", "build"):
        with pytest.raises(RuntimeError, match="inside another span"):
            with tracer.span("agg", "action"):
                pass
    # the outer span closed normally and the thread can open the next one
    with tracer.span("agg", "action"):
        pass
    assert [s["layer"] for s in tracer.spans] == ["build", "action"]


def test_other_workloads_are_ignored(log):
    assert op_rows(log, "other", []) == {}
