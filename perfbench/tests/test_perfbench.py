"""Tests of the benchmark itself: span arithmetic, job-group attribution,
the record schema, and a tiny smoke run of every workload at local[2].

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.trace import EventLog, Span, Tracer, self_times, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_children_once():
    spans = [Span(0, "pass", None, 1, 0.0, 10.0),
             Span(1, "a", 0, 1, 1.0, 4.0),
             Span(2, "b", 0, 1, 3.0, 6.0),      # overlaps a: union 1..6
             Span(3, "a.inner", 1, 1, 2.0, 3.0),
             Span(4, "late", 0, 1, 9.0, 12.0)]  # sticks out of its parent
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    # a tree of properly nested spans: self times add up to the root
    nested = [Span(0, "pass", None, 1, 0.0, 8.0), Span(1, "x", 0, 1, 1.0, 3.0),
              Span(2, "y", 0, 1, 4.0, 7.0), Span(3, "z", 2, 1, 5.0, 6.0)]
    assert sum(self_times(nested).values()) == pytest.approx(8.0)


class _FakeSc:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_tracer_sets_and_restores_job_groups():
    sc = _FakeSc()
    tr = Tracer(sc)
    tr.pass_id = 3
    with tr.span("outer") as o:
        assert sc.group == o.group == "pb:3:0"
        with tr.span("inner") as i:
            assert sc.group == i.group
        assert sc.group == o.group
    assert sc.group is None
    assert [s.parent for s in tr.spans] == [None, 0]


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_event_log_attributes_jobs_and_plan_metrics_to_groups(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "Exchange",
            "simpleString": "Exchange hashpartitioning(tx#1, ty#2, 16)",
            "children": [{"nodeName": "Scan parquet", "simpleString": "",
                          "children": [], "metrics": [
                              {"name": "scan time", "accumulatorId": 7,
                               "metricType": "timing"}]}],
            "metrics": [{"name": "shuffle bytes written", "accumulatorId": 9,
                         "metricType": "size"}]}
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb:1:2",
                                          "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "pb:1:5"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"ID": 7, "Update": "250", "Metadata": "sql"},
             {"ID": 9, "Update": "4096", "Metadata": "sql"},
             {"ID": 3, "Update": 99, "Name": "internal.metrics.executorRunTime"}]},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2e8}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
    ]
    _write_log(tmp_path / "events_1_app", events)
    ev = EventLog(str(tmp_path))
    assert set(ev.jobs_in({"pb:1:2"})) == {0}
    assert set(ev.jobs_in({"pb:1:5"})) == {1}
    nodes = list(ev.nodes_in({"pb:1:2"}))
    assert [n["nodeName"] for n in nodes] == ["Exchange", "Scan parquet"]
    assert list(ev.nodes_in({"pb:1:5"})) == []
    seen = set()
    assert ev.metric(nodes[1], "scan time", seen) == pytest.approx(0.25)
    assert ev.metric(nodes[1], "scan time", seen) == 0  # counted once
    assert ev.stage_tasks[0]["run_ms"] == 300


def _record_ok(record, names):
    assert set(record) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(record["attempted"], int) and record["attempted"] >= 1
    assert isinstance(record["failed"], int)
    assert set(record["metrics"]) == set(names)
    for m in record["metrics"].values():
        assert set(m) == {"value", "unit"}
        assert isinstance(m["value"], float) and math.isfinite(m["value"])


def test_units_cover_the_declared_per_layer_metrics():
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert declared == {k: layers.UNITS[k] for k in declared}


SMOKE_TIMED = (("wide", 2, 0, 1, 0.5), ("one", 1, 0, 1, 0.5),
               ("wide", 2, 0, 0, 0.0))
SMOKE_TRACED = (("wide", 2, 0, 0, 0.0), ("traced", 2, 0, 1, 0.5),
                ("compare", 2, 0, 1, 0.5))


@pytest.fixture(scope="module")
def smoke_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.mark.parametrize("name", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_of_each_workload(name, smoke_root):
    from perfbench.harness import run
    from perfbench.workloads import WORKLOADS
    per_layer = [m["name"] for m in BENCH["per_layer"]]
    record, detail = run(WORKLOADS[name], seed=7, seconds=0.1, trace=True,
                         root=smoke_root, scale=0.005, sessions=SMOKE_TRACED)
    _record_ok(record, per_layer)
    m = record["metrics"]
    assert m["spark.jobs"]["value"] >= 1
    assert 0 < m["trace.top_span_share"]["value"] <= 1.0 + 1e-9
    assert detail["failures"] == [] and record["correct"], detail["failures"]


def test_untraced_record_has_the_end_to_end_metrics(smoke_root):
    from perfbench.harness import run
    from perfbench.workloads import WORKLOADS
    record, detail = run(WORKLOADS["text_raster"], seed=3, seconds=0.1,
                         trace=False, root=smoke_root, scale=0.005,
                         sessions=SMOKE_TIMED)
    _record_ok(record, [m["name"] for m in BENCH["end_to_end"]])
    assert record["correct"], detail["failures"]
    assert len(detail["setups"]) == 3
