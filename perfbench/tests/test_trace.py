"""Event-log parsing and the span arithmetic of the per-layer split."""

import json
import os

import pytest

from perfbench import trace
from perfbench.trace import Span

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "eventlog_small.jsonl")


def _fixture_lines():
    with open(FIXTURE) as fh:
        return fh.readlines()


def test_parser_reads_jobs_and_tasks_of_captured_log():
    # Captured on Spark 4.1.2, local[2]: one job outside any group, then
    # a two-stage shuffle aggregation under group "span-1".
    jobs, tasks = trace.parse_event_log(_fixture_lines())
    assert sorted(jobs) == [0, 1]
    assert jobs[0]["group"] is None and jobs[1]["group"] == "span-1"
    for j in jobs.values():
        assert j["end"] >= j["start"] > 1.6e9  # epoch seconds
    grouped = [t for t in tasks if t["group"] == "span-1"]
    assert len(tasks) == 6 and len(grouped) == 4
    assert all(not t["failed"] for t in tasks)
    assert all(t["run_s"] >= 0 and t["cpu_s"] >= 0 and t["sched_delay_s"] >= 0 for t in tasks)
    # the map side writes the shuffle the reduce side reads
    assert sum(t["shuffle_bytes"] for t in grouped) > 0


def test_parser_task_metrics_units():
    ev = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 7,
        "Task End Reason": {"Reason": "ExceptionFailure"},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1600, "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Deserialize Time": 50,
            "Result Serialization Time": 10,
            "Executor Run Time": 400,
            "Executor CPU Time": 250_000_000,
            "JVM GC Time": 20,
            "Disk Bytes Spilled": 3_000_000,
            "Input Metrics": {"Bytes Read": 123},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2, "Fetch Wait Time": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
        },
    }
    stage = {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 7},
             "Properties": {"spark.jobGroup.id": "span-3"}}
    _, tasks = trace.parse_event_log([json.dumps(stage), json.dumps(ev)])
    (t,) = tasks
    assert t["group"] == "span-3" and t["failed"]
    assert t["run_s"] == pytest.approx(0.4)
    assert t["cpu_s"] == pytest.approx(0.25)
    assert t["gc_s"] == pytest.approx(0.02)
    assert t["sched_delay_s"] == pytest.approx((600 - 400 - 60) / 1e3)
    assert t["input_bytes"] == 123 and t["shuffle_bytes"] == 7 and t["spill_bytes"] == 3_000_000
    assert t["fetch_wait_s"] == pytest.approx(0.005)


def test_covered_is_union_clipped():
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert trace.covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert trace.covered([(11, 12)], 0, 10) == 0


def _tree():
    # pass [0, 10] -> a [1, 5] (estimate) -> b [2, 3] (collinearity)
    #              -> c [6, 9] (dedup)
    return [
        Span("p", "pass0", "pass", 0.0, 10.0),
        Span("a", "fit", "estimate", 1.0, 5.0, parent="p", table_bytes=100),
        Span("b", "gram", "collinearity", 2.0, 3.0, parent="a", table_bytes=100),
        Span("c", "dedup", "dedup", 6.0, 9.0, parent="p", table_bytes=50),
    ]


def test_self_and_driver_time_on_synthetic_tree():
    jobs = {
        0: {"group": "a", "start": 1.5, "end": 2.5},
        1: {"group": "b", "start": 2.2, "end": 2.8},
        2: {"group": "c", "start": 6.0, "end": 7.0},
        3: {"group": "c", "start": 6.5, "end": 8.0},
        4: {"group": None, "start": 0.0, "end": 10.0},
    }
    t = trace.span_times(_tree(), jobs)
    assert t["p"]["self_s"] == pytest.approx(10 - 4 - 3)
    assert t["a"]["self_s"] == pytest.approx(4 - 1)
    assert t["b"]["self_s"] == pytest.approx(1)
    # a's jobs and its child's jobs cover [1.5, 2.8]
    assert t["a"]["driver_s"] == pytest.approx(4 - 1.3)
    assert t["b"]["driver_s"] == pytest.approx(1 - 0.6)
    assert t["c"]["driver_s"] == pytest.approx(3 - 2)
    assert t["p"]["driver_s"] == pytest.approx(10 - 1.3 - 2)
    assert (t["a"]["jobs"], t["b"]["jobs"], t["c"]["jobs"], t["p"]["jobs"]) == (1, 1, 2, 0)


def test_layer_metrics_per_pass_and_scan_ratio():
    jobs = {0: {"group": "a", "start": 1.5, "end": 2.5}, 1: {"group": "c", "start": 6, "end": 7}}
    task = dict(failed=False, run_s=1.0, cpu_s=0.75, gc_s=0.1, sched_delay_s=0.01,
                shuffle_bytes=2e6, fetch_wait_s=0.02, spill_bytes=1e6, input_bytes=50)
    tasks = [dict(task, group="a"), dict(task, group="a"), dict(task, group="c", failed=True)]
    m = trace.layer_metrics(_tree(), jobs, tasks, n_passes=2, overhead_s=0.3)
    assert set(m) == set(trace.per_layer_names())
    assert m["estimate.wall_s"] == pytest.approx(4 / 2)
    assert m["estimate.self_s"] == pytest.approx(3 / 2)
    assert m["estimate.tasks"] == pytest.approx(1)
    assert m["estimate.offcpu_s"] == pytest.approx(0.5 / 2)
    assert m["estimate.shuffle_mb"] == pytest.approx(2.0)
    assert m["estimate.scan_ratio"] == pytest.approx(100 / 100)
    assert m["dedup.scan_ratio"] == pytest.approx(50 / 50)
    assert m["collinearity.jobs"] == 0 and m["text.wall_s"] == 0
    assert m["engine.tasks_failed"] == 1
    assert m["engine.spill_mb"] == pytest.approx(3 / 2)
    assert m["engine.trace_overhead_s"] == 0.3


def test_tracer_nests_spans_and_labels_jobs():
    class FakeSC:
        def __init__(self):
            self.props = {}

        def setJobGroup(self, gid, desc):
            self.props["spark.jobGroup.id"] = gid

        def setJobDescription(self, desc):
            self.props["spark.job.description"] = desc

        def setLocalProperty(self, k, v):
            self.props[k] = v

    sc = FakeSC()
    tr = trace.Tracer(sc)
    with tr.span("pass0", "pass"):
        with tr.span("fit", "estimate", pass_no=0):
            assert sc.props["spark.job.description"] == "estimate:fit"
            inner = sc.props["spark.jobGroup.id"]
        assert sc.props["spark.jobGroup.id"] == tr.spans[0].sid
    assert sc.props["spark.jobGroup.id"] is None
    assert tr.spans[1].parent == tr.spans[0].sid and tr.spans[1].sid == inner
    assert all(s.end >= s.start for s in tr.spans)


def test_layer_of_public_functions():
    import hdfe_spark
    from hdfe_spark.session import get_spark
    from hdfe_spark.sources.tables import load_table

    assert trace.layer_of(hdfe_spark.estimate) == "estimate"
    assert trace.layer_of(hdfe_spark.Groupby.apply) == "groupby"
    assert trace.layer_of(hdfe_spark.knn_join) == "similarity"
    assert trace.layer_of(load_table) == "sources"
    assert trace.layer_of(get_spark) == "session"
