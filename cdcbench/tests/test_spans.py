"""Self-time arithmetic and job-group attribution from the event log."""

import json

import pytest

from spans import Span, Tracer, covered, layer_table, parse_event_log, self_time, span_costs


def mk(sid, name, parent, start, end, phase="timed"):
    s = Span(sid, name, parent, start, phase, None)
    s.end = end
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_not_grandchildren():
    root = mk("a", "stream.process_batch", None, 0.0, 10.0)
    child = mk("b", "sink.merge_parsed", "a", 1.0, 9.0)
    grandchild = mk("c", "sink.fold_minor", "b", 5.0, 8.5)
    sibling = mk("d", "sink.merge_parsed", "a", 8.0, 9.5)  # overlaps child
    spans = [root, child, grandchild, sibling]
    assert self_time(root, spans) == pytest.approx(10 - 8.5)
    assert self_time(child, spans) == pytest.approx(8 - 3.5)
    assert self_time(grandchild, spans) == pytest.approx(3.5)


def _fixture_log():
    """Two job groups: s1 runs job 0 (stage 0, two tasks) and s2 runs
    job 1 (stage 1, one task with shuffle and spill); a stage submitted
    outside any group carries no property."""
    task = lambda stage, cpu_ns, **m: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 100,
                         "JVM GC Time": 10, **m},
        "Task Executor Metrics": {"JVMHeapMemory": 64 << 20}}
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "s1"}},
        task(0, 2_000_000_000, **{"Input Metrics": {"Bytes Read": 1 << 20}}),
        task(0, 1_000_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "s2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "s2"}},
        task(1, 500_000_000,
             **{"Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2 << 20},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                "Memory Bytes Spilled": 3 << 20, "Output Metrics": {"Bytes Written": 5 << 20}}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {}},
        task(2, 7_000_000_000),
        {"Event": "SparkListenerStageExecutorMetrics",
         "Executor Metrics": {"JVMHeapMemory": 256 << 20}},
    ]
    return [json.dumps(e) for e in ev]


def test_event_log_charges_tasks_to_their_job_group():
    groups, jvm = parse_event_log(_fixture_log())
    assert groups["s1"]["cpu_s"] == pytest.approx(3.0)
    assert groups["s1"]["tasks"] == 2
    assert groups["s1"]["input_mb"] == pytest.approx(1.0)
    assert groups["s1"]["jobs"] == 1
    assert groups["s1"]["job_intervals"] == [(1.0, 3.0)]
    assert groups["s2"]["cpu_s"] == pytest.approx(0.5)
    assert groups["s2"]["shuffle_read_mb"] == pytest.approx(2.0)
    assert groups["s2"]["shuffle_write_mb"] == pytest.approx(1.0)
    assert groups["s2"]["spill_mb"] == pytest.approx(3.0)
    assert groups["s2"]["output_mb"] == pytest.approx(5.0)
    assert groups[None]["cpu_s"] == pytest.approx(7.0)
    assert jvm["gc_s"] == pytest.approx(0.04)
    assert jvm["peak_heap_mb"] == pytest.approx(256.0)


def test_span_costs_split_self_cost_and_driver_time():
    groups, _ = parse_event_log(_fixture_log())
    outer = mk("s1", "sync", None, 0.5, 5.0)
    inner = mk("s2", "changes", "s1", 3.5, 4.8)
    spans = [outer, inner]
    c = span_costs(outer, spans, groups)
    assert c["cpu_s"] == pytest.approx(3.0)  # the child's job is not its own
    assert c["self_s"] == pytest.approx(4.5 - 1.3)
    # jobs anywhere in the subtree cover [1, 3] and [4, 4.5]
    assert c["driver_s"] == pytest.approx(4.5 - 2.0 - 0.5)
    table = layer_table(spans, groups)
    assert table["changes"]["shuffle_mb"] == pytest.approx(3.0)
    assert table["changes"]["calls"] == 1


def test_layer_table_prefers_timed_calls():
    groups, _ = parse_event_log([])
    spans = [mk("a", "sink.read", None, 0, 9, phase="setup"),
             mk("b", "sink.read", None, 10, 12), mk("c", "sink.read", None, 13, 17),
             mk("d", "sink.fold_major", None, 20, 25, phase="setup")]
    table = layer_table(spans, groups)
    assert table["sink.read"]["wall_s"] == pytest.approx(3.0)
    assert table["sink.read"]["calls"] == 2
    assert table["sink.fold_major"]["wall_s"] == pytest.approx(5.0)


class _FakeSC:
    def __init__(self):
        self.props = {}
        self.history = []

    def setLocalProperty(self, k, v):
        self.props[k] = v
        self.history.append(v)


def test_tracer_sets_and_restores_job_groups():
    sc = _FakeSC()
    t = Tracer(sc, "w")
    with t.span("outer") as a:
        with t.span("inner") as b:
            assert sc.props["spark.jobGroup.id"] == b.id
        assert sc.props["spark.jobGroup.id"] == a.id
    assert sc.props["spark.jobGroup.id"] is None
    assert b.parent == a.id and a.parent is None
    assert Tracer().span("x").__enter__() is None  # untraced: nothing recorded
