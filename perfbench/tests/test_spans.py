"""Span bookkeeping, job attribution and self times, without a JVM.

    python3 -m pytest perfbench/tests -q
"""

import json

import pytest

from perfbench import spans as S


class FakeSC:
    """The two SparkContext calls the tracer makes, recorded."""

    def __init__(self):
        self.props = {}
        self.log = []

    def setJobGroup(self, gid, desc, interruptOnCancel=False):
        self.props["spark.jobGroup.id"] = gid
        self.log.append(gid)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_job_group_follows_the_innermost_open_span():
    sc = FakeSC()
    tr = S.Tracer(sc)
    with tr.span("benchmark.timed"):
        assert sc.props["spark.jobGroup.id"] == "pb0"
        with tr.span("operators.wand.collect", request=7) as inner:
            assert sc.props["spark.jobGroup.id"] == "pb1"
            with tr.span("operators.segments.open") as deeper:
                assert deeper.request == 7  # inherited from the parent
        assert sc.props["spark.jobGroup.id"] == "pb0"  # restored on exit
    assert sc.props["spark.jobGroup.id"] is None
    assert inner.parent == 0 and deeper.parent == inner.id


def test_disabled_tracer_records_nothing_and_sets_no_group():
    sc = FakeSC()
    tr = S.Tracer(sc, enabled=False)
    with tr.span("x.y"):
        pass
    assert tr.spans == [] and sc.log == []
    f = lambda: 3  # noqa: E731
    assert tr.wrap(f, "x.y") is f


def _spans():
    # root [0, 10]: build [1, 5] (with plan_doc_ids [1, 2]), query [6, 9]
    return [
        S.Span(0, "benchmark.timed", 0.0, 10.0),
        S.Span(1, "plans.build_index.build_index", 1.0, 5.0, parent=0),
        S.Span(2, "sources.transcripts.plan_doc_ids", 1.0, 2.0, parent=1),
        S.Span(3, "operators.wand.collect", 6.0, 9.0, parent=0),
    ]


def test_jobs_land_in_the_right_layer():
    spans = _spans()
    jobs = {
        # grouped by the status tracker
        0: S.Job(0, 1.5, None),
        # grouped through the event log's job properties
        1: S.Job(1, 6.5, "pb3"),
        # submitted from a build lane thread: no group, inside the build span
        2: S.Job(2, 3.0, None),
        # no group, before any span
        3: S.Job(3, -1.0, None),
        # a group the tracer never set (another library's) falls back to time
        4: S.Job(4, 7.0, "someone-else"),
    }
    owner = S.attribute(spans, jobs, group_jobs={2: [0]})
    assert owner == {0: 2, 1: 3, 2: 1, 3: None, 4: 3}
    layer = {j: spans[s].layer if s is not None else None for j, s in owner.items()}
    assert layer[0] == "sources.transcripts"
    assert layer[2] == "plans.build_index"
    assert layer[1] == layer[4] == "operators.wand"


def test_work_of_sums_stages_once_and_reports_the_result_stage():
    jobs = {0: S.Job(0, 6.1, "pb3", [0, 1]), 1: S.Job(1, 6.3, "pb3", [1, 2])}
    stages = {
        0: S.Stage(0, 6.1, 6.2, tasks=2, run_s=0.2, cpu_s=0.1, shuffle_write_b=10),
        1: S.Stage(1, 6.2, 6.4, tasks=4, run_s=0.8, cpu_s=0.4, shuffle_read_b=10),
        2: S.Stage(2, 6.4, 8.0, tasks=4, run_s=6.0, cpu_s=1.0),
    }
    w = S.work_of({3}, {0: 3, 1: 3}, jobs, stages)
    assert (w.jobs, w.stages, w.tasks) == (2, 3, 10)
    assert w.run_s == pytest.approx(7.0)
    assert (w.shuffle_read_b, w.shuffle_write_b) == (10, 10)
    assert w.last_stage_wall == pytest.approx(1.6) and w.last_stage_cpu == 1.0


def test_layer_self_times_sum_to_the_traced_wall():
    spans = _spans()
    st = S.self_times(spans)
    assert st[1] == pytest.approx(3.0)  # 4s build minus its 1s child
    layers = S.layer_self_times(spans, root=0)
    assert layers == pytest.approx(
        {"plans.build_index": 3.0, "sources.transcripts": 1.0, "operators.wand": 3.0}
    )
    # the root's own self time (glue between calls) is the unexplained part
    frac = sum(layers.values()) / spans[0].wall
    assert frac == pytest.approx(0.7)


def test_real_tracer_self_times_account_for_the_wall_within_ten_percent():
    import time

    tr = S.Tracer()
    with tr.span("benchmark.timed") as root:
        for i in range(3):
            with tr.span("client.topk_call", request=i):
                with tr.span("operators.wand.collect"):
                    time.sleep(0.02)
                with tr.span("operators.segments.open"):
                    time.sleep(0.01)
    layers = S.layer_self_times(tr.spans, root.id)
    assert abs(sum(layers.values()) / root.wall - 1.0) < 0.1
    assert layers["operators.wand"] > layers["operators.segments"] > 0


def test_patched_wraps_and_restores():
    class Owner:
        @property
        def blocks(self):
            return "b"

    import types

    mod = types.SimpleNamespace(fn=lambda x: x + 1)
    tr = S.Tracer()
    with tr.span("benchmark.timed"):
        with S.patched(tr, [(Owner, "blocks", "operators.segments.open"), (mod, "fn", "m.fn")]):
            assert Owner().blocks == "b" and mod.fn(1) == 2
        assert Owner().blocks == "b"
    assert [s.name for s in tr.spans] == ["benchmark.timed", "operators.segments.open", "m.fn"]
    assert not hasattr(mod.fn, "__wrapped__")


def test_parse_event_log(tmp_path):
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Output Metrics": {"Bytes Written": 7}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 1600}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in ev[:2]) + "\n")
    (d / "events_2_app").write_text("\n".join(json.dumps(e) for e in ev[2:]) + "\n")
    jobs, stages = S.parse_event_log(S.event_log_lines(str(tmp_path)))
    assert jobs[0].group == "pb1" and jobs[0].submitted == pytest.approx(1.0)
    st = stages[0]
    assert (st.tasks, st.shuffle_read_b, st.shuffle_write_b, st.output_b) == (1, 3, 5, 7)
    assert st.run_s == pytest.approx(0.5) and st.cpu_s == pytest.approx(0.2)
    assert st.wall == pytest.approx(0.6)
