"""Span self-time arithmetic, job-group tagging and wrapper install."""

from __future__ import annotations

import pytest

from perfbench import spans


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def make_tracer():
    clock = FakeClock()
    groups = []
    state = {"group": "outer-group"}

    def set_group(value):
        prev = state["group"]
        state["group"] = value
        groups.append(value)
        return prev

    tracer = spans.Tracer(set_group=set_group, clock=clock, wall_ms=lambda: clock.t * 1000)
    tracer.enabled = True
    return tracer, clock, groups, state


def test_self_time_subtracts_child_spans():
    tracer, clock, _, _ = make_tracer()
    with tracer.span("op"):
        clock.t += 1.0
        with tracer.span("plans.build"):
            clock.t += 2.0
            with tracer.span("pipelines.catalog"):
                clock.t += 3.0
            clock.t += 0.5
            with tracer.span("pipelines.similarity"):
                clock.t += 4.0
        with tracer.span("spark.action"):
            clock.t += 0.25

    assert tracer.incl_s[("op",)] == pytest.approx(10.75)
    assert tracer.self_s[("op",)] == pytest.approx(1.0)
    assert tracer.incl_s[("op", "plans.build")] == pytest.approx(9.5)
    assert tracer.self_s[("op", "plans.build")] == pytest.approx(2.5)
    assert tracer.self_s[("op", "plans.build", "pipelines.catalog")] == pytest.approx(3.0)
    assert tracer.self_s[("op", "plans.build", "pipelines.similarity")] == pytest.approx(4.0)
    assert tracer.self_s[("op", "spark.action")] == pytest.approx(0.25)
    # self times partition the outermost span's wall
    assert sum(tracer.self_s.values()) == pytest.approx(tracer.incl_s[("op",)])


def test_repeated_spans_accumulate_per_path():
    tracer, clock, _, _ = make_tracer()
    for _ in range(3):
        with tracer.span("op"), tracer.span("sinks.write"):
            clock.t += 2.0
    assert tracer.incl_s[("op", "sinks.write")] == pytest.approx(6.0)
    assert tracer.self_s[("op",)] == pytest.approx(0.0)


def test_job_group_is_innermost_span_and_restored():
    tracer, clock, groups, state = make_tracer()
    with tracer.span("op"):
        with tracer.span("plans.build"):
            assert state["group"] == "pb:op/plans.build"
        assert state["group"] == "pb:op"
    assert state["group"] == "outer-group"
    assert spans.parse_group("pb:op/plans.build/pipelines.catalog") == (
        "op", "plans.build", "pipelines.catalog")
    assert spans.parse_group("some-stream-run-id") is None


def test_overhead_counts_the_tracers_own_time():
    tracer, clock, _, _ = make_tracer()
    set_group = tracer._set_group

    def slow_set_group(value):  # a job-group call into the JVM takes 0.1 s
        clock.t += 0.1
        return set_group(value)

    tracer._set_group = slow_set_group
    with tracer.span("op"):
        clock.t += 1.0
        with tracer.span("spark.action"):
            clock.t += 2.0
    # two spans, each setting its group on entry and restoring it on exit
    assert tracer.overhead_s == pytest.approx(0.4)
    assert tracer.incl_s[("op",)] == pytest.approx(3.3)


def test_disabled_tracer_records_nothing():
    tracer, clock, groups, _ = make_tracer()
    tracer.enabled = False
    with tracer.span("op") as path:
        clock.t += 1.0
    assert path is None
    assert tracer.self_s == {} and groups == []


def test_path_at_picks_innermost_open_span():
    tracer, clock, _, _ = make_tracer()
    with tracer.span("op"):
        clock.t += 1.0
        with tracer.span("spark.action"):
            clock.t += 1.0
        clock.t += 1.0
    assert tracer.path_at(1500) == ("op", "spark.action")
    assert tracer.path_at(2500) == ("op",)
    assert tracer.path_at(9000) is None


def test_install_wraps_name_bound_imports_and_restores():
    from tlmc_etl_spark.pipelines import lifecycle, similarity
    from tlmc_etl_spark import tuning

    orig = similarity.two_stage_similar_tracks
    tracer, clock, _, _ = make_tracer()
    uninstall = spans.install(tracer)
    try:
        assert similarity.two_stage_similar_tracks is not orig
        # lifecycle imported the function by name at import time
        assert lifecycle.two_stage_similar_tracks is similarity.two_stage_similar_tracks
        # context-manager spans keep working as context managers
        with tracer.span("op"), tuning.dimension_exec(None, est_rows=10**9):
            clock.t += 1.0
        assert tracer.self_s[("op", "tuning.dimension_exec")] == pytest.approx(1.0)
    finally:
        uninstall()
    assert similarity.two_stage_similar_tracks is orig
    assert lifecycle.two_stage_similar_tracks is orig
