"""Per-layer metric assembly and its agreement with BENCHMARK.json."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, layers, spans
from perfbench.run import END_TO_END

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def test_benchmark_json_lists_the_printed_metrics():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.RESULT
    assert layers.ONE_WORKLOAD <= {name for name, _ in layers.PER_LAYER}


def test_per_layer_from_spans_and_groups():
    tracer = spans.Tracer()
    tracer.self_s = {
        ("op", "plans.build"): 2.0,
        ("op", "plans.build", "pipelines.catalog"): 1.0,
        ("op", "spark.action"): 1.0,
    }
    tracer.incl_s = {
        ("op", "plans.build"): 3.0,
        ("op", "plans.build", "pipelines.catalog"): 1.0,
        ("op", "spark.action"): 1.0,
    }
    tracer.sink_bytes, tracer.sink_files = 500, 4
    tracer.overhead_s = 0.2

    def m(**kw):
        return {**dict.fromkeys(eventlog.METRICS, 0), **kw}

    groups = {
        ("op", "plans.build"): m(jobs=4, tasks=8, executor_run_ms=100, python_ms=40),
        ("op", "plans.build", "pipelines.catalog"): m(jobs=2, tasks=2, executor_run_ms=100),
        ("op", "spark.action", "sinks.write"): m(jobs=1, output_bytes=1000),
    }
    out = layers.per_layer(
        tracer, groups, session={"start_s": 5.0}, stream={}, wall_s=4.2,
    )
    assert list(out) == [name for name, _ in layers.PER_LAYER]
    assert out["plans.build_s"] == pytest.approx(2.0)  # self time
    assert out["plans.build_jobs"] == pytest.approx(6.0)  # phase jobs, nested spans included
    assert out["pipelines.catalog_s"] == pytest.approx(1.0)
    assert out["pipelines.catalog_jobs"] == pytest.approx(2.0)
    assert out["spark.action_jobs"] == pytest.approx(1.0)
    assert out["plans.build_share"] == pytest.approx(0.75)
    assert out["operators.python_share"] == pytest.approx(0.2)
    assert out["sinks.bytes_written"] == pytest.approx(1000)
    assert out["sinks.write_amp"] == pytest.approx(2.0)
    assert out["trace.wall_s"] == pytest.approx(4.2)
    assert out["trace.overhead_s"] == pytest.approx(0.2)
