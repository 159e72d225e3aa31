"""The event-log parser, against a small zstd log recorded once by
perfbench/tests/record_eventlog.py."""

from __future__ import annotations

import json
import os

from perfbench import eventlog, spans

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small")
BUILD = ("opA", "plans.build")
ACTION = ("opA", "spark.action")


def groups(resolve=lambda group, _ms: spans.parse_group(group)):
    return eventlog.aggregate(eventlog.read_events(LOG), resolve)


def test_log_is_zstd_and_readable():
    (name,) = os.listdir(LOG)
    assert name.startswith("events_1_") and name.endswith(".zstd")
    kinds = {ev["Event"] for ev in eventlog.read_events(LOG)}
    assert {"SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerApplicationEnd"} <= kinds


def test_jobs_are_keyed_by_span_group_and_others_dropped():
    g = groups()
    assert set(g) == {BUILD, ACTION}
    assert g[BUILD]["jobs"] == 1 and g[ACTION]["jobs"] == 1
    # sum(id) over two partitions: a two-task map stage and a one-task reduce
    assert g[BUILD]["stages"] == 2 and g[BUILD]["tasks"] == 3
    assert g[ACTION]["tasks"] == 2
    assert g[BUILD]["shuffle_write_bytes"] > 0 and g[BUILD]["shuffle_read_bytes"] > 0
    for m in g.values():
        assert m["failed_tasks"] == 0
        assert m["executor_run_ms"] > 0 and m["jvm_cpu_ms"] > 0
        assert m["sched_wait_ms"] >= 0


def test_python_stage_metrics_only_where_python_runs():
    g = groups()
    assert g[ACTION]["python_bytes_sent"] > 0 and g[ACTION]["python_bytes_received"] > 0
    assert g[ACTION]["python_ms"] > 0
    assert g[BUILD]["python_bytes_sent"] == 0 and g[BUILD]["python_ms"] == 0


def test_foreign_group_resolved_by_caller():
    def resolve(group, submit_ms):
        return spans.parse_group(group) or (ACTION if group == "stream-run-id" else None)

    assert groups(resolve)[ACTION]["jobs"] == 2


def test_plain_log_with_partial_last_line(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb:x/spark.action"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 25, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 10_000_000,
                          "Input Metrics": {"Bytes Read": 100, "Records Read": 7}}},
    ]
    path = tmp_path / "events_1_local-1.inprogress"
    path.write_text("\n".join(json.dumps(e) for e in events) + '\n{"Event": "Spark')
    g = eventlog.aggregate(eventlog.read_events(str(path)), lambda grp, _: spans.parse_group(grp))
    m = g[("x", "spark.action")]
    assert (m["jobs"], m["tasks"], m["failed_tasks"]) == (1, 1, 1)
    assert m["sched_wait_ms"] == 15
    assert (m["executor_run_ms"], m["jvm_cpu_ms"]) == (40, 10.0)
    assert (m["scan_bytes"], m["scan_rows"]) == (100, 7)


def test_rolled_files_are_read_in_order(tmp_path):
    for n in (10, 2, 1):
        (tmp_path / f"events_{n}_app").write_text("{}\n")
    assert [os.path.basename(f) for f in eventlog.log_files(str(tmp_path))] == [
        "events_1_app", "events_2_app", "events_10_app"]
