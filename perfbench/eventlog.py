"""Spark event-log reader: per job-group totals of the task metrics.

Spark 4 writes the log as a directory `eventlog_v2_<appId>/` of rolled
`events_<n>_<appId>[.zstd]` files, one JSON event per line; pyarrow
decompresses zstd without an extra dependency. A trailing partial line
(a log still in progress) is skipped.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

import pyarrow as pa

METRICS = (
    "jobs", "stages", "tasks", "failed_tasks",
    "executor_run_ms", "jvm_cpu_ms", "gc_ms", "sched_wait_ms",
    "scan_bytes", "scan_rows", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "output_bytes", "output_rows",
    "python_ms", "python_bytes_sent", "python_bytes_received",
)

# SQL metric names of the Python-evaluating plan nodes (ArrowEvalPython,
# MapInPandas, FlatMapCoGroupsInPandas, ...)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"

_ROLL = re.compile(r"events_(\d+)_")


def log_files(path: str) -> list[str]:
    """The event-log files at `path` (a file, or a v2 log dir) in order."""
    if not os.path.isdir(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]
    files.sort(key=lambda f: int(_ROLL.match(f).group(1)) if _ROLL.match(f) else 0)
    return [os.path.join(path, f) for f in files]


def find_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name:
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_events(path: str):
    for f in log_files(path):
        compression = "zstd" if ".zstd" in os.path.basename(f) else None
        with pa.input_stream(f, compression=compression) as stream:
            text = stream.read().decode("utf-8", errors="replace")
        for line in text.splitlines():
            try:
                yield json.loads(line)
            except ValueError:
                continue


def aggregate(events, resolve) -> dict:
    """Sum task metrics per job group.

    `resolve(job_group, submission_ms)` maps a job to a key (or None to
    drop the job). Returns {key: {metric: value}} over METRICS. A
    stage is "Python" when any of its tasks reports Python-worker SQL
    metrics; its executor run time minus JVM CPU time is python_ms
    (executor CPU time does not include the Python worker)."""
    out: dict = defaultdict(lambda: dict.fromkeys(METRICS, 0))
    stage_key: dict[int, object] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    stage_run: dict = defaultdict(lambda: [0.0, 0.0, False])  # run ms, cpu ms, python

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = resolve(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
            if key is None:
                continue
            out[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                "Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = stage_key.get(info["Stage ID"])
            if key is not None:
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            key = stage_key.get(sid)
            if key is None:
                continue
            m = out[key]
            info = ev.get("Task Info", {})
            m["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            submit = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
            if submit is not None and info.get("Launch Time"):
                m["sched_wait_ms"] += max(0, info["Launch Time"] - submit)
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            cpu_ms = tm.get("Executor CPU Time", 0) / 1e6
            m["executor_run_ms"] += run_ms
            m["jvm_cpu_ms"] += cpu_ms
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics") or {}
            m["scan_bytes"] += inp.get("Bytes Read", 0)
            m["scan_rows"] += inp.get("Records Read", 0)
            outp = tm.get("Output Metrics") or {}
            m["output_bytes"] += outp.get("Bytes Written", 0)
            m["output_rows"] += outp.get("Records Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            run = stage_run[sid]
            run[0] += run_ms
            run[1] += cpu_ms
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_SENT:
                    m["python_bytes_sent"] += int(acc.get("Update") or 0)
                    run[2] = True
                elif name == PY_RECEIVED:
                    m["python_bytes_received"] += int(acc.get("Update") or 0)
                    run[2] = True
                elif name == PY_RUN:
                    run[2] = True

    for sid, (run_ms, cpu_ms, python) in stage_run.items():
        if python:
            out[stage_key[sid]]["python_ms"] += max(0.0, run_ms - cpu_ms)
    return dict(out)
