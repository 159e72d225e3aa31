"""Per-layer metrics of a traced run.

Inputs are the tracer's span times, the event-log totals per span path
(perfbench.eventlog.aggregate keyed by path) and the workload's own
figures. A traced run has one pass, so every figure is that pass's.
Module spans report self time
and the jobs whose innermost span they are; the two phase spans
(`plans.build` around the plan function, `spark.action` around the final
materialization) report self time but count every job of their phase.
"""

from __future__ import annotations

PER_LAYER = [
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_tasks", "count"),
    ("plans.build_share", "ratio"),
    ("sources.scan_bytes", "bytes"),
    ("sources.scan_rows", "count"),
    ("sources.footer_s", "s"),
    ("spark.action_s", "s"),
    ("spark.action_jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.jvm_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.sched_wait_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("operators.python_ms", "ms"),
    ("operators.python_bytes_sent", "bytes"),
    ("operators.python_bytes_received", "bytes"),
    ("operators.python_share", "ratio"),
    ("pipelines.catalog_s", "s"),
    ("pipelines.catalog_jobs", "count"),
    ("pipelines.similarity_s", "s"),
    ("pipelines.similarity_jobs", "count"),
    ("pipelines.lifecycle_pre_s", "s"),
    ("pipelines.lifecycle_pre_jobs", "count"),
    ("pipelines.lifecycle_post_s", "s"),
    ("pipelines.lifecycle_post_jobs", "count"),
    ("tuning.dimension_exec_s", "s"),
    ("tuning.dimension_exec_jobs", "count"),
    ("sinks.write_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"),
    ("sinks.write_amp", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.overhead_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
]

# Times that only one workload can measure (the span or the stream is not
# on the other's path; `sources.table_row_count` is on neither; with the
# fixed 3g heap a similarity pass often runs no GC). They are printed, but
# left out of the JSON result and BENCHMARK.json: there they would read
# exactly 0 on every run of the other workload.
ONE_WORKLOAD = {
    "sources.footer_s",
    "spark.gc_ms",
    "pipelines.similarity_s",
    "pipelines.lifecycle_pre_s",
    "pipelines.lifecycle_post_s",
    "tuning.dimension_exec_s",
    "streaming.batch_ms",
    "streaming.add_batch_ms",
    "streaming.overhead_s",
}
RESULT = [(name, unit) for name, unit in PER_LAYER if name not in ONE_WORKLOAD]

# the module spans' layers (perfbench.spans.SPANS); each is a metric prefix
MODULE_LAYERS = (
    "sources.footer",
    "pipelines.catalog",
    "pipelines.similarity",
    "pipelines.lifecycle_pre",
    "pipelines.lifecycle_post",
    "tuning.dimension_exec",
    "sinks.write",
)
BUILD, ACTION = "plans.build", "spark.action"


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_op(self_s: dict, incl_s: dict, groups: dict) -> dict:
    """{op: {build_s, build_jobs, action_s, action_jobs, python_ms, run_ms}}
    with inclusive phase times."""
    ops: dict = {}
    for path, secs in incl_s.items():
        if len(path) == 2 and path[1] in (BUILD, ACTION):
            rec = ops.setdefault(path[0], dict.fromkeys(
                ("build_s", "build_jobs", "action_s", "action_jobs", "python_ms", "run_ms"), 0.0))
            rec["build_s" if path[1] == BUILD else "action_s"] += secs
    for path, m in groups.items():
        rec = ops.get(path[0])
        if rec is None:
            continue
        if len(path) > 1 and path[1] in (BUILD, ACTION):
            rec["build_jobs" if path[1] == BUILD else "action_jobs"] += m["jobs"]
        rec["python_ms"] += m["python_ms"]
        rec["run_ms"] += m["executor_run_ms"]
    return ops


def per_layer(tracer, groups: dict, session: dict, stream: dict, wall_s: float) -> dict:
    """The PER_LAYER metrics of one traced pass of `wall_s` seconds."""
    self_s, incl_s = tracer.self_s, tracer.incl_s

    def self_of(layer):
        return sum(v for p, v in self_s.items() if p[-1] == layer)

    def jobs_of(layer):
        return sum(m["jobs"] for p, m in groups.items() if p[-1] == layer)

    def phase(layer, key):
        return sum(m[key] for p, m in groups.items() if len(p) > 1 and p[1] == layer)

    def total(key):
        return sum(m[key] for m in groups.values())

    def incl_phase(layer):
        return sum(v for p, v in incl_s.items() if len(p) == 2 and p[1] == layer)

    out = {
        "session.start_s": session["start_s"],
        "plans.build_s": self_of(BUILD),
        "plans.build_jobs": phase(BUILD, "jobs"),
        "plans.build_tasks": phase(BUILD, "tasks"),
        "plans.build_share": _ratio(incl_phase(BUILD), incl_phase(BUILD) + incl_phase(ACTION)),
        "sources.scan_bytes": total("scan_bytes"),
        "sources.scan_rows": total("scan_rows"),
        "spark.action_s": self_of(ACTION),
        "spark.action_jobs": phase(ACTION, "jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_ms": total("executor_run_ms"),
        "spark.jvm_cpu_ms": total("jvm_cpu_ms"),
        "spark.gc_ms": total("gc_ms"),
        "spark.sched_wait_ms": total("sched_wait_ms"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.failed_tasks": total("failed_tasks"),
        "operators.python_ms": total("python_ms"),
        "operators.python_bytes_sent": total("python_bytes_sent"),
        "operators.python_bytes_received": total("python_bytes_received"),
        "operators.python_share": _ratio(total("python_ms"), total("executor_run_ms")),
    }
    for layer in MODULE_LAYERS:
        out[f"{layer}_s"] = self_of(layer)
        if layer not in ("sources.footer", "sinks.write"):
            out[f"{layer}_jobs"] = jobs_of(layer)
    sink_bytes = sum(m["output_bytes"] for p, m in groups.items() if "sinks.write" in p)
    out["sinks.bytes_written"] = sink_bytes
    out["sinks.files_written"] = tracer.sink_files
    out["sinks.write_amp"] = _ratio(sink_bytes, tracer.sink_bytes)
    for key in ("batches", "batch_ms", "add_batch_ms", "overhead_s"):
        out[f"streaming.{key}"] = stream.get(key, 0.0)
    out["trace.wall_s"] = wall_s
    out["trace.overhead_s"] = tracer.overhead_s
    drift = {k for k, _ in PER_LAYER} ^ set(out)
    assert not drift, f"PER_LAYER drifted: {sorted(drift)}"
    return {k: out[k] for k, _ in PER_LAYER}
