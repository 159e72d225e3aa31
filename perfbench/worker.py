"""One workload in one fresh process: set up, one timed pass, untimed
correctness check. `perfbench/run.py` starts it; it writes its result
as JSON to `--out`.

Closed loop, one client: every op runs on this driver thread, one
after another. The timed pass is the first work of a fresh session, as
in a one-shot ETL job: it pays the JVM's class loading and JIT warm-up,
which is most of its time. A warm-up pass plus a warm timed pass cost a
run about twice as long, and the benchmark's run budget does not hold
that. The pass runs traced with `--trace 1` and untraced otherwise.
Each op is fully materialized and the cache is cleared between ops.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from collections import defaultdict

from perfbench import inputs, layers, spans, workloads

# An op still running after this long is cancelled and counts as failed.
OP_TIMEOUT_S = 90


class Runner:
    """Runs ops and keeps the failure accounting: every op execution and
    every check counts as attempted; a raise, a timeout or a mismatch
    counts as failed and is recorded with the op's name. A failed op is
    never replaced by another."""

    def __init__(self, workload, seed: int, tracer, clear_cache=lambda: None,
                 cancel=lambda: None, op_timeout: float = OP_TIMEOUT_S):
        self.workload = workload
        self.seed = seed
        self.tracer = tracer
        self.clear_cache = clear_cache
        self.cancel = cancel
        self.op_timeout = op_timeout
        self.attempted = 0
        self.failures: list[dict] = []
        self.op_s: dict[str, list[float]] = defaultdict(list)

    def run_op(self, op: str, pass_idx: int) -> float | None:
        self.attempted += 1
        timed_out = threading.Event()

        def on_timeout():
            timed_out.set()
            self.cancel()

        timer = threading.Timer(self.op_timeout, on_timeout)
        timer.daemon = True
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op):
                self.workload.run(op, pass_idx, self.tracer)
            return time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - recorded, never swallowed
            error = "timeout" if timed_out.is_set() else f"{type(e).__name__}: {e}"
            self.failures.append({"op": op, "pass": pass_idx, "error": error[:500]})
            return None
        finally:
            timer.cancel()
            self.clear_cache()

    def run_pass(self, pass_idx: int) -> float | None:
        """Wall of one pass (sum of its op walls); None if an op failed."""
        total, ok = 0.0, True
        for op in inputs.op_order(self.workload.ops, self.seed, pass_idx):
            secs = self.run_op(op, pass_idx)
            if secs is None:
                ok = False
            else:
                total += secs
                self.op_s[op].append(secs)
        return total if ok else None

    def check(self) -> None:
        for op, error in self.workload.check():
            self.attempted += 1
            if error is not None:
                self.failures.append({"op": op, "pass": "check", "error": error})


def proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        stats[int(pid)] = stat[stat.rfind(")") + 2:].split()
    return stats


def process_tree(root_pid: int, stats: dict) -> list[int]:
    children = defaultdict(list)
    for pid, fields in stats.items():
        children[int(fields[1])].append(pid)
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by a process tree: user + system time of
    each process and of the children it has reaped (the Python workers
    that exited). Time the hypervisor steals is not charged to it."""
    stats = proc_stats()
    ticks = sum(
        sum(int(x) for x in stats[pid][11:15])
        for pid in process_tree(root_pid, stats) if pid in stats
    )
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Peak RSS over a window, summed over a process tree (the driver
    JVM and the Python workers it forks). Each process's kernel
    high-water mark (VmHWM) is reset on entry and read on exit, so the
    figure has no sampling noise."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_bytes = 0

    def _tree(self) -> list[int]:
        return process_tree(self.root_pid, proc_stats())

    def __enter__(self):
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                continue
        return self

    def __exit__(self, *exc):
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                continue
        self.peak_bytes = total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stamp(spark, seed: int, load_start, ticks_timed: tuple) -> dict:
    """The run's context. `cpu_steal_frac` is the share of CPU time the
    hypervisor took from this machine during the timed pass: a virtual
    host's noise that no benchmark setting removes."""
    (steal0, total0), (steal1, total1) = ticks_timed
    return {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "app_id": spark.sparkContext.applicationId,
        "seed": seed,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }


def setup_only(args) -> int:
    """One more set-up, as the full run does it: this process's start,
    its imports and `get_spark`. run.py reports the median set-up over
    the full run and these."""
    from tlmc_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    setup = {"setup_s": tree_cpu_s(os.getpid()), "setup_wall_s": time.time() - args.t0}
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(setup, fh)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch s of process start")
    ap.add_argument("--setup-only", action="store_true",
                    help="start the session, stop it and write only the set-up times")
    args = ap.parse_args(argv)
    load_start = os.getloadavg()
    if args.setup_only:
        return setup_only(args)

    workload = workloads.make(args.workload)
    workload.seed = args.seed
    # Input generation and preparation are the benchmark's own work:
    # their wall and CPU time are left out of set-up.
    t_gen, cpu_gen = time.time(), tree_cpu_s(os.getpid())
    workload.generate(args.work)
    excluded = time.time() - t_gen
    excluded_cpu = tree_cpu_s(os.getpid()) - cpu_gen

    from tlmc_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - args.t0 - excluded
    t_prep, cpu_prep = time.time(), tree_cpu_s(os.getpid())
    workload.prepare(spark)
    excluded += time.time() - t_prep
    excluded_cpu += tree_cpu_s(os.getpid()) - cpu_prep

    tracer = spans.Tracer(set_group=spans.job_group_setter(spark.sparkContext))
    runner = Runner(
        workload, args.seed, tracer,
        clear_cache=spark.catalog.clearCache,
        cancel=spark.sparkContext.cancelAllJobs,
    )
    setup_wall_s = time.time() - args.t0 - excluded
    setup_s = tree_cpu_s(os.getpid()) - excluded_cpu

    # One pass, whatever `--seconds` says: a second pass would run warm
    # and measure something else. At BENCHMARK.json's run_seconds the
    # pass always lasts longer.
    uninstall = spans.install(tracer) if args.trace else (lambda: None)
    tracer.enabled = bool(args.trace)
    ticks_start = cpu_ticks()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with PeakRss(jvm_pid) as rss:
        cpu0 = tree_cpu_s(os.getpid())
        wall = runner.run_pass(0)
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
    tracer.enabled = False
    uninstall()
    ticks_timed = (ticks_start, cpu_ticks())
    t_check = time.time()
    runner.check()
    check_s = time.time() - t_check

    op_s = {op: v[0] for op, v in runner.op_s.items()}
    result = {
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "phase_s": {"setup": setup_wall_s, "excluded": excluded, "pass": wall, "check": check_s},
        "stamp": stamp(spark, args.seed, load_start, ticks_timed),
        "op_s": op_s,
    }
    app_id = spark.sparkContext.applicationId
    spark.stop()

    if wall is None:
        result["metrics"] = {}
    elif not args.trace:
        result["metrics"] = {
            "cpu_s": cpu_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        result["printed_metrics"] = {
            "setup_wall_s": setup_wall_s,
            "wall_s": wall,
            **{f"{op}_s": op_s[op] for op in workload.e2e_ops},
        }
    else:
        from perfbench import eventlog

        log = eventlog.find_log(os.environ["PERFBENCH_EVENTLOG_DIR"], app_id)

        def resolve(group, submit_ms):
            return spans.parse_group(group) or tracer.path_at(submit_ms)

        groups = eventlog.aggregate(eventlog.read_events(log), resolve)
        stream = workload.stream_stats() if hasattr(workload, "stream_stats") else {}
        result["metrics"] = layers.per_layer(
            tracer, groups, session={"start_s": start_s}, stream=stream, wall_s=wall,
        )
        result["per_op"] = layers.per_op(tracer.self_s, tracer.incl_s, groups)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
