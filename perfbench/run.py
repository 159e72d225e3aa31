"""Benchmark command: run one workload (or all) of tlmc_etl_spark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. Each workload runs in a fresh
worker process (perfbench/worker.py), followed by SETUPS - 1 worker
processes that only set up, with the Spark session sized to
the host from the environment: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY
and SPARK_LOCAL_DIRS, plus the event log through the launcher's
`--conf` when tracing. Everything the run writes lives under
`.bench_build/perfbench/` in the tree and is removed at exit, as is the
session's own `.scratch/<appId>/`.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). The exit code is non-zero when any op raises, times
out or fails its oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT  # import perfbench as a package, not its files as modules

from perfbench.layers import PER_LAYER, RESULT  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = [("cpu_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB")]
# Printed, but left out of the JSON result: wall times spread 30-46% run
# to run on a host whose hypervisor took 0-30% of its CPU (see README),
# and delta_10k_s is incremental_delta's alone.
PRINTED_E2E = {"setup_wall_s": "s", "wall_s": "s", "delta_10k_s": "s"}
# Workers still running this long after the run started are killed, and
# the run fails.
WORKER_TIMEOUT_S = 160
# Set-ups per run: the full run's own plus SETUPS - 1 set-up-only workers.
SETUPS = 2
MAX_CPUS = 4


def host_env(work: str, trace: bool) -> tuple[dict, dict]:
    """Child environment sized to this host, and the host stamp."""
    cpus = min(os.cpu_count() or 1, MAX_CPUS)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(3, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed-size heap (-Xms = -Xmx), touched in full at JVM start: the
    # pages a cold pass touches depend on when the GC runs, and that
    # alone spread the JVM's peak RSS by 10-20% run to run.
    # -UsePerfData: no hsperfdata file in the system temp dir.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Xms{driver_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData"
    )
    submit = [f"--driver-java-options '{java_opts}'"]
    env = dict(os.environ)
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=true",
            "--conf spark.eventLog.compression.codec=zstd",
        ]
        env["PERFBENCH_EVENTLOG_DIR"] = log_dir
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_SUBMIT_ARGS=" ".join([*submit, "pyspark-shell"]),
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    stamp = {
        "nproc": os.cpu_count(),
        "cpus": cpus,
        "mem_total_gb": round(mem_gb, 1),
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "commit": source_commit(),
    }
    return env, stamp


def source_commit() -> str:
    """The git commit when the tree is a git checkout, else a hash of
    the package sources."""
    try:
        if not os.path.exists(os.path.join(ROOT, ".git")):
            raise OSError("not a git checkout")
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "tlmc_etl_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def kill_session(sid: int) -> None:
    """Stop every process left in the worker's session and wait for it."""
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while True:
        alive = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if int(fields[3]) == sid and fields[0] != "Z":
                alive.append(int(pid))
        if not alive:
            return
        if time.time() > deadline - 10:
            sig = signal.SIGKILL
        if time.time() > deadline:
            raise RuntimeError(f"processes {alive} did not stop")
        for pid in alive:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.5)


def run_worker(args: list[str], env: dict, log: str, deadline: float) -> int | None:
    """Run one worker process until it ends or `deadline` (epoch s)
    passes, then stop anything it left behind. Its exit code, or None
    when it was killed at the deadline."""
    cmd = [sys.executable, "-m", "perfbench.worker", *args, "--t0", repr(time.time())]
    with open(log, "w") as log_fh:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log_fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        kill_session(proc.pid)
        proc.wait()
    return code


def failure(op: str, code: int | None, log: str) -> dict:
    with open(log, errors="replace") as fh:
        tail = fh.read()[-3000:]
    reason = "timeout" if code is None else f"worker exit {code}"
    return {"op": op, "pass": "worker", "error": reason, "log_tail": tail}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    deadline = time.time() + WORKER_TIMEOUT_S
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"{name}-{seed}-{os.getpid()}")
    scratch = os.path.join(ROOT, ".scratch")
    scratch_before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()
    os.makedirs(work)
    args = [
        "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(trace)), "--work", work,
    ]
    try:
        env, host = host_env(work, trace)
        out, log = os.path.join(work, "result.json"), os.path.join(work, "worker.log")
        code = run_worker([*args, "--out", out], env, log, deadline)
        if code == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
        else:
            result = {"attempted": 1, "failed": 1, "metrics": {},
                      "failures": [failure(name, code, log)]}
        if not trace and result["metrics"]:
            # More set-ups, each a fresh process and session; setup_s and
            # setup_wall_s are medians over the run's set-ups.
            setups = [result["metrics"]["setup_s"]]
            setup_walls = [result["printed_metrics"]["setup_wall_s"]]
            for i in range(1, SETUPS):
                out, log = os.path.join(work, f"setup{i}.json"), os.path.join(work, f"setup{i}.log")
                code = run_worker([*args, "--out", out, "--setup-only"], env, log, deadline)
                result["attempted"] += 1
                if code == 0 and os.path.exists(out):
                    with open(out) as fh:
                        setup = json.load(fh)
                    setups.append(setup["setup_s"])
                    setup_walls.append(setup["setup_wall_s"])
                else:
                    result["failed"] += 1
                    result["failures"].append(failure(f"setup{i}", code, log))
            result["setup_runs_s"] = {"cpu": setups, "wall": setup_walls}
            result["metrics"]["setup_s"] = statistics.median(setups)
            result["printed_metrics"]["setup_wall_s"] = statistics.median(setup_walls)
        result.setdefault("stamp", {}).update(host)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for base_dir in (base, os.path.dirname(base)):
            try:
                os.rmdir(base_dir)
            except OSError:
                pass
        if os.path.isdir(scratch):
            for entry in set(os.listdir(scratch)) - scratch_before:
                shutil.rmtree(os.path.join(scratch, entry), ignore_errors=True)
            if not scratch_before:
                try:
                    os.rmdir(scratch)
                except OSError:
                    pass


def report(name: str, result: dict, trace: bool) -> None:
    """Human-readable lines: metrics by name with unit, shares, failures."""
    units = dict(PER_LAYER) if trace else {**dict(END_TO_END), **PRINTED_E2E}
    print(f"== {name}  stamp {json.dumps(result.get('stamp', {}), sort_keys=True)}")
    metrics = {**result.get("metrics", {}), **result.get("printed_metrics", {})}
    for key, value in metrics.items():
        print(f"{name:22s} {key:34s} {value:16.4f} {units[key]}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"{name:22s} {'failed_frac':34s} {failed / attempted:16.4f} ratio")
    phases = {k: v if v is None else round(v, 2) for k, v in result.get("phase_s", {}).items()}
    print(f"{name:22s} phase_s {json.dumps(phases)}")
    for op, secs in sorted(result.get("op_s", {}).items()):
        print(f"{name:22s} op {op:31s} {secs:16.4f} s")
    for op, rec in sorted(result.get("per_op", {}).items()):
        print(f"{name:22s} per-op {op:27s} " + json.dumps({k: round(v, 3) for k, v in rec.items()}))
    if "setup_runs_s" in result:
        runs = {k: [round(x, 3) for x in v] for k, v in result["setup_runs_s"].items()}
        print(f"{name:22s} set-ups s {json.dumps(runs)}")
    for f in result.get("failures", []):
        print(f"FAILED {name} {f['op']} pass={f['pass']}: {f['error']}")
        if f.get("log_tail"):
            print(f["log_tail"], file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tlmc_etl_spark")):
        print("perfbench: no tlmc_etl_spark package beside perfbench/", file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {n: run_workload(n, args.seed, args.seconds, bool(args.trace)) for n in names}
    for name, result in results.items():
        report(name, result, bool(args.trace))
    if len(results) == 1:
        (result,) = results.values()
        metrics = result["metrics"]
    else:
        metrics = {f"{n}/{k}": v for n, r in results.items() for k, v in r["metrics"].items()}
    units = dict(RESULT if args.trace else END_TO_END)
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k.rsplit("/", 1)[-1]]}
            for k, v in metrics.items() if k.rsplit("/", 1)[-1] in units
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
