#!/usr/bin/env python3
"""KG-pipeline benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. This parent process owns the hermetic
environment: it sizes driver memory from the host, points every Spark
scratch location (local dirs, warehouse, event log, temp, CC lineage cuts)
at a run directory inside the checkout, starts the workload process in its
own session, waits for it (killing it past the deadline), stops every
process that carries the run's marker, removes the run directory, and only
then prints the workload's result as the last stdout line. A failed or
timed-out workload exits non-zero without printing a result.

See perfbench/README.md for the workloads, metrics and load model.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_PARENT = os.path.join(ROOT, ".perfbench_run")
MARKER_ENV = "PERFBENCH_RUN_ID"
DEADLINE_S = 170.0  # a run must end within 180 s; keep room for cleanup


def host_facts() -> dict:
    """Host facts recorded with every result (see compare.py)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return {"nproc": cpus, "mem_gb": round(mem_kb / 2**20, 1)}


def driver_memory_gb(mem_gb: float) -> int:
    # session.py defaults to 16g, more than this class of host has; a quarter
    # of RAM, capped at 4g, leaves room for the Python workers and neighbours
    return max(1, min(4, int(mem_gb // 4)))


def workload_env(run_dir: str, run_id: str, facts: dict, trace: bool) -> dict:
    env = dict(os.environ)
    dirs = {k: os.path.join(run_dir, k) for k in
            ("local", "tmp", "warehouse", "cc_cut", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # no hsperfdata files in /tmp: the run writes only inside the checkout
    submit = [f"--driver-java-options '-XX:-UsePerfData "
              f"-Djava.io.tmpdir={dirs['tmp']}'"]
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false",
                   f"--conf spark.eventLog.dir=file://{dirs['eventlog']}"]
    env.update({
        MARKER_ENV: run_id,
        # python workers import the package from the checkout, not site-packages
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(facts["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{driver_memory_gb(facts['mem_gb'])}g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "OMX_CC_CUT_DIR": dirs["cc_cut"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def marked_pids(run_id: str) -> list[int]:
    """Live processes whose environment carries this run's marker."""
    needle = f"{MARKER_ENV}={run_id}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue  # exited, or not ours
    return pids


def stop_all(proc: subprocess.Popen, run_id: str) -> None:
    """Stop the workload's session and every marked straggler; wait for all.

    After a normal exit the JVM and Python workers shut down by themselves
    once the driver's pipe closes; they get a grace period before SIGKILL.
    """
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    start = time.time()
    while pids := marked_pids(run_id):
        waited = time.time() - start
        if waited > 30:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        if waited > 10:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ontology_mapper_spark", "__init__.py")):
        print(f"perfbench: no ontology_mapper_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    # a terminated parent still stops the workload: SystemExit unwinds
    # through the `finally` blocks below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    facts = host_facts()
    run_id = f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(RUN_PARENT, run_id)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--result", result_path]
    if args.tiny:
        cmd.append("--tiny")
    code = 1
    try:
        env = workload_env(run_dir, run_id, facts, bool(args.trace))
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: workload exceeded {DEADLINE_S:.0f}s", file=sys.stderr)
            code = 3
        finally:
            stop_all(proc, run_id)
        result = None
        if code == 0:
            with open(result_path) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_PARENT)
        except OSError:
            pass  # another run is still using it
    if result is None:
        print(f"perfbench: workload failed (exit {code})", file=sys.stderr)
        return code or 1
    env_line = {**facts, **result.pop("env")}
    print("env " + json.dumps(env_line, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
