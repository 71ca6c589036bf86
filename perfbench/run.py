#!/usr/bin/env python3
"""Benchmark entry point: run one workload at one seed and print one JSON line.

    python3 perfbench/run.py --workload cofactor_scan --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  Each call runs the workload in a fresh
Python + JVM process (perfbench/worker.py) on local[<usable cpus>], over
copies of the engine's test tables in perfbench/data/.  Everything the run
writes (Spark local dirs, temp files, the upsert table) lives under
perfbench/.work/run-*/ and is removed at the end; perfbench/.work/state/
keeps the last spark.* counts per workload and seed, for the counter
self-check, and the last traced run's spans.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# A run that has not ended SETUP_ALLOWANCE_S + 2 * --seconds after it started
# is stopped and prints no result (set-up takes 30-60 s on a 4-core box).
SETUP_ALLOWANCE_S = 120
WORKLOADS = ("cofactor_scan", "iterative_driver")
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("parallelism"):
        return "1"
    return "count"


def session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    out.append(int(d))
            except OSError:
                pass
    return out


def stop_session(proc: subprocess.Popen) -> None:
    """Stop every process the worker started (JVM, Python UDF workers) and
    wait until they are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass
        t = time.time()
        while session_pids(proc.pid) and time.time() - t < 5:
            time.sleep(0.05)
        if not session_pids(proc.pid):
            break
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "duckdb_imputation_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    state = os.path.join(base, "state")
    tmp = os.path.join(work, "tmp")
    for d in (os.path.join(work, "local"), tmp, state):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # pandas-UDF workers are started by the JVM, so sys.path edits in
        # this process would not reach them
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # a fixed-size heap: an adaptively grown one made peak RSS move by
        # 10-20 % between identical runs
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options -Xms1g "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        # every JVM (launcher included) keeps its temp files in the run's
        # directory and writes no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PERFBENCH_T0": repr(T0),
        "PERFBENCH_STATE": state,
    })
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    # a SIGTERM to this process still stops the worker's session below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    code, result = None, None
    try:
        deadline = SETUP_ALLOWANCE_S + 2 * args.seconds
        code = proc.wait(timeout=max(deadline - (time.time() - T0), 1))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline", file=sys.stderr)
    finally:
        stop_session(proc)
        if code == 0 and os.path.exists(os.path.join(work, "result.json")):
            with open(os.path.join(work, "result.json")) as f:
                result = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    metrics = {
        k: {"value": v, "unit": END_TO_END_UNITS[k] if k in END_TO_END_UNITS else layer_unit(k)}
        for k, v in result["metrics"].items()
    }
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
