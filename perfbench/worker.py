"""One benchmark run of one workload, in a fresh Python + JVM process.

Started by run.py with the working directory, TMPDIR, SPARK_LOCAL_DIRS and
PYTHONPATH already pointing into the run's scratch directory and the
checkout.  Writes its result to ``result.json`` in the working directory.

Schedule: set-up (session, the workload's own set-up,
the output checks that double as its cold pass, its warm passes) -> timed
passes for ``--seconds`` -> the checks that depend on the passes.  A timed
pass runs the workload's mix once, closed loop, one client.  With
``--trace 1`` untraced and traced passes alternate, and the per-layer
metrics come from the traced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import ExitStack

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402

MIN_PASSES = 3
MIN_TRACED_PAIRS = 2
SPARK_COUNTS = [f"spark.{c}" for c in probes.COUNTS]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


class Runner:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def start(self):
        """Session, inputs, the workload's set-up and its cold pass (the
        output checks); everything up to the first timed pass."""
        t = time.perf_counter()
        from duckdb_imputation_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = probes.SparkCounters(self.spark)

        import workloads

        self.wl_mod = workloads
        cls = workloads.WORKLOADS[self.args.workload]
        sf_dir = os.path.join(HERE, "data", cls.data)
        self.ctx = workloads.Context(self.spark, sf_dir, os.getcwd(), self.args.seed)
        self.wl = cls(self.ctx)
        t = time.perf_counter()
        self.wl.setup()
        t1 = time.perf_counter()
        self.checks(self.wl.checks())
        self.counters.new_jobs()
        t2 = time.perf_counter()
        # A traced run adds one warm pass, so a slow first noop pass lands in
        # neither side of the traced-minus-untraced overhead.
        for _ in range(self.wl.warm_passes + self.args.trace):
            self.run_pass()
        log(f"set-up: get_spark {self.get_spark_s:.2f} s, workload {t1 - t:.2f} s, "
            f"checks {t2 - t1:.2f} s, warm passes {time.perf_counter() - t2:.2f} s")

    def run_pass(self, tracer=None) -> dict:
        """One pass of the mix; returns its wall time, CPU and counters, in
        total and per operation.  The probes run between operations, outside
        their times."""
        ctx = self.ctx
        ctx.tracer = tracer
        jvm0 = self.counters.jvm_times()
        ops, jobs = {}, []
        with ExitStack() as stack:
            if tracer is not None:
                tracer.trace_id = sum(1 for s in tracer.spans if s["parent"] is None)
                self.wl_mod.install_trace(tracer)
                stack.callback(tracer.unwrap)
                stack.enter_context(tracer.span("pass"))
            for name, fn in self.wl.ops():
                self.attempted += 1
                py0 = self.counters.pyworker_cpu_s()
                # read next to the wall clock, so the probes' own CPU stays out
                cpu0 = time.process_time()
                t0 = time.perf_counter()
                try:
                    with ctx.span(name):
                        fn()
                except Exception as ex:  # a failed operation counts, the run goes on
                    self.failed += 1
                    self.errors.append(f"{name}: {ex!r:.300}")
                wall = time.perf_counter() - t0
                driver_cpu = time.process_time() - cpu0
                pyworker = self.counters.pyworker_cpu_s() - py0
                op_jobs = self.counters.new_jobs()
                jobs += op_jobs
                ops[name] = {
                    "wall_s": wall,
                    "cpu_s": probes.job_counters(op_jobs)["executor_cpu_s"] + driver_cpu + pyworker,
                    "driver_cpu_s": driver_cpu,
                    "pyworker_cpu_s": pyworker,
                }
        ctx.tracer = None
        jvm1 = self.counters.jvm_times()
        counts = probes.job_counters(jobs)
        rec = {
            "wall_s": sum(o["wall_s"] for o in ops.values()),
            "cpu_s": sum(o["cpu_s"] for o in ops.values()),
            "driver_cpu_s": sum(o["driver_cpu_s"] for o in ops.values()),
            "pyworker_cpu_s": sum(o["pyworker_cpu_s"] for o in ops.values()),
            "ops": ops,
            "jvm": {k: jvm1[k] - jvm0[k] for k in jvm1},
            "counts": counts,
            "jobs": jobs,
        }
        if tracer is not None:
            rec["spans"] = [s for s in tracer.spans if s["trace"] == tracer.trace_id]
        return rec

    def checks(self, checks) -> None:
        for name, fn in checks:
            self.attempted += 1
            t = time.perf_counter()
            try:
                if not fn():
                    self.failed += 1
                    self.errors.append(f"{name}: output differs from its oracle")
            except Exception as ex:
                self.failed += 1
                self.errors.append(f"{name}: {ex!r:.300}")
            log(f"  {name}: {time.perf_counter() - t:.2f} s")


def layer_metrics(tracer, rec: dict, mod) -> dict:
    """Per-layer metrics of one traced pass."""
    spans = rec["spans"]
    tracer.assign_jobs(spans, rec["jobs"])
    c = rec["counts"]
    m = {f"spark.{k}": c[k] for k in probes.COUNTS}
    m["spark.executor_run_s"] = c["executor_run_s"]
    m["spark.executor_cpu_s"] = c["executor_cpu_s"]
    m["spark.job_busy_s"] = c["job_busy_s"]
    m["spark.driver_gap_s"] = rec["wall_s"] - c["job_busy_s"]
    m["spark.parallelism"] = c["executor_run_s"] / c["job_busy_s"] if c["job_busy_s"] else 0.0
    for k, v in rec["jvm"].items():
        m[f"jvm.{k}"] = v
    m["pyworker.cpu_s"] = rec["pyworker_cpu_s"]
    m["driver.python_cpu_s"] = rec["driver_cpu_s"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def inclusive(sel):
        """(wall, counters) of spans and everything below them."""
        jobs = [j for s in sel for t in tracer.subtree(spans, s) for j in t["jobs"]]
        return sum(s["end"] - s["start"] for s in sel), probes.job_counters(jobs)

    for row in mod.CATALOG_ROWS:
        m[f"query.{row}.wall_s"] = inclusive(named(f"query.{row}"))[0]
    for layer, rows in (("operators.cofactor", mod.COFACTOR_ROWS),
                        ("operators.multiply", mod.MULTIPLY_ROWS)):
        wall, jc = inclusive([s for r in rows for s in named(f"query.{r}")])
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.executor_cpu_s"] = jc["executor_cpu_s"]
        m[f"{layer}.shuffle_write_bytes"] = jc["shuffle_write_bytes"]
        m[f"{layer}.parallelism"] = (
            jc["executor_run_s"] / jc["job_busy_s"] if jc["job_busy_s"] else 0.0
        )

    sel = named("mice.mice_impute")
    wall, jc = inclusive(sel)
    m["mice.wall_s"] = wall
    for phase in ("prepare", "full_cofactor", "cofactor", "train", "update"):
        m[f"mice.{phase}_s"] = sum(s["attrs"].get("timings", {}).get(phase, 0.0) for s in sel)
    m["mice.jobs"] = jc["jobs"]
    m["mice.driver_gap_s"] = wall - jc["job_busy_s"]

    wall, jc = inclusive(named("operators.graph.pagerank"))
    m["operators.graph.pagerank_s"] = wall
    m["operators.graph.jobs"] = jc["jobs"]
    m["operators.graph.driver_gap_s"] = wall - jc["job_busy_s"]

    m["operators.incremental.insert_s"] = inclusive(named("operators.incremental.insert"))[0]
    m["operators.incremental.delete_s"] = inclusive(named("operators.incremental.delete"))[0]
    m["operators.incremental.jobs"] = inclusive(
        named("operators.incremental.insert") + named("operators.incremental.delete")
    )[1]["jobs"]
    m["functions.triple.merge_s"] = sum(
        tracer.self_time(spans, s) for s in named("functions.triple.merge")
    )
    m["ml.linreg_train_s"] = inclusive(named("ml.linreg_train"))[0]
    wall, jc = inclusive(named("sources.upsert_table"))
    m["sources.upsert_table_s"] = wall
    m["sources.output_bytes"] = jc["output_bytes"]
    return m


def op_median_sum(passes: list[dict], key: str) -> float:
    """A pass's ``key`` built from each operation's median over the passes.
    A burst of host load that slows one operation of one pass moves none of
    the medians; a median of whole passes would move once two passes out of
    three caught one."""
    return sum(
        statistics.median(p["ops"][name][key] for p in passes) for name in passes[0]["ops"]
    )


def counter_selfcheck(workload: str, seed: int, passes: list[dict]) -> list[str]:
    """spark.* counts that differ between passes of this run, or from the
    last run of the same workload and seed (kept under perfbench/.work/state/)."""
    diffs = []
    per_pass = [{f"spark.{k}": p["counts"][k] for k in probes.COUNTS} for p in passes]
    for k in SPARK_COUNTS:
        vals = sorted({p[k] for p in per_pass})
        if len(vals) > 1:
            diffs.append(f"{k} differs between passes of this run: {vals}")
    state = os.path.join(os.environ["PERFBENCH_STATE"], f"counts-{workload}-{seed}.json")
    if per_pass:
        mine = per_pass[-1]
        if os.path.exists(state):
            with open(state) as f:
                prev = json.load(f)
            diffs += [
                f"{k} differs from the previous run of this seed: {prev[k]} -> {mine[k]}"
                for k in SPARK_COUNTS
                if k in prev and prev[k] != mine[k]
            ]
        with open(state, "w") as f:
            json.dump(mine, f)
    return diffs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    r = Runner(args)
    r.start()
    setup_s = time.time() - T0

    # Closed loop for --seconds.  With --trace 1 untraced and traced passes
    # alternate in ABBA order, so the warm-up drift cancels out of the
    # traced-minus-untraced overhead.
    tracer = probes.Tracer(r.spark) if args.trace else None
    plain, traced = [], []
    need = MIN_TRACED_PAIRS if tracer else MIN_PASSES
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(plain) < need:
        if tracer is None:
            plain.append(r.run_pass())
            continue
        first_traced = len(plain) % 2 == 1
        for traced_pass in (first_traced, not first_traced):
            if traced_pass:
                traced.append(r.run_pass(tracer))
            else:
                plain.append(r.run_pass())
    r.checks(r.wl.final_checks())
    rss = r.counters.peak_rss_mb()

    walls = [p["wall_s"] for p in plain]
    q = statistics.quantiles(walls, n=4)
    log(f"{args.workload} seed={args.seed}: setup {setup_s:.2f} s, {len(walls)} passes, "
        f"wall q1/median/q3 {q[0]:.3f}/{q[1]:.3f}/{q[2]:.3f} s, peak RSS {rss:.0f} MB")
    for name in plain[0]["ops"]:
        log(f"  {name}: {[round(p['ops'][name]['wall_s'], 3) for p in plain]} s, "
            f"cpu {[round(p['ops'][name]['cpu_s'], 3) for p in plain]} s")
    log(f"  cpu per pass: {[round(p['cpu_s'], 3) for p in plain]} s "
        f"(executor {[round(p['counts']['executor_cpu_s'], 3) for p in plain]})")
    for d in counter_selfcheck(args.workload, args.seed, traced or plain):
        log(f"counter self-check: {d}")
    for e in r.errors:
        log(f"failed: {e}")

    if args.trace:
        per = [layer_metrics(tracer, p, r.wl_mod) for p in traced]
        metrics = {k: statistics.median([p[k] for p in per]) for k in per[0]}
        metrics["session.get_spark_s"] = r.get_spark_s
        metrics["trace.overhead_s"] = (
            op_median_sum(traced, "wall_s") - op_median_sum(plain, "wall_s")
        )
        state = os.environ["PERFBENCH_STATE"]
        with open(os.path.join(state, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([{k: v for k, v in s.items() if k != "jobs"} for s in tracer.spans], f)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": op_median_sum(plain, "wall_s"),
            "cpu_s": op_median_sum(plain, "cpu_s"),
            "peak_rss_mb": rss,
        }
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }
    with open("result.json", "w") as f:
        json.dump(result, f)
    r.spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
