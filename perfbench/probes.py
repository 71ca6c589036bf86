"""Counters read from outside the engine: Spark's status store, the JVM's
management beans, /proc for CPU and memory, and an in-memory span tracer.

Nothing here changes engine behaviour.  The tracer is the only part that
touches engine objects, and only while a traced pass runs: it wraps a few
public functions in spans and tags each span's Spark jobs with
``setJobGroup`` so the status-store counters land on the innermost span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Per-stage fields summed into the spark.* counters.
STAGE_FIELDS = {
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "output_bytes": "outputBytes",
}
COUNTS = (
    "jobs", "stages", "tasks", "failed_tasks", "input_records",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
)


def _proc_cpu_s(pid: int) -> tuple[float, int]:
    """(utime+stime+cutime+cstime seconds, ppid) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(x) for x in rest[11:15])
    return ticks / CLK_TCK, int(rest[1])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class SparkCounters:
    """Reads jobs and stages from the status store after each pass, before
    the store's retention (1000 stages by default) evicts anything."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.mf = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.last_job = -1
        self.seen_stages: set[int] = set()

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the last call, each with its newly run stages."""
        # the status store hears of a finished job through the listener bus;
        # drained first, a job and its stages are complete when they are read
        self.bus.waitUntilEmpty(10_000)
        jobs = json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))
        jobs = sorted((j for j in jobs if j["jobId"] > self.last_job), key=lambda j: j["jobId"])
        for j in jobs:
            j["stages"] = []
            for sid in j["stageIds"]:
                if sid in self.seen_stages:
                    continue
                try:
                    st = json.loads(
                        self.mapper.writeValueAsString(self.store.lastStageAttempt(sid))
                    )
                except Exception:  # never submitted (skipped) stages
                    continue
                if st["status"] in ("COMPLETE", "FAILED"):
                    self.seen_stages.add(sid)
                    j["stages"].append(st)
        if jobs:
            self.last_job = jobs[-1]["jobId"]
        return jobs

    def jvm_times(self) -> dict:
        """Cumulative JIT, GC and process CPU seconds of the driver JVM."""
        jit = self.mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
        gc = sum(g.getCollectionTime() for g in self.mf.getGarbageCollectorMXBeans()) / 1000.0
        return {"jit_s": jit, "gc_s": gc, "process_cpu_s": _proc_cpu_s(self.jvm_pid)[0]}

    def pyworker_cpu_s(self) -> float:
        """CPU of the Python processes the JVM started (the pyspark daemon
        and its UDF workers, reaped workers included via cutime)."""
        children: dict[int, list[int]] = {}
        cpu: dict[int, float] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                c, ppid = _proc_cpu_s(int(d))
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
            cpu[int(d)] = c
        total, todo = 0.0, list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            total += cpu.get(pid, 0.0)
            todo.extend(children.get(pid, []))
        return total

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(os.getpid())


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def busy_s(jobs: list[dict]) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    return union_length(
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ) / 1000.0


def job_counters(jobs: list[dict]) -> dict:
    """spark.* counters of a set of jobs (each stage counted once)."""
    stages = [s for j in jobs for s in j["stages"]]
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "job_busy_s": busy_s(jobs),
    }
    for k, f in STAGE_FIELDS.items():
        out[k] = sum(s[f] for s in stages)
    return out


class Tracer:
    """Spans kept in memory: name, start, end, parent and trace (pass) id.

    A span may tag its Spark jobs with ``setJobGroup``; jobs run by threads
    the span does not own (streaming micro-batches) are attributed by time
    to the innermost span covering their submission.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.trace_id = None
        self.patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "trace": self.trace_id,
            "parent": self.stack[-1] if self.stack else None,
            "tagged": tag_jobs, "start": time.time(), "end": None, "attrs": {},
        }
        self.spans.append(rec)
        self.stack.append(sid)
        if tag_jobs:
            self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if tag_jobs:
                tagged = [i for i in self.stack if self.spans[i]["tagged"]]
                if tagged:
                    self.sc.setJobGroup(f"perfbench-{tagged[-1]}", self.spans[tagged[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, tag_jobs: bool = True, on_result=None):
        """Replace ``owner.attr`` by a spanned version until ``unwrap``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        func = orig.__func__ if isinstance(orig, classmethod) else orig
        tracer = self

        def spanned(*a, **kw):
            with tracer.span(name, tag_jobs) as rec:
                res = func(*a, **kw)
                if on_result is not None:
                    on_result(rec, res)
                return res

        setattr(owner, attr, classmethod(spanned) if isinstance(orig, classmethod) else spanned)
        self.patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self.patches:
            owner, attr, orig = self.patches.pop()
            setattr(owner, attr, orig)

    def assign_jobs(self, spans: list[dict], jobs: list[dict]) -> None:
        """Attach each job to its innermost span (by job group, else by time)."""
        by_group = {f"perfbench-{s['id']}": s for s in spans}
        for s in spans:
            s["jobs"] = []
        for j in jobs:
            owner = by_group.get(j.get("jobGroup") or "")
            if owner is None:
                t = j.get("submissionTime") or 0
                covering = [
                    s for s in spans if s["start"] * 1000 <= t <= s["end"] * 1000
                ]
                owner = max(covering, key=lambda s: s["start"], default=None)
            if owner is not None:
                owner["jobs"].append(j)

    def subtree(self, spans: list[dict], root: dict) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def self_time(self, spans: list[dict], span: dict) -> float:
        """Span duration minus the part of it its direct children cover."""
        covered = union_length(
            (c["start"], c["end"]) for c in spans if c["parent"] == span["id"]
        )
        return span["end"] - span["start"] - covered
