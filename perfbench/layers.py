"""Per-layer numbers for the traced run.

Every phase of every op runs under its own Spark job group, set just
before the phase and cleared just after it, so that no later job can
land under an earlier op. After the session stops, the uncompressed
event log is joined to those spans: each job by its group, each stage
by its job, each task by its stage. A job without a group (a side
thread inside an op) is counted as unattributed and assigned to the
span whose wall-clock window holds its submission; no job is dropped.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# slack for comparing Spark's millisecond event times with driver spans
TOL_S = 0.05

TASK_FIELDS = (
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "result_bytes",
    "scan_input_bytes", "scan_input_rows", "sink_output_bytes", "tasks",
)


@dataclass
class Span:
    gid: str
    layer: str
    op: str
    phase: str  # setup | build | plan | exec | pass
    pass_no: int
    t0: float
    t1: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Spans:
    """Records spans around calls into the package, each under a job
    group named after the span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, op: str, phase: str, pass_no: int):
        gid = f"p{pass_no}:{layer}:{op}:{phase}"
        self.sc.setJobGroup(gid, gid)
        s = Span(gid, layer, op, phase, pass_no, time.time())
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.sc._jsc.clearJobGroup()
            self.spans.append(s)


def _events(log_dir: str):
    """Every event of the run's log. Spark 4 writes a rolling
    ``eventlog_v2_*/events_<n>_*`` directory; a plain file also parses."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    for p in sorted(paths):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    yield json.loads(line)


@dataclass
class Job:
    jid: int
    group: str | None
    t0: float
    t1: float = 0.0
    stage_ids: list = field(default_factory=list)
    stages: list = field(default_factory=list)  # (t0, t1) of stages it ran
    m: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


def read_jobs(log_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stages: dict[int, tuple[float, float]] = {}
    stage_m: dict[int, dict] = {}
    for e in _events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                    e["Submission Time"] / 1e3,
                                    stage_ids=list(e["Stage IDs"]))
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time") is not None:
                stages[info["Stage ID"]] = (info["Submission Time"] / 1e3,
                                            info["Completion Time"] / 1e3)
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            m = stage_m.setdefault(e["Stage ID"], dict.fromkeys(TASK_FIELDS, 0.0))
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            m["tasks"] += 1
            m["task_run_s"] += tm["Executor Run Time"] / 1e3
            m["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["gc_s"] += tm["JVM GC Time"] / 1e3
            m["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            m["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            m["spill_bytes"] += tm["Disk Bytes Spilled"]
            m["result_bytes"] += tm["Result Size"]
            m["scan_input_bytes"] += tm["Input Metrics"]["Bytes Read"]
            m["scan_input_rows"] += tm["Input Metrics"]["Records Read"]
            m["sink_output_bytes"] += tm["Output Metrics"]["Bytes Written"]
    # a stage runs under the latest job listing it that started before it
    for sid, (s0, s1) in stages.items():
        owners = [j for j in jobs.values() if sid in j.stage_ids and j.t0 <= s0 + TOL_S]
        if not owners:
            continue
        j = max(owners, key=lambda j: j.t0)
        j.stages.append((s0, s1))
        for k, v in stage_m.get(sid, {}).items():
            j.m[k] += v
    return sorted(jobs.values(), key=lambda j: j.jid)


def _union(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def attribute(spans: list[Span], jobs: list[Job]) -> dict:
    """Assign every job to a span and check the assignment. Returns the
    counts and the self-check failures (empty when the trace holds)."""
    by_gid = {s.gid: s for s in spans}
    unattributed = dropped = 0
    failures = []
    for j in jobs:
        s = by_gid.get(j.group)
        if s is None:
            if j.group is not None:
                dropped += 1
                continue
            unattributed += 1
            s = next((s for s in spans if s.t0 <= j.t0 <= s.t1 + TOL_S), None)
            if s is None:
                dropped += 1
                continue
        elif not (s.t0 - TOL_S <= j.t0 and j.t1 <= s.t1 + TOL_S):
            failures.append(f"job {j.jid} of {s.gid} ran outside its span")
        s.jobs.append(j)
    if dropped:
        failures.append(f"{dropped} jobs match no span")
    for s in spans:
        covered = _union((st for j in s.jobs for st in j.stages), float("-inf"), float("inf"))
        if covered > s.wall + TOL_S:
            failures.append(f"{s.gid}: stages cover {covered:.3f}s > span {s.wall:.3f}s")
    return {"jobs": len(jobs), "unattributed": unattributed, "failures": failures}


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """One traced pass: phase times, driver gap and task totals summed
    per layer (``<layer>.<metric>``) and per op (``<layer>.<op>.<phase>_s``)."""
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        lay = s.layer
        covered = _union((st for j in s.jobs for st in j.stages), s.t0, s.t1)
        add(f"{lay}.{s.phase}_s", s.wall)
        add(f"{lay}.{s.op}.{s.phase}_s", s.wall)
        add(f"{lay}.wall_s", s.wall)
        add(f"{lay}.driver_gap_s", s.wall - covered)
        add(f"{lay}.jobs", len(s.jobs))
        if s.phase == "build":
            add(f"{lay}.build_jobs", len(s.jobs))
        for j in s.jobs:
            for k, v in j.m.items():
                add(f"{lay}.{k}", v)
                if k.startswith(("scan_input", "sink_output")) and lay != "sources":
                    add(f"sources.{k}", v)
        if s.phase == "exec" and any(j.m["sink_output_bytes"] > 0 for j in s.jobs):
            add("sources.sink_s", s.wall)
    for key in [k for k in out if k.endswith(".wall_s")]:
        lay = key[: -len(".wall_s")]
        wall = out.pop(key)
        out[f"{lay}.core_busy"] = out.get(f"{lay}.task_run_s", 0.0) / (wall * cores)
    return out
