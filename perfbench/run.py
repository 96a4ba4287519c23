"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> [--seed <n>] [--seconds <s>] [--trace <0|1>]

Run from the repository root. One closed-loop client issues the
workload's operations serially on ``local[<cores>]``: a cold first pass,
then warm passes until ``--seconds`` of passes have run (at least
``MIN_WARM``). Inputs are generated from ``--seed`` before Spark starts.
Every output is checked after its pass; a failed call or check counts
in ``failed``. The last stdout line is the result JSON: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1`` (event log on, one job group per op phase).

Everything the run writes lives in ``.perfbench_run/`` under the
repository root and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_WARM = 2
REFERENCE_ELSUM = "reference pmapreduce(f, +) over ones(10_000, 1_000) x 32: 2.17 s on 56 cores"
# layers whose ops are planned in their own traced phase
PLANNED = {"relational", "joins"}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs passes over a workload's ops and counts failed calls and checks."""

    def __init__(self, wl, spans):
        self.wl, self.spans = wl, spans
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.op_walls: dict[str, list[float]] = {}  # per op, one per pass

    def run_pass(self, pass_no: int, traced: bool, grouped: bool) -> float:
        """One pass over the ops; returns its wall time. Outputs are
        checked after the pass clock stops."""

        def phase(op, name):
            return self.spans.span(op.layer, op.name, name, pass_no) if traced else nullcontext()

        outs = []
        # an untraced pass of the traced run runs under one pass-wide group
        whole = (self.spans.span("pass", "untraced", "pass", pass_no)
                 if grouped and not traced else nullcontext())
        t0 = time.perf_counter()
        with whole:
            for op in self.wl.ops:
                t_op = time.perf_counter()
                try:
                    with phase(op, "build"):
                        obj = op.build() if op.build else None
                    if traced and op.layer in PLANNED:
                        with phase(op, "plan"):
                            obj._jdf.queryExecution().executedPlan()
                    with phase(op, "exec"):
                        outs.append((op, op.exec(obj), None))
                except Exception:  # a failed call is counted, the pass goes on
                    outs.append((op, None, traceback.format_exc(limit=3)))
                self.op_walls.setdefault(op.name, []).append(time.perf_counter() - t_op)
        wall = time.perf_counter() - t0
        for op, out, err in outs:
            self.attempted += 1
            if err is None:
                try:
                    err = op.check(out)
                except Exception:
                    err = traceback.format_exc(limit=3)
            if err is not None:
                self.failed += 1
                self.errors.append(f"pass {pass_no} {op.name}: {err}")
        return wall


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def serial_elsum_s(consts) -> float:
    """The same Float64 elsum in one process: numpy, no Spark."""
    import numpy as np

    from workloads import ELSUM_SHAPE

    t0 = time.perf_counter()
    acc = np.full(ELSUM_SHAPE, consts[0])
    for c in consts[1:]:
        np.add(acc, np.full(ELSUM_SHAPE, c), out=acc)
    dt = time.perf_counter() - t0
    if not (acc == sum(consts)).all():
        raise RuntimeError("serial elsum disagrees with the task constants")
    return dt


def stop_gateway(gateway) -> None:
    """Shut the JVM down and wait for it: stopping the context leaves it
    running until this process exits."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, work: Path) -> dict:
    """Generate inputs, set up, run the passes; returns what the report
    needs. The JVM is stopped before this returns."""
    import layers
    import workloads

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    data = workloads.INPUTS[args.workload](str(work / "data"), args.seed)
    gen_s = time.perf_counter() - t

    from parallelutilities_jl_spark.session import ensure_package_on_executors, get_spark

    # a 1g heap fills on every workload, so the JVM share of the peak RSS
    # is steady and the driver Python share shows work moved to the driver
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    trace = bool(args.trace)
    if trace:
        (work / "eventlog").mkdir()
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                      extra_conf=spark_conf(work, trace))
    r = {"cores": cores, "gen_s": gen_s, "start_s": time.perf_counter() - t}
    gateway = spark.sparkContext._gateway
    wl = None
    try:
        spans = layers.Spans(spark.sparkContext)
        # pmapreduce_dense_elsum(_long) do not ship the package themselves
        t = time.perf_counter()
        ensure_package_on_executors(spark)
        r["ship_s"] = time.perf_counter() - t
        with spans.span("session", "warmup", "setup", -1) if trace else nullcontext():
            spark.range(1000).selectExpr("sum(id)").collect()
            spark.sparkContext.parallelize(range(2 * cores), cores).map(lambda x: x * x).sum()
        r["setup_s"] = process_age_s() - gen_s

        wl = workloads.WORKLOADS[args.workload](spark, data, str(work), args.seed, cores)
        runner = Runner(wl, spans)
        walls = []
        while True:
            p = len(walls)
            # trace run: cold pass traced, then untraced/traced alternate,
            # so traced passes sit between untraced ones as the JIT warms
            walls.append(runner.run_pass(p, traced=trace and p % 2 == 0, grouped=trace))
            warm = walls[1:]
            if len(warm) >= MIN_WARM + trace and sum(walls) + median(warm) > args.seconds:
                break
        r["rss_py"], r["rss_jvm"] = vm_hwm_mb("self"), vm_hwm_mb(gateway.proc.pid)
    finally:
        spark.stop()
        stop_gateway(gateway)
        if wl is not None and "oracle" in wl.info:
            wl.info["oracle"].close()
    r.update(wl=wl, runner=runner, walls=walls, spans=spans)
    return r


def end_to_end(r: dict) -> dict[str, float]:
    pass_s = median(r["walls"][1:])
    return {
        "setup_s": r["setup_s"],
        "first_pass_s": r["walls"][0],
        "pass_s": pass_s,
        "rows_per_s": sum(op.rows for op in r["wl"].ops) / pass_s,
        "driver_peak_rss_mb": r["rss_py"] + r["rss_jvm"],
    }


def per_layer(r: dict, work: Path) -> tuple[dict[str, float], list[str]]:
    """Per-layer medians over the traced warm passes, and the trace
    self-check failures."""
    import layers

    wl, walls, spans = r["wl"], r["walls"], r["spans"].spans
    check = layers.attribute(spans, layers.read_jobs(str(work / "eventlog")))
    per_pass = [layers.layer_metrics([s for s in spans if s.pass_no == p], r["cores"])
                for p in range(2, len(walls), 2)]
    values = {k: median([m.get(k, 0.0) for m in per_pass]) for k in {k for m in per_pass for k in m}}
    traced, untraced = walls[2::2], walls[1::2]
    elsum = values.get("mapreduce.dense_elsum.exec_s", 0.0)
    serial = serial_elsum_s(wl.info["consts"]) if "consts" in wl.info else 0.0
    values.update({
        "session.start_s": r["start_s"],
        "session.ship_s": r["ship_s"],
        "plans.split_query_ns": values.get("plans.split_metadata.exec_s", 0.0)
        / wl.info.get("meta_queries", 1) * 1e9,
        "mapreduce.speedup_vs_serial": serial / elsum if elsum else 0.0,
        "dedup.component_docs": wl.info.get("component_docs", 0),
        "dedup.recall": wl.info.get("dedup_recall", 0.0),
        "trace.jobs": check["jobs"],
        "trace.unattributed_jobs": check["unattributed"],
        "trace.pass_s": median(traced),
        "trace.overhead_s": median(traced) - median(untraced),
    })
    if serial:
        print(f"# serial numpy elsum {serial:.3f} s, Spark {elsum:.3f} s")
    print(f"# trace: {check['jobs']} jobs, {check['unattributed']} unattributed, "
          f"overhead {values['trace.overhead_s']:+.3f} s per pass")
    for f in check["failures"][:10]:
        print(f"# TRACE CHECK FAILED {f}")
    return values, check["failures"]


def report(args, r: dict, work: Path, spec: dict) -> dict:
    wl, runner, walls = r["wl"], r["runner"], r["walls"]
    print(f"# workload {args.workload} seed {args.seed}: {len(walls)} passes, "
          f"cold {walls[0]:.3f} s, warm {[round(w, 3) for w in walls[1:]]}, "
          f"inputs generated in {r['gen_s']:.2f} s")
    print(f"# peak RSS: driver Python {r['rss_py']:.0f} MB, JVM {r['rss_jvm']:.0f} MB")
    print(f"# error_rate {runner.failed / runner.attempted:.4f} "
          f"({runner.failed} of {runner.attempted} ops)")
    for name, ws in runner.op_walls.items():
        print(f"#   {name}: cold {ws[0]:.3f} s, warm median {median(ws[1:]):.3f} s")
    for e in runner.errors[:10]:
        print(f"# FAILED {e}")
    if "dedup_recall" in wl.info:
        print(f"# dedup_recall {wl.info['dedup_recall']:.4f} (planted pairs in one component)")
    if args.workload == "refmap":
        print(f"# context only: {REFERENCE_ELSUM}")
    if args.trace:
        values, failures = per_layer(r, work)
        names = spec["per_layer"]
    else:
        values, failures = end_to_end(r), []
        names = spec["end_to_end"]
    return {
        "correct": runner.failed == 0 and not failures,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open(ROOT / "BENCHMARK.json") as f:
            spec = json.load(f)
        import parallelutilities_jl_spark  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: run from a checkout of the repository ({e})", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    work = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # the package zip, Python workers
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")  # shuffle and block files
    try:
        result = report(args, measure(args, work), work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT)]
    sys.exit(main())
