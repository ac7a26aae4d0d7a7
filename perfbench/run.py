#!/usr/bin/env python3
"""Benchmark for the schema audit and the analytics query registry.

    python3 perfbench/run.py --workload audit_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads (see ``workloads.py``):
``audit_interactive`` and ``analytics_mix``.  One run starts the
program, generates the inputs from the seed, runs one operation,
settles the JVM with untimed operations, runs the closed loop for
``--seconds``, checks every output outside the timed window and prints
one JSON object as the last line of stdout.  ``setup_s`` is the time
from process start until that first operation has returned: imports,
registry, session, inputs and the operation's first-run costs (memo
builds among them), as a user of the program waits for them.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on job
groups and Spark's event log and reports the per-layer metrics of
``layers.py`` instead; before its loop it runs one more operation with
every memo cleared, so that memo builds show apart from the JVM's
first-run costs.

Everything a run writes stays under ``.perfbench/`` in the repository
root; its scratch directory is removed when it ends, and a traced run
leaves ``.perfbench/trace-<workload>.json`` with every span and per-call
detail.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rdbms_metadata_manager_spark"

CORES = 4  # local[N]; clamped to the CPUs this process may use
DRIVER_MEM = "3g"
SF = 0.1
# With C2 the driver JVM never settles within a run: on a 4-core VM the
# audit's latency fell from 1.5 s to 0.85 s over its first 40 s and the C2
# threads still took a fifth of the CPU after 100 s, so a timed window
# measured how far the JIT had got.  C1 alone still warmed up for about
# twenty operations, at a pace set by the host's speed; with its compile
# thresholds at 5 % latencies are flat after about eight.  C1 alone gets
# a 48 MB code cache, which that fills; 240 MB is the tiered default.
JIT = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 "
       "-XX:ReservedCodeCacheSize=240m")
SETTLE_OPS = 8  # untimed operations between set-up and the timed loop
WORKLOADS = ("audit_interactive", "analytics_mix")

END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("footprint_mb", "MB"),
]


@dataclass
class Run:
    """What one run measured; ``layers.compute`` reads the traced fields."""

    workload: str
    session_s: float = 0.0
    registry_s: float = 0.0
    memo_entries: int = 0
    latencies: dict[str, float] = field(default_factory=dict)  # measured ops only
    cpu_s: float = 0.0  # CPU seconds of the process tree over the measured ops
    kinds: dict[str, str] = field(default_factory=dict)  # op id -> what it ran
    columns: dict[str, int] = field(default_factory=dict)
    csv_bytes: dict[str, int] = field(default_factory=dict)
    spans: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    groups: dict = field(default_factory=dict)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def posture(cores: int) -> dict:
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True).stdout.strip() or None
    digest = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    return {
        "master": f"local[{cores}]",
        "nproc": len(os.sched_getaffinity(0)),
        "head": head,
        "source_sha256": digest.hexdigest()[:16],
        "scale_factor": SF,
        "driver_memory": DRIVER_MEM,
        "jit": JIT,
    }


def configure(work: str, cores: int, trace: bool) -> None:
    """Environment for the Spark driver, set before its JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # Every JVM (spark-submit's launcher too): temp files inside the
    # run's directory, no hsperfdata file in /tmp, and the JIT flags
    # above.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT}"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def stop_jvm() -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    cores = min(CORES, nproc)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(work, cores, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return _run(args, cores, work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cores: int, work: str) -> int:
    from . import layers, procstat, workloads
    from .tracing import Tracer

    stamp = posture(cores)
    stamp["load_before"] = os.getloadavg()
    run = Run(args.workload)
    tracer = Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.seed, tracer)

    from rdbms_metadata_manager_spark import memo
    from rdbms_metadata_manager_spark.session import get_spark

    if hasattr(wl, "load_registry"):
        t = time.perf_counter()
        wl.load_registry()
        run.registry_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark("perfbench")
    run.session_s = time.perf_counter() - t
    master = spark.sparkContext.master
    if master != f"local[{cores}]" or cores > stamp["nproc"]:
        stop_jvm()
        print(f"refusing to run: session master is {master}, nproc is {stamp['nproc']}",
              file=sys.stderr)
        return 3
    t = time.perf_counter()
    wl.prepare(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t
    tracer.reset(spark.sparkContext)
    wl.op(spark, "w0", 0)
    setup_s = process_age_s()
    for i in range(SETTLE_OPS):
        wl.op(spark, f"s{i}", i + 1)
    if args.trace:
        # One more operation with every memo empty: it pays the memo
        # builds but not the JVM's first runs.
        memo.clear_memos()
        tracer.reset(spark.sparkContext)
        wl.op(spark, "w0", 0)
    run.memo_entries = sum(len(cache) for cache in memo._REGISTRY)
    # After a fixed amount of work, so it does not depend on how many
    # operations the host's speed lets into the window.
    heap_mb, nonheap_mb = procstat.jvm_footprint_mb(spark)

    errors: dict[str, str] = {}
    pids = procstat.tree()
    cpu0 = procstat.cpu_seconds(pids)
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < args.seconds:
        op = f"m{i}"
        t = time.perf_counter()
        try:
            wl.op(spark, op, i)
        except Exception as e:  # an operation that raises is counted failed
            errors[op] = f"{type(e).__name__}: {str(e)[:300]}"
        run.latencies[op] = time.perf_counter() - t
        i += 1
    window = time.perf_counter() - t0
    pids = procstat.tree()
    run.cpu_s = procstat.cpu_seconds(pids) - cpu0
    python_mb = procstat.python_peak_rss_mb(pids)

    run.kinds = dict(wl.kinds)
    ok_ops = [op for op in run.latencies if op not in errors]
    t = time.perf_counter()
    bad = wl.check(spark, ok_ops)
    check_s = time.perf_counter() - t
    for op in bad:
        errors[op] = "output differs from the oracle"
    for op in ok_ops:
        run.columns[op] = wl.columns(op)
        run.csv_bytes[op] = wl.csv_bytes(op)
    if args.trace:
        run.counts = tracer.counts()
        run.spans = tracer.spans
    app_id = spark.sparkContext.applicationId
    stop_jvm()
    stamp["load_after"] = os.getloadavg()

    n = len(run.latencies)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(run.latencies.values()),
        "ops_per_s": n / window,
        "footprint_mb": heap_mb + nonheap_mb + python_mb,
    }
    print(json.dumps({"posture": stamp}))
    for op, why in errors.items():
        print(f"failed {op} ({run.kinds.get(op)}): {why}")
    print(f"{args.workload}: {n} operations in {window:.2f} s; set-up {setup_s:.2f} s (registry "
          f"{run.registry_s:.2f} s, session {run.session_s:.2f} s, inputs {gen_s:.2f} s); "
          f"checks {check_s:.2f} s; footprint: JVM heap {heap_mb:.1f} MB, non-heap "
          f"{nonheap_mb:.1f} MB, Python {python_mb:.1f} MB")
    print("  latencies: " + " ".join(f"{s:.3f}" for s in run.latencies.values()))
    for name, unit in END_TO_END:
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    print(f"  fail_ratio = {len(errors) / n:.6g} ratio")
    print(f"  cpu_s_per_op = {run.cpu_s / n:.6g} s")
    metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    if args.trace:
        from . import eventlog

        run.groups = eventlog.read(eventlog.find_log(os.path.join(work, "eventlog"), app_id))
        per_layer = layers.compute(run)
        for name, unit in layers.PER_LAYER:
            print(f"  {name} = {per_layer[name]:.6g} {unit}")
        metrics = {name: {"value": per_layer[name], "unit": unit} for name, unit in layers.PER_LAYER}
        _write_trace(args, stamp, run, e2e, per_layer, errors)
    print(json.dumps({"correct": not errors, "attempted": n, "failed": len(errors),
                      "metrics": metrics}))
    return 0


def _write_trace(args, stamp, run: Run, e2e, per_layer, errors) -> None:
    detail = []
    for s in run.spans:
        g = run.groups.get(s.group)
        detail.append({
            "op": s.op, "layer": s.layer, "kind": run.kinds.get(s.op), "start": s.start, "end": s.end,
            **run.counts.get(s.group, {}),
            **({"task_cpu_s": g.task_cpu_s, "gc_s": g.gc_s, "input_bytes": g.input_bytes,
                "shuffle_bytes": g.shuffle_bytes, "busy_s": g.busy_s()} if g else {}),
        })
    path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "posture": stamp, "end_to_end": e2e, "per_layer": per_layer,
                   "errors": errors, "spans": detail}, f, indent=1)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
