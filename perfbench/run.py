#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds seeded inputs, starts the engine on ``local[nproc]`` in this one
client process, warms it, then runs the workload's operation in a
closed loop (one client, no think time) until ``--seconds`` of
operations, and at least ``MIN_OPS`` operations, are measured. Every
operation's output is checked outside the clock. The last stdout line
is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the run measures the same way,
then restarts the Spark context with an uncompressed event log, wraps
the engine's layer functions in spans and reports the per-layer
metrics. A line before the result records the run's context: nproc,
load average, a calibration probe, quartiles and sample counts.

All files go under ``.perfbench-work/`` in the checkout, which is
emptied before and after every run; span dumps of traced runs are kept
in ``.perfbench-trace/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.time()
ROOT = os.getcwd()
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procstat, trace  # noqa: E402  (needs ROOT on the path)

WORK = os.path.join(ROOT, ".perfbench-work")
TRACE_OUT = os.path.join(ROOT, ".perfbench-trace")
MIN_FREE_BYTES = 3 << 30
DEADLINE_S = 150  # the whole run must end well inside 180 s
MIN_OPS = 2


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return [q1, q2, q3]


def calibration_s() -> float:
    """A fixed single-core probe, the median of five tries; a loaded
    or slower host reads higher. ``perfbench/sets.py compare`` uses it
    to tell host drift from a change of the program."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = b"perfbench"
        for _ in range(50_000):
            h = hashlib.sha256(h).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def load_avg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(cores: int) -> None:
    """Scratch dirs inside the checkout, and the core count pinned
    before the engine's session module reads it."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"perfbench: only {free >> 20} MiB free in {ROOT}")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the launcher's too: temp files in the work dir, no
    # perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def session_conf(event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Measured:
    """Timed operations of one phase."""

    def __init__(self):
        self.ops: list[tuple[int, float, float]] = []  # (op id, start, end)
        self.run_s: list[float] = []
        self.cpu_s: list[float] = []
        self.rss_each: list[int] = []  # peak RSS of the tree during each op
        self.gc_s: list[float] = []  # the forced collection closing each op
        self.failed = 0
        self.problems: list[str] = []


def measure(spark, wl, tracer, seconds: float) -> Measured:
    from perfbench import workloads

    out = Measured()
    sampler = procstat.PeakRss()
    try:
        op_id = 1
        while True:
            wl.reset(spark)
            tracer.op = op_id
            pids = procstat.tree_pids()
            cpu0 = procstat.tree_cpu_s(pids)
            sampler.arm()
            t0 = time.time()
            try:
                with tracer.span("bench.op"):
                    wl.op(spark)
                ok = True
            except Exception:  # noqa: BLE001 - a failed operation is a result
                ok = False
                out.problems.append(traceback.format_exc(limit=3))
            t_gc = time.time()
            workloads.collect_garbage(spark)
            t1 = time.time()
            out.gc_s.append(t1 - t_gc)
            out.rss_each.append(sampler.disarm())
            out.cpu_s.append(procstat.tree_cpu_s() - cpu0)
            out.run_s.append(t1 - t0)
            out.ops.append((op_id, t0, t1))
            problems = wl.check() if ok else []
            out.problems += problems
            out.failed += int(not ok or bool(problems))
            op_id += 1
            # at least MIN_OPS: a run whose first op alone fills the
            # window would report that op, the least warm one
            enough = sum(out.run_s) >= seconds and len(out.run_s) >= MIN_OPS
            if enough or time.time() - T_START + (t1 - t0) * 1.5 > DEADLINE_S:
                break
    finally:
        sampler.close()
    return out


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
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
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 5
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    cores = nproc()
    prepare_environment(cores)
    load_start = load_avg()

    from perfbench import workloads

    from etl_python_azure_spark import session

    t_gen = time.time()
    import_s = t_gen - T_START
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.scale, cores,
                                             trace.NullTracer())
    wl.generate()
    gen_s = time.time() - t_gen

    spark = None
    try:
        t0 = time.time()
        spark = session.get_spark("perfbench", extra_conf=session_conf(None))
        get_spark_s = time.time() - t0
        spark.range(1000).selectExpr("sum(id)").collect()
        first_job_s = time.time() - t0

        t0 = time.time()
        wl.prepare(spark)
        gen_s += time.time() - t0

        warm_problems = wl.warm(spark)
        # set-up ends with the first warm operation; the further warm
        # operations only settle the JIT before the clock
        setup_s = import_s + first_job_s + wl.warm_op_s[0]

        calib = calibration_s()
        base = measure(spark, wl, wl.tr, args.seconds)
        rows, size = wl.output_rows_and_bytes()
        failed = base.failed
        if warm_problems and not wl.pipeline:
            failed = len(base.run_s)  # the mix's checked pass failed: no op is correct
        info = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "nproc": cores, "loadavg_start": load_start, "calibration_s": calib,
            "gen_s": gen_s, "get_spark_s": get_spark_s, "first_job_s": first_job_s,
            "warm_op_s": wl.warm_op_s,
            "ops": len(base.run_s), "run_s_each": base.run_s,
            "gc_s_each": base.gc_s,
            "rss_mb_each": [r / 2**20 for r in base.rss_each],
            # the peak over the timed region; the gated figure is the
            # median of the per-op peaks
            "rss_mb_region_peak": max(base.rss_each) / 2**20,
            "run_s_q1_q2_q3": quartiles(base.run_s),
            "cpu_s_q1_q2_q3": quartiles(base.cpu_s),
            # reported, not gated: both read 0 on some workloads
            "fail_ratio": {"value": failed / len(base.run_s), "unit": "ratio"},
            "stored_bytes_per_row": {"value": size / rows if rows else None,
                                     "unit": "bytes/row"},
            "problems": (warm_problems + base.problems)[:5],
        }
        attempted = len(base.run_s)
        if args.trace:
            metrics, traced = traced_run(args, spark, wl, base, cores, get_spark_s,
                                         size / rows if rows else 0.0)
            attempted += len(traced.run_s)
            failed += traced.failed
            info["problems"] += traced.problems[:5]
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "run_s": {"value": statistics.median(base.run_s), "unit": "s"},
                "cpu_s": {"value": statistics.median(base.cpu_s), "unit": "s"},
                "peak_rss_mb": {"value": statistics.median(base.rss_each) / 2**20,
                                "unit": "MB"},
            }
    finally:
        if spark is not None:
            stop_spark(spark)
    info["loadavg_end"] = load_avg()
    info["wall_s"] = time.time() - T_START
    print(json.dumps({"perfbench": info}), flush=True)
    return {
        "correct": failed == 0 and not warm_problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def traced_run(args, spark, wl, base: Measured, cores: int, get_spark_s: float,
               stored_bytes_per_row: float) -> tuple[dict, Measured]:
    """Restart the context with the event log on, run the same
    operations inside spans, and fold the log into per-layer metrics."""
    from perfbench import workloads

    from etl_python_azure_spark import session

    spark.stop()
    ev_dir = os.path.join(WORK, "eventlog")
    spark = session.get_spark("perfbench-traced", extra_conf=session_conf(ev_dir))
    tracer = trace.Tracer(spark.sparkContext)
    wl.tr = tracer
    tracer.install(workloads.LAYER_FUNCTIONS, "etl_python_azure_spark")
    try:
        # the new context starts new Python workers: one untimed op
        # first, so the overhead compares warm with warm
        tracer.op = 0
        wl.reset(spark)
        wl.op(spark)
        workloads.collect_garbage(spark)
        wl.enable_counters(spark.sparkContext)
        traced = measure(spark, wl, tracer, args.seconds)
    finally:
        tracer.uninstall()
        stop_spark(spark)  # also flushes and closes the event log
    os.makedirs(TRACE_OUT, exist_ok=True)
    tracer.dump(os.path.join(TRACE_OUT, f"{args.workload}-seed{args.seed}.json"))

    # the declared mix's queries always; an undeclared mix adds its own
    queries = list(dict.fromkeys(workloads.RELATIONAL + wl.queries))
    names = trace.per_layer_names(queries)
    log = trace.fold_event_log(glob.glob(os.path.join(ev_dir, "*"))[0])
    fold = trace.Fold(tracer.spans, log, traced.ops, cores)
    values = dict.fromkeys(names, 0.0)
    values.update(fold.metrics())
    values.update(fold.query_metrics(queries))
    values.update(wl.counters(len(traced.run_s)))
    values.update({
        "session.get_spark_s": get_spark_s,
        "sinks.stored_bytes_per_row": stored_bytes_per_row,
        "trace.overhead_s": statistics.median(traced.run_s) - statistics.median(base.run_s),
    })
    metrics = {name: {"value": values[name], "unit": trace.unit_of(name)} for name in names}
    return metrics, traced


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier; the self-tests use a tiny scale")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_python_azure_spark")):
        print("perfbench: run from the root of a checkout that holds the "
              "etl_python_azure_spark package", file=sys.stderr)
        return 2
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
