#!/usr/bin/env python3
"""Benchmark of the addressit_spark entity-resolution engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Workloads: ``er_batch`` (run_pipeline with a checkpoint directory),
``parse_only`` (parse_spans over repeated texts) and ``er_incremental``
(incremental_er micro-batches against a snapshot). ``--workload all`` runs
the three in turn in separate processes. With ``--trace 0`` the last line
of standard output is one JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics instead. See
``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("er_batch", "parse_only", "er_incremental")
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "quality": "ratio",
    "success_rate": "ratio",
    "peak_pss_mb": "MB",
}


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _run_all(args: argparse.Namespace) -> int:
    """One command for all three workloads: a child process each."""
    code = 0
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": name, "exit": proc.returncode,
                          "result": json.loads(lines[-1]) if lines else None}))
        code = code or proc.returncode
    return code


def _session_env(work: str, cores: int, event_log: str) -> None:
    """Keep every file the engine writes inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers import addressit_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Xms%s -Djava.io.tmpdir=%s" % (DRIVER_MEMORY, tmp),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        ["--driver-memory", DRIVER_MEMORY]
        + ["--conf " + shlex.quote("%s=%s" % kv) for kv in conf.items()]
        + ["pyspark-shell"]
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit once the JVM is gone; give them 30 s
    deadline = time.monotonic() + 30
    alive = tree
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists("/proc/%d" % p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _run_workload(args: argparse.Namespace, cores: int, work: str):
    """Set up, run and check one workload; the session ends here either way."""
    from addressit_spark.session import get_spark

    from perfbench import inputs, workloads
    from perfbench.tracing import Tracer

    spark = get_spark(
        master="local[%d]" % cores, app_name="perfbench-" + args.workload,
        driver_memory=DRIVER_MEMORY,
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            work=work, jvm_pid=spark.sparkContext._gateway.proc.pid, t_start=T0,
            tracer=Tracer("%s-%d" % (args.workload, args.seed)),
        )
        ctx.log("session started")
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.monotonic()
            ctx.inputs = inputs.GENERATORS[args.workload](
                spark, args.seed, ctx.path("input-%d" % rep)
            )
            setup.append(time.monotonic() - t0)
        ctx.e2e["setup_s"] = statistics.median(setup)
        ctx.log("set-up done: %s" % ", ".join("%.2f" % t for t in setup))
        workloads.WORKLOADS[args.workload](ctx)
        return ctx
    finally:
        _stop_session(spark)


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "addressit_spark", "__init__.py")):
        print("addressit_spark is not in %s: nothing to benchmark" % ROOT, file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    sys.path.insert(0, ROOT)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        event_log = os.path.join(work, "eventlog") if args.trace else ""
        _session_env(work, cores, event_log)
        ctx = _run_workload(args, cores, work)
        from perfbench import workloads
        from perfbench.tracing import event_log_counters

        if args.trace:
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, "%s-%d.json" % (args.workload, args.seed)))
            ctx.layers.update(event_log_counters(event_log, *ctx.window))
            metrics = {k: {"value": ctx.layers.get(k, 0), "unit": u}
                       for k, u in workloads.LAYER_UNITS.items()}
        else:
            ctx.e2e["success_rate"] = 1.0 - ctx.failed / max(len(ctx.ops), 1)
            metrics = {k: {"value": ctx.e2e.get(k, 0.0), "unit": u}
                       for k, u in E2E_UNITS.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(len(ctx.ops), 1)  # no operation at all counts as one failed
    failed = ctx.failed if ctx.ops else 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
