#!/usr/bin/env python3
"""bmspark benchmark: one workload, one seed, one result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_batch --seed 0 --seconds 10 --trace 0

One closed-loop client calls a production entry point in-process on one
``local[<nproc>]`` session, operation after operation, until the timed
operations add up to ``--seconds`` (and at least the workload's minimum
count). Every operation's outputs are checked against values computed
without the program (``checks.py``); a failed check or an exception
counts as a failed operation.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` first makes the same untraced measurement, then restarts
the session with the Spark event log on, installs timing shims around
the program's public functions, repeats the measurement, runs the
workload's layer probes, and reports the per-layer metrics of
BENCHMARK.json, including the tracing overhead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full record (environment, sizes, per-op
times). Generated inputs are cached under ``.perfbench/cache`` and every
file the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: driver heap: fits a 4-core / 15 GB machine with room to spare at
#: these input sizes (bench.py's 16 GB is sized for local[32])
HEAP = "4g"
#: hash iterations of the effective-cores probe's fixed work (~1 s)
PROBE_WORK = 1_000_000


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    index: int
    wall: float
    cpu: float
    docs: int
    errors: list
    span: object


def environment(nproc: int) -> dict:
    """Machine facts recorded with every result. The effective-cores probe
    runs a fixed hashing load on 1 and on ``nproc`` processes."""
    from bench_scaling import effective_cores

    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) // 1024
    probe = effective_cores(total=PROBE_WORK, levels=(1, nproc))
    return {
        "nproc": nproc,
        "effective_cores": probe.get(f"effective_cores_at_{nproc}"),
        "cpu_probe_1proc_s": probe[1],
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "heap": HEAP,
        "python": platform.python_version(),
    }


def start_session(nproc: int, event_log: str | None = None):
    from bmspark.session import get_session

    confs = {
        "spark.driver.memory": HEAP,
        # JVM scratch files in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{event_log}",
        })
    spark = get_session("perfbench", master=f"local[{nproc}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait until the JVM has
    ended; ``procs.reap_all`` ends the Python workers it leaves behind."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def measure(wl, tracer, seconds: float) -> tuple[list[Op], int]:
    """Whole cycles of ``wl.cycle`` operations until their walls add up to
    ``seconds``; returns the ops and the peak RSS of the JVM and its
    Python workers since the JVM started."""
    import procs

    root = jvm_pid()
    ops: list[Op] = []
    busy = 0.0
    sc = wl.spark.sparkContext
    while wl.has_next(len(ops)) and (busy < seconds or len(ops) % wl.cycle):
        i = len(ops)
        sc.setJobGroup(f"{wl.name}.op{i}", f"perfbench {wl.name} operation {i}")
        cpu0 = procs.cpu_seconds(procs.tree(root))
        t0 = time.monotonic()
        with tracer.span("op") as span:
            try:
                docs, errors = wl.op(i), []
            except Exception as e:  # a failed operation is a result, not a crash
                docs, errors = 0, [f"{type(e).__name__}: {e}"]
        wall = time.monotonic() - t0
        cpu = procs.cpu_seconds(procs.tree(root)) - cpu0
        sc.setJobGroup("perfbench.check", "perfbench output check")
        busy += wall
        if not errors:
            try:
                errors = wl.check(i)
            except Exception as e:
                errors = [f"check raised {type(e).__name__}: {e}"]
        for err in errors:
            log(f"{wl.name} op {i} FAILED: {err}")
        ops.append(Op(i, wall, cpu, docs, errors, span))
    return ops, procs.peak_rss_bytes(procs.tree(root))


def end_to_end(setup_s: float, ops: list[Op], peak: int) -> dict:
    wall = sum(o.wall for o in ops)
    return {
        "setup_s": setup_s,
        "docs_per_s": sum(o.docs for o in ops) / wall,
        "op_p50_s": statistics.median(o.wall for o in ops),
        "cpu_s": sum(o.cpu for o in ops) / len(ops),
        "peak_rss_mb": peak / 2**20,
        "ok_ratio": sum(not o.errors for o in ops) / len(ops),
    }


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the benchmark's self-tests")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "bmspark")):
        log(f"no bmspark package in {ROOT}; run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # keep every file the run writes (and Spark's scratch) in the checkout
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from inputs import Cache
    from tracing import EventLog, Shims, Tracer
    from workloads import WORKLOADS

    timeline: dict[str, float] = {}
    clock = [time.monotonic()]

    def phase(name: str) -> float:
        """Seconds since the previous phase ended, recorded as ``name``."""
        now = time.monotonic()
        timeline[name] = now - clock[0]
        clock[0] = now
        return timeline[name]

    nproc = len(os.sched_getaffinity(0))
    env = environment(nproc)
    wl = WORKLOADS[args.workload](Cache(os.path.join(WORK, "cache"), log),
                                  WORK, args.seed, args.scale)
    phase("environment_probe_s")
    wl.generate()
    phase("input_generation_s")
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "scale": args.scale, "sizes": wl.sizes(), "env": env,
              "timeline": timeline}

    errors: list[str] = []
    try:
        wl.spark = start_session(nproc)
        setup_s = phase("session_s")
        wl.warm_up()
        setup_s += phase("warm_up_s")
        import pyspark

        record["env"].update(
            spark=pyspark.__version__,
            java=wl.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))
        tracer = Tracer()
        ops, peak = measure(wl, tracer, args.seconds)
        phase("measure_s")
        all_ops = list(ops)
        metrics = end_to_end(setup_s, ops, peak)
        record["ops"] = [{"wall": o.wall, "cpu": o.cpu, "docs": o.docs,
                          "errors": o.errors} for o in ops]
        if args.trace:
            untraced_p50 = metrics["op_p50_s"]
            event_log = os.path.join(WORK, "eventlog")
            shutil.rmtree(event_log, ignore_errors=True)
            wl.spark.stop()
            wl.spark = start_session(nproc, event_log)
            wl.warm_up()
            phase("traced_setup_s")
            tracer = Tracer()
            shims = Shims(tracer)
            wl.shim(shims)
            try:
                ops, _ = measure(wl, tracer, args.seconds)
                all_ops += ops
                wl.extra(tracer)
            finally:
                shims.restore()
            phase("traced_measure_s")
            stop_jvm()
            layers, errors = wl.layers(tracer, EventLog.read_dir(event_log), ops)
            phase("event_log_s")
            layers["trace.overhead_ratio"] = (
                statistics.median(o.wall for o in ops) / untraced_p50)
            record["layers"] = layers
            metrics = layers
    finally:
        stop_jvm()
    phase("teardown_s")

    failed = sum(bool(o.errors) for o in all_ops)
    for err in errors:
        log(f"{wl.name} traced layer check FAILED: {err}")
    key = "per_layer" if args.trace else "end_to_end"
    unknown = set(metrics) - {m["name"] for m in spec[key]}
    if unknown:
        log(f"metrics missing from BENCHMARK.json {key}: {sorted(unknown)}")
    result = {
        "correct": failed == 0 and not errors,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
                    for m in spec[key]},
    }
    record["result"] = result
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{wl.name}_s{args.seed}_t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "result"}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    import procs

    procs.become_subreaper()
    try:
        code = main()
    finally:
        procs.reap_all()
    sys.exit(code)
