#!/usr/bin/env python3
"""Benchmark of the LMS/ERP engine: nightly sync and query workloads.

    python3 perfbench/run.py --workload sync_nightly --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is one process with one
closed-loop client: the next operation starts only when the previous
one has finished. Inputs are generated from ``--seed`` into a private
work directory under ``perfbench/_work`` (removed at exit); every
operation's output is checked outside the timed region. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "lms_erp_data_integration_spark"
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# ------------------------------------------------------------ environment
def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 8.0


def pin_environment(work: str) -> dict[str, str]:
    """Deployment settings every run uses, set before the JVM starts:
    every CPU this process may use, a driver heap sized to the memory,
    Spark's scratch space inside the work directory, and the repository
    root on the Python workers' path (so the run does not depend on the
    working directory)."""
    cpus = len(os.sched_getaffinity(0))
    mem_g = int(max(2, min(8, _mem_total_gib() // 4)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_g}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in path if p != ROOT]),
    }
    os.environ.update(settings)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return settings


def spark_conf(work: str, event_dir: str | None) -> dict[str, str]:
    """Session settings that keep Spark's own files (warehouse, JVM
    temp files, no hsperfdata) inside the work directory, plus the
    uncompressed event log of a traced session."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


# ------------------------------------------------------------ peak memory
def _hwm_mib(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def peak_rss_mib() -> dict[str, float]:
    """Peak resident memory so far of this Python driver and of its JVM
    child, as the kernel tracks it (no sampling gaps)."""
    from pyspark import SparkContext

    py = _hwm_mib(os.getpid())
    jvm = _hwm_mib(SparkContext._gateway.proc.pid)
    return {"total": py + jvm, "python": py, "jvm": jvm}


# ------------------------------------------------------------ session
def build_session(work: str, event_dir: str | None = None):
    """Import the engine, build its session and run the session
    warm-up. Returns (spark, seconds in get_spark)."""
    from lms_erp_data_integration_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, event_dir))
    get_spark_s = time.perf_counter() - t0
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, get_spark_s


def stop_spark() -> None:
    """Stop the active session, if any, and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        for q in list(spark.streams.active):
            with contextlib.suppress(Exception):
                q.stop()
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ main
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    # Anything the JVM, the Python workers or the engine print goes to
    # stderr; only the benchmark's own report lines reach stdout.
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work, out, t_start)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.join(HERE, "_work"))


def run(args, work: str, out, t_start: float) -> int:
    wl = WORKLOADS[args.workload]
    settings = pin_environment(work)
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    inputs = wl.make_inputs(args.seed, os.path.join(work, "data"))
    phase("inputs")
    spark, get_spark_s = build_session(work)
    phase("setup")
    setup_s = phases["setup"]

    budget = args.seconds / 2 if args.trace else args.seconds
    results = [wl.warm_up(spark, inputs)]
    phase("warm_up")
    untraced = wl.measure(spark, inputs, budget)
    phase("measure")
    results.append(untraced)
    peak_mib = peak_rss_mib()

    if args.trace:
        # The traced half runs in a fresh session that writes an event
        # log, with the layer wrappers and a streaming listener on.
        from layers import Tracer, batch_listener, trace_layers

        # same JVM: its JIT and codegen caches stay warm for both halves
        spark.stop()
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
        spark, _ = build_session(work, event_dir)
        results.append(wl.warm_up(spark, inputs, passes=1))
        tracer, listener = Tracer(), batch_listener()
        tracer.install()
        spark.streams.addListener(listener)
        traced = wl.measure(spark, inputs, budget, tracer)
        tracer.restore()
        results.append(traced)
        phase("traced")
    stop_spark()
    phase("stop")

    failures = [f for r in results for f in r.failures]
    attempted = sum(r.attempted for r in results)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "settings": {k: v for k, v in settings.items() if k != "TMPDIR"},
        "passes": len(untraced.pass_s),
        "ops": len(untraced.op_s),
        "error_rate": len(failures) / attempted,
        "failures": failures[:20],
        "phases_s": phases,
        "pass_s_all": untraced.pass_s,
        # not an end-to-end metric: too unsteady to gate (README.md)
        "peak_rss_mb": peak_mib,
    }
    try:
        summary["op_p90_s"] = stats.percentile(untraced.op_s, 90)
        summary["op_p90_samples"] = len(untraced.op_s)
    except stats.TooFewSamples as e:
        summary["op_p90_s"] = f"not reported: {e}"

    if args.trace:
        metrics = trace_layers(traced, event_dir, listener.batches)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.overhead_s"] = (
            statistics.median(traced.pass_s) - statistics.median(untraced.pass_s)
        )
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(untraced.pass_s),
            "op_p50_s": statistics.median(untraced.op_s),
        }
        units = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}
    summary["metrics"] = {k: f"{v:.6g} {units[k]}" for k, v in metrics.items()}
    summary["run_s"] = time.perf_counter() - t_start
    print("summary " + json.dumps(summary), file=out)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }), file=out)
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_overlap", "_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
