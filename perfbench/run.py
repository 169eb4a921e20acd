#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload audience_interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (untimed), starts the engine's SparkSession on local[<cores>],
warms it up (``setup_s``), runs operations back to back in one closed
loop for about ``--seconds`` (a fixed operation count, see ``measure``),
checks every output (untimed)
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate run with spans and the Spark event log on).
Everything the run writes goes under ``.perfbench_work/`` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

# deployment settings, the only engine settings the benchmark fixes
DRIVER_MEM = "3g"  # JVM heap for driver+executors (local mode); host has 15 GB


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(workdir: str, trace: bool) -> None:
    """Deployment env vars, set before the JVM starts. No Spark conf is
    overridden except the event log, which only the traced run enables."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = tmp
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


def live_heap_mb(spark, rounds: int = 4) -> float:
    """Used JVM heap after a forced full collection, the least of ``rounds``
    tries (driver and executors share the one JVM in local mode). The
    pauses let the ContextCleaner release what the previous collection
    found unreachable (broadcasts, shuffle state), so the reading
    converges on what the session really retains."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.5)
    return min(used)


def measure(wl, spark, tracer, seconds: float) -> list[float]:
    """Closed loop: the next operation starts when the previous one ends.

    The run length is a fixed operation count, ``seconds`` divided by the
    workload's nominal operation time (at least one), so that a faster and a
    slower commit do the same work on the same seed and sit at the same
    point of the JVM's warm-up curve. On a 4-core host the operations take
    about ``seconds``."""
    n_ops = max(1, round(seconds / wl.nominal_op_s))
    return [wl.op(spark, tracer, i) for i in range(n_ops)]


def run(args) -> dict:
    from audience_finder_pro_spark.session import get_spark

    import metrics
    from spans import NULL_TRACER, Tracer, event_log_files, fold_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    root = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=root)
    spark = None
    try:
        configure_env(workdir, bool(args.trace))
        wl = WORKLOADS[args.workload](args.seed, workdir)  # input generation, untimed
        load_start = os.getloadavg()[0]

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_spark = time.perf_counter() - t0
        tracer = Tracer(spark) if args.trace else NULL_TRACER
        wl.run_warmup(spark, tracer)
        setup_s = time.perf_counter() - t0

        op_s = measure(wl, spark, tracer, args.seconds)
        heap = live_heap_mb(spark)
        attempted, failed = wl.check(spark)
        load_end = os.getloadavg()[0]
        print(
            f"\n# {args.workload} seed={args.seed} load1 {load_start:.2f}->{load_end:.2f}"
            f" setup_s={setup_s:.2f} op_s={[round(x, 2) for x in op_s]}",
            file=sys.stderr,
        )
        e2e = metrics.end_to_end(setup_s, op_s, heap)
        if not args.trace:
            values = e2e
        else:
            spark.stop()  # flushes the event log
            spark = None
            fold_event_log(event_log_files(os.path.join(workdir, "eventlog")), tracer.spans)
            extra = {
                "session.get_spark.s": t_spark,
                "session.warmup.s": setup_s - t_spark,
                "host.load1_start": load_start,
                "host.load1_end": load_end,
                "trace.op_p50_s": e2e["op_p50_s"],
                "trace.ops_per_s": e2e["ops_per_s"],
            }
            extra.update(wl.counts())
            values = metrics.per_layer(tracer.spans, extra)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import audience_finder_pro_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {os.getcwd()}: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # the benchmark's modules, then the engine package in the checkout root
    sys.path[:1] = [os.path.dirname(os.path.abspath(__file__)), os.getcwd()]
    sys.exit(main())
