#!/usr/bin/env python3
"""Benchmark of the vrtility_spark engine: one command, two workloads.

    python3 perfbench/run.py --workload composite --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[<nproc>]`` from this driver process,
checks its outputs and prints every metric with its unit on stderr,
then the result as one JSON line on stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` first runs the workload untraced,
then restarts the session with Spark's event log on and reruns it with
layer spans, each for half the run, and reports the per-layer metrics
and the tracing overhead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")   # wiped at every run
OUT = os.path.join(ROOT, ".perfbench_out")     # traces kept after the run


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("composite", "spatial_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def total_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2 ** 20
    return 8.0


def fit_environment(cores: int) -> dict:
    """Size the session to this machine and keep every file it writes
    inside the checkout. The same settings apply on both sides of any
    comparison, since they derive only from the machine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    driver_gb = max(1, min(2, int(total_memory_gb() // 5)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "MALLOC_ARENA_MAX": "2",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::RuntimeWarning",
    })
    tempfile.tempdir = tmp
    return {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(cores: int, conf: dict):
    """``session.get_spark`` plus one job that spawns a Python worker
    per core; returns the session and its start/ship/warm seconds."""
    from vrtility_spark import session
    shipped = []
    ship = session.ship_package

    def timed_ship(spark):
        t = time.perf_counter()
        ship(spark)
        shipped.append(time.perf_counter() - t)

    session.ship_package = timed_ship
    t0 = time.perf_counter()
    try:
        spark = session.get_spark("perfbench", cores=cores,
                                  shuffle_partitions=2 * cores,
                                  extra_conf=conf)
    finally:
        session.ship_package = ship
    t1 = time.perf_counter()

    def warm(batches):
        import vrtility_spark.composite  # noqa: F401 - what UDFs import
        yield from batches

    (spark.range(0, cores, 1, cores).mapInPandas(warm, "id long")
     .write.mode("overwrite").format("noop").save())
    t2 = time.perf_counter()
    ship_s = shipped[0] if shipped else 0.0
    return spark, {"start": t1 - t0 - ship_s, "ship": ship_s,
                   "warm": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("vrtility_spark/session.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/",
                  file=sys.stderr)
            return 2
    shutil.rmtree(WORK, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    conf = fit_environment(cores)
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads

    if args.trace:
        logs = os.path.join(WORK, "eventlog")
        os.makedirs(logs)
        conf_traced = dict(conf, **{"spark.eventLog.enabled": "true",
                                    "spark.eventLog.dir": "file://" + logs,
                                    "spark.eventLog.compress": "false",
                                    "spark.eventLog.rolling.enabled":
                                        "false"})
    oracle = workloads.load_oracle(ROOT)
    outcomes = harness.Outcomes()
    run_workload = workloads.WORKLOADS[args.workload]

    def context(spark, tracer, seconds=args.seconds, **kw):
        return workloads.Context(spark, args.seed, seconds, cores,
                                 tracer, outcomes, WORK, oracle, **kw)

    spark = None
    try:
        # the one set-up setup_s reports starts a fresh JVM, so settings
        # that only apply at JVM launch count in it
        spark, cold = start_session(cores, conf)
        setups = [cold]
        untraced = None
        if args.trace:
            # the untraced baseline of the tracing overhead, then a
            # restart with the event log on; each gets half the run
            half = dict(seconds=args.seconds / 2, min_passes=3)
            untraced = run_workload(
                context(spark, harness.Tracer(enabled=False), **half))
            spark.stop()
            spark, parts = start_session(cores, conf_traced)
            setups.append(parts)
        for i, parts in enumerate(setups):
            print(f"[perfbench] set-up {i}: " + ", ".join(
                f"{k} {v:.2f}s" for k, v in parts.items()), file=sys.stderr)
        from pyspark import SparkContext
        tracer = harness.Tracer(enabled=bool(args.trace))
        ctx = context(spark, tracer, **(half if args.trace else {}))
        with harness.TreePeak(SparkContext._gateway.proc.pid) as peak:
            res = run_workload(ctx)
        ctx.log(f"workload done, peak RSS {peak.peak_mb:.0f} MB")
    finally:
        stop_session(spark)

    wall_s = res.wall_s
    if not args.trace:
        cpu_s = res.cpu_s
        metrics = {
            "setup_s": metric(sum(cold.values()), "s"),
            "cpu_s": metric(cpu_s, "s"),
            "scenes_per_cpu_s": metric(res.inputs_per_pass / cpu_s, "1/s"),
            "query_cpu_s": metric(cpu_s / len(res.pass_ops[0]), "s"),
            "peak_rss_mb": metric(peak.peak_mb, "MB"),
        }
        print(f"(wall time of a pass {wall_s:.3f} s, "
              f"{res.inputs_per_pass / wall_s:.1f} scenes/s)",
              file=sys.stderr)
    else:
        restart = setups[-1]
        # a layer that does no work on this workload reports 0
        layers = {m["name"]: (0.0, m["unit"])
                  for m in harness.per_layer_metrics(ROOT)}
        layers.update({
            "session.cold_start_s": (cold["start"], "s"),
            "session.start_s": (restart["start"], "s"),
            "session.ship_s": (restart["ship"], "s"),
            "session.worker_warm_s": (restart["warm"], "s"),
        })
        layers.update(res.layers)
        t0, t1 = res.window
        with open(harness.event_log_file(logs)) as f:
            agg = harness.aggregate_event_log(f, t0 * 1e3, t1 * 1e3)
        layers.update(harness.spark_layer_metrics(
            agg, t1 - t0, cores, len(res.op_s)))
        base = untraced.wall_s
        layers["trace.untraced_wall_s"] = (base, "s")
        layers["trace.wall_s"] = (wall_s, "s")
        layers["trace.overhead_s"] = (wall_s - base, "s")
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(
            OUT, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path)
        metrics = {k: metric(v, u) for k, (v, u) in sorted(layers.items())}

    for name, m in metrics.items():
        print(f"{name:38s} {m['value']:14.6g} {m['unit']}", file=sys.stderr)
    print(f"{'failed_frac':38s} {outcomes.failed_frac:14.6g} fraction "
          f"({outcomes.failed} of {outcomes.attempted} operations)",
          file=sys.stderr)
    top = harness.supported_percentile(len(res.op_s))
    print(f"{len(res.op_s)} timed operations in {len(res.pass_ops)} passes; "
          f"highest percentile with ten beyond it: "
          f"{'none' if top is None else f'p{top}'}", file=sys.stderr)
    for e in outcomes.errors[:10]:
        print(f"FAILED {e}", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": outcomes.failed == 0,
                      "attempted": outcomes.attempted,
                      "failed": outcomes.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
