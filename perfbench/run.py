"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Starts one Spark session at
local[<cores>] in this process, sets the workload up, runs its closed loop in whole steps (crawl epochs,
passes over the queries) until ``--seconds`` have passed — at least
one step — checks its output (untimed), and prints every metric by
name and unit, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also runs
the loop untraced and then traced, and reports the per-layer metrics,
including the tracing overhead. Everything the run writes goes under
``.bench_work/`` in the checkout; spans of a traced run are kept in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from procstat import alive, cpu_seconds, descendants, hwm_mb, jvm_pid
from tracing import END_TO_END, PER_LAYER, per_layer_metrics
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("scrapetition_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py")
DRIVER_MEMORY = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    the checkout, and let Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # a fixed-size heap: G1 then never resizes it, so peak RSS tracks
    # what the run touches rather than when the collector grew the heap
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while any(alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.2)
    for p in procs:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in procs:  # reap our own children
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the program "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    _environment(work)
    from scrapetition_spark.session import get_spark

    cores = _cores()
    t, cpu = time.perf_counter(), cpu_seconds(os.getpid())
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    session = {"wall": time.perf_counter() - t, "cpu": cpu_seconds(os.getpid()) - cpu}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        res = WORKLOADS[args.workload](
            spark, args.seed, args.seconds, work, bool(args.trace))
        res.metrics["setup_s"] += session["cpu"]
        res.metrics["wall.setup_s"] += session["wall"]
        res.metrics["peak_rss_mb"] = hwm_mb(os.getpid()) + hwm_mb(jvm_pid(spark))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = min(res.attempted, len(res.problems))
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"shuffle_partitions {cores} driver_memory {DRIVER_MEMORY} "
          f"catalog_device {_device(work_root)}")
    for key, value in res.info.items():
        print(f"info {key} {value}")
    for p in res.problems:
        print(f"check failed: {p}")
    units = {n: u for n, u, _ in END_TO_END + PER_LAYER}
    print(f"metric failed_frac {failed / max(1, res.attempted):.4f} ratio")
    for name, value in res.metrics.items():
        print(f"metric {name} {value:.4f} {units[name]}")

    if args.trace:
        wall = {k: v for k, v in res.metrics.items() if k.startswith("wall.")}
        metrics = per_layer_metrics(
            {**res.layers, **wall, "session.start_s": session["wall"]})
        res.tracer.dump(os.path.join(
            work_root, "traces", f"{args.workload}-seed{args.seed}.json"))
        for name, value in metrics.items():
            print(f"layer {name} {value:.6g} {units[name]}")
    else:
        metrics = {n: res.metrics[n] for n, _, _ in END_TO_END}
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


def _device(path: str) -> str:
    """Filesystem and device backing ``path``, from /proc/mounts."""
    path = os.path.realpath(path)
    best = ("?", "?", "")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[2]):
                best = (dev, fstype, mnt)
    return f"{best[0]}:{best[1]}"


if __name__ == "__main__":
    sys.exit(main())
