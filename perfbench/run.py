#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_runs/`` in the repository and removed at the end;
the engine reads only those files. The timed loop runs for
``--seconds``. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` wraps the calls into each engine layer and reports the per-layer
metrics instead (spans are kept in ``.perfbench_runs/spans/``).

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the line before it stamps the host. The exit code is 0 only when every
answer was right.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def engine_cores(nproc: int) -> int:
    """Cores handed to the engine (local[N]): half the host's.

    Measured on a 4-core host, three fresh processes per setting, median
    of 15 passes each: with all 4 cores the 10 serve-tier queries' geomean
    read 80.3 / 74.6 / 88.5 ms (18% spread) and the 6 raw-recompute
    queries' 192.8 / 170.2 / 210.2 ms (21%); with 2 cores 82.6 / 82.9 /
    82.6 ms (<1%) and 195.1 / 198.8 / 193.9 ms (2.5%), at the same
    medians. The other half is headroom for the Python process, the JVM's
    JIT and GC threads and the host, whose contention made the spread."""
    return max(1, nproc // 2)


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _jvm_stats(pid: int) -> tuple[float, float]:
    """(CPU seconds, peak RSS MB) of the engine's JVM."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    rss = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                rss = int(line.split()[1]) / 1024.0
    return cpu, rss


def _env(work: str, cores: int) -> None:
    """Process settings the engine reads at session start. PYTHONPATH is
    set here because Spark's Python workers inherit it: without the repo
    root on it, a UDF that imports the engine (the documents layout's,
    for one) fails in the worker with ModuleNotFoundError when the
    command runs from another directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def _spark(work: str):
    from nerd_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _job_floor_ms(spark, n: int = 21) -> float:
    """Median wall of a no-op one-task job: the launch cost every
    query job pays."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    cores = engine_cores(nproc)
    runs = os.path.join(ROOT, ".perfbench_runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work, cores)
    try:  # the engine, and the oracle helper beside it in the repo
        import bench_duckdb  # noqa: F401
        import nerd_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import inputs
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    host = {
        "nproc": nproc,
        "engine_cores": cores,
        "loadavg_start": list(os.getloadavg()),
    }
    steal0 = _steal_ticks()
    gen = os.path.join(work, "gen")
    inputs.write_tables(gen, args.seed)
    # the oracle answers are computed while the JVM starts
    pool = ThreadPoolExecutor(max_workers=1)
    expected = pool.submit(
        workloads.oracle_answers, gen, workloads.CHECKED_UPFRONT[args.workload]
    )
    spark = _spark(work)
    try:
        spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
        workloads.log("session up")
        try:
            answers = expected.result()
        finally:
            pool.shutdown()
        workloads.log("oracle answers ready")
        run_id = f"{args.workload}-{args.seed}-{'traced' if args.trace else 'untraced'}"
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        tracer.install()
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
        run.expected = answers
        t0 = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        wall = time.perf_counter() - t0
        tracer.uninstall()
        if args.trace:
            metrics = run.per_layer()
            metrics["trace.overhead_frac"] = tracer.overhead_s / wall
            metrics["session.job_floor_ms"] = _job_floor_ms(spark)
            metrics["session.persistent_rdds_end"] = float(
                len(spark.sparkContext._jsc.getPersistentRDDs())
            )
            from pyspark import SparkContext

            cpu, rss = _jvm_stats(SparkContext._gateway.proc.pid)
            metrics["session.jvm_cpu_s"] = cpu
            metrics["session.jvm_rss_peak_mb"] = rss
            units = workloads.layer_metrics()
            tracer.dump(os.path.join(runs, "spans", f"{run_id}.json"))
        else:
            metrics = run.end_to_end()
            units = workloads.END_TO_END
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    workloads.log("stopped")
    host["steal_ticks"] = _steal_ticks() - steal0
    host["loadavg_end"] = list(os.getloadavg())
    bad = [k for k in metrics if not NAME_RE.fullmatch(k)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]+: {bad}")
    correct = run.failed == 0
    print(json.dumps({"host": host}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
