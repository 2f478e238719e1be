"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 14 --trace 0

Run from the root of the repository. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, which holds the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1``. Everything else (each metric
by name with its unit, the host context, failed checks) goes to
standard error. Spans are written under ``.bench_build/perfbench/``;
see perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("batch", "reactive_txn")

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_s_p50": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "interest.replay_s": "s",
    "interest.jobs": "count",
    "rss.peak_mb": "MB",
    "build.s": "s",
    "build.driver_s": "s",
    "build.jobs_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.shuffle_bytes": "B",
    "build.executor_cpu_s": "s",
    "build.core_util": "ratio",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "txn.driver_s": "s",
    "txn.jobs_s": "s",
    "txn.jobs": "count",
    "txn.stages": "count",
    "txn.tasks": "count",
    "txn.shuffle_bytes": "B",
    "txn.executor_cpu_s": "s",
    "txn.diff_rows": "count",
    "txn.diff_rows_per_datom": "ratio",
    "read.parse_s": "s",
    "read.build_s": "s",
    "read.exec_s": "s",
    "read.jobs": "count",
    "query.s_tail": "s",
    "query.samples": "count",
    "txn.s_tail": "s",
    "txn.samples": "count",
    "txn_s_p50": "s",
    "datoms_per_s": "1/s",
    "ops_failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _peak_rss_mb(pids: list[int]) -> float:
    """Peak resident set (VmHWM) summed over the driver processes."""

    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat."""

    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _host(spark, probe: bool) -> dict:
    """Host context of a run; recorded beside the metrics, never one."""

    sc = spark.sparkContext
    ctx = {
        "cpu_times": _cpu_times(),
        "loadavg": list(os.getloadavg()),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    if probe:
        import bench

        ctx["host_speed_probe_s"] = bench.host_speed_probe(spark)
    return ctx


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _measure(args, spark, session_s: float, cores: int) -> dict:
    from perfbench import batch, reactive
    from perfbench.generator import BATCH_KEYS
    from perfbench.harness import Run

    run = Run(
        spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        data_dir=DATA_DIR,
        cache_dir=os.path.join(ROOT, ".bench_build", "perfbench", "oracle"),
        cores=cores, started=STARTED,
    )
    with run.excluded():
        host = {"before": _host(spark, probe=run.trace)}
    if args.workload == "reactive_txn":
        e2e = reactive.run(run)
    else:
        e2e = batch.run(run, BATCH_KEYS)
    e2e["setup_s"] = run.setup_s
    host["after"] = _host(spark, probe=run.trace)
    # CPU time the hypervisor gave to other guests while this run ran:
    # a slow run with high steal is the host, not the code.
    spent = [b - a for a, b in zip(host["before"]["cpu_times"], host["after"]["cpu_times"])]
    host["steal_frac"] = spent[7] / max(1, sum(spent[:8]))

    run.per_layer["session.start_s"] = session_s
    run.per_layer["ops_failed_frac"] = run.failed / max(1, run.attempted)
    run.per_layer["rss.peak_mb"] = _peak_rss_mb(
        [os.getpid(), spark.sparkContext._gateway.proc.pid]
    )
    chosen = PER_LAYER if run.trace else END_TO_END
    values = {k: (e2e if not run.trace else run.per_layer).get(k, 0) for k in chosen}
    trace_dir = os.path.join(ROOT, ".bench_build", "perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": host, "findings": run.findings,
        "metrics": values,
    }
    run.tracer.dump(
        os.path.join(
            trace_dir,
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
        ),
        context,
    )
    print(f"perfbench: host {json.dumps(host)}", file=sys.stderr)
    for k, v in values.items():
        print(f"perfbench: {k} = {v} {chosen[k]}", file=sys.stderr)
    return {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": chosen[k]} for k, v in values.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's block manager, the JVM's and Python's temp files, and the
    # program's own scratch directories all stay inside the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    cores = os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    sys.path[0] = ROOT  # the program, bench.py, oracle_check.py, perfbench
    spark = None
    try:
        from declarative_dataflow_spark.session import build_session

        t = time.perf_counter()
        spark = build_session("perfbench")
        session_s = time.perf_counter() - t
        result = _measure(args, spark, session_s, int(cores))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
