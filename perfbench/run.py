"""Benchmark entry point.

    python3 perfbench/run.py --workload tree|search --seed N --seconds S --trace 0|1
                             [--cores 4] [--heap 2g] [--toy]

Run from the root of a checkout. Everything the run writes goes under
`.perfbench/` in that checkout: inputs, checkpoints, Spark scratch and event
logs (deleted at the end) and one results JSON per run (kept, under
`.perfbench/results/`). The last line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). The line before it is a
diagnostics JSON: host-calibration probe at start and end, the share of CPU
time stolen by the hypervisor during the run, session start, warm-up, every
sample, and in the traced run the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit; the order of BENCHMARK.json's end_to_end list
END_TO_END = {
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "build_pages_per_s": "pages/s",
    "update_pages_per_s": "pages/s",
    "query_p50_s": "s",
    "batch_queries_per_s": "queries/s",
    "stored_bytes_per_page": "B/page",
}


def host_probe() -> float:
    """Best of three walls of a fixed CPU-bound loop: a drift gauge for the
    host, reported next to the metrics, never as one."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """The aggregate 'cpu' line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["tree", "search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--heap", default="2g")
    p.add_argument("--toy", action="store_true", help="toy input sizes (smoke test)")
    args = p.parse_args(argv)
    if args.seed < 0 or args.seed > 9 * 10**11:
        p.error("--seed must be in [0, 9e11]")
    return args


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    Spark settings both commits are measured with."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_TASK_CPUS"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = "1"
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(run_dir, "events")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "raptor_rag_spark", "__init__.py")):
        print(f"perfbench: no raptor_rag_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    configure_env(run_dir, bool(args.trace))

    from raptor_rag_spark.session import get_spark, warm_python_workers

    from perfbench import report, trace, workloads

    diag = {"import_s": time.perf_counter() - T_START, "probe_start_s": host_probe()}
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        cores=args.cores,
        extra_conf={
            "spark.driver.memory": args.heap,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark, tasks_per_core=1)
    diag["session_start_s"] = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = trace.Tracer(spark, enabled=bool(args.trace))
    run = workloads.Run(
        spark=spark, tracer=tracer, work=os.path.join(run_dir, "work"), seed=args.seed,
        seconds=args.seconds, sizes=(workloads.TOY_SIZES if args.toy else workloads.SIZES)[args.workload],
        jvm_pid=jvm_pid,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        run.metrics["driver_peak_rss_mb"] = trace.peak_rss_mb(os.getpid())
        diag["jvm_peak_rss_mb"] = trace.peak_rss_mb(jvm_pid)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        diag["stop_s"] = time.perf_counter() - t0
    diag["probe_end_s"] = host_probe()
    diag["cpu_steal_share"] = steal_share(cpu0, cpu_times())
    diag.update(run.details)

    e2e = {k: run.metrics[k] for k in END_TO_END}
    prefix = ("toy-" if args.toy else "") + args.workload
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "toy": args.toy,
              "metrics": e2e, "diagnostics": diag}
    if args.trace:
        groups = trace.rollup_events(trace.event_log_lines(os.environ["SPARK_GRAFT_EVENTLOG_DIR"]))
        layers = report.per_layer(tracer, groups, run)
        record["per_layer"] = layers
        record["spans"] = report.span_table(tracer, groups)
        diag["tracing_overhead"] = report.tracing_overhead(results_dir, prefix, e2e)
        out = {k: {"value": v, "unit": report.PER_LAYER[k]} for k, v in layers.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    with open(os.path.join(results_dir, f"{prefix}-s{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
