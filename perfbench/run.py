"""Layered packet-vector benchmark.

    python3 perfbench/run.py --workload <ann_query|crud_mixed>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one local Spark session on up
to 4 cores, one closed-loop client. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans, job groups and
Spark's event log on, and prints the per-layer metrics. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A fuller record of the
run (every sample, and for a traced run every span) is written to
``perfbench/.work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
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
WORK = os.path.join(HERE, ".work")
RUN_DIR = os.path.join(WORK, "run")
RESULTS = os.path.join(WORK, "results")
CPUS = min(4, len(os.sched_getaffinity(0)))

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "store_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(os.path.join(RUN_DIR, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    # for every JVM started from here, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]


def start_session(trace: bool):
    from deployment_spark import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # the heap is committed and touched up front (-Xms = -Xmx), as a
        # server runs it, so peak RSS does not depend on when the heap grew
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(RUN_DIR, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS, shuffle_partitions=CPUS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.send_signal(signal.SIGKILL)
            proc.wait(timeout=10)


def tail_percentile(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(xs)
    if n < 11:
        return None, None
    p = int(100 * (n - 10) / n)
    return p, float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


def end_to_end(ctx, setup_s: float, peak_rss: int) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(ctx.samples["op"]),
        "rows_per_s": ctx.counts["rows_per_s"],
        "store_bytes_per_row": ctx.counts["store_bytes_per_row"],
        "peak_rss_mb": peak_rss / 2**20,
    }


def op_breakdown(ctx) -> dict:
    """Per-operation medians, with sample counts."""
    out = {}
    for name, xs in sorted(ctx.samples.items()):
        out[name] = {"p50": statistics.median(xs), "n": len(xs)}
        p, v = tail_percentile(xs)
        if p is not None:
            out[name][f"p{p}"] = v
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_env()
    import tracing as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with tr.RssSampler() as rss:
        t0 = time.perf_counter()
        spark, session_s = start_session(bool(args.trace))
        try:
            tracer = tr.Tracer(spark.sparkContext, bool(args.trace),
                               f"{args.workload}-{args.seed}")
            ctx = workloads.Ctx(spark, tracer, os.path.join(RUN_DIR, "data"),
                                args.seed, args.seconds)
            steps = workloads.WORKLOADS[args.workload](ctx)
            next(steps)
            setup_s = time.perf_counter() - t0
            ctx.recording = True
            with tracer.span("workload"):
                for _ in steps:
                    pass
        finally:
            stop_session(spark)
        rss.sample()
    failed = len(ctx.failures)
    for f in ctx.failures:
        print("CHECK FAILED:", f, file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "cpus": CPUS, "attempted": ctx.attempted, "failed": failed,
              "failed_op_ratio": failed / ctx.attempted, "ops": op_breakdown(ctx),
              "samples": ctx.samples, "counts": ctx.counts}
    if args.trace:
        import layers

        metrics = layers.per_layer(ctx, tracer.spans, tr.parse_event_log(
            os.path.join(RUN_DIR, "eventlog")), session_s, CPUS, _untraced(args))
        record["spans"] = [vars(s) for s in tracer.spans]
        units = layers.UNITS
    else:
        metrics = end_to_end(ctx, setup_s, rss.peak_bytes)
        units = END_TO_END
    record["metrics"] = metrics
    name = f"{args.workload}-seed{args.seed}" + ("-trace" if args.trace else "")
    with open(os.path.join(RESULTS, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"workload": args.workload, "failed_op_ratio": record["failed_op_ratio"],
                      "ops": record["ops"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def _untraced(args) -> dict | None:
    """The untraced record of the same workload and seed, if one was run
    in this checkout: the tracing overhead is measured against it."""
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


if __name__ == "__main__":
    sys.exit(main())
