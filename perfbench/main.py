"""One benchmark run, in the process that owns the Spark driver.

Started by run.py with the run's own TMPDIR, SPARK_LOCAL_DIRS and the
checkout root on PYTHONPATH. Starts the session and stages the inputs
three times and keeps the last, warms it up, measures the workload for
the given seconds, checks outputs, and prints a context line and then
the result line to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
UNITS = {"setup_s": "s", "cpu_per_op_s": "s"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def start_jvm(conf: dict[str, str]) -> None:
    """Launch the JVM gateway, with the Spark driver's launch-time settings,
    without a SparkContext: set-up repeats then measure session start
    apart from process start."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    from measure import cpu_canary, median, source_stamp, tail_percentile, tree_peak_rss_mb
    from spans import JOB, Tracer, self_times
    from workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = per_layer_units()
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    canary_before = cpu_canary()

    from txf_continuous_data_pipeline_spark.session import get_spark

    start_jvm(session_conf(args.run_dir, traced))
    process_start_s = time.time() - args.spawned_at
    # Session start and input staging repeat SETUPS times (the median
    # counts); the warm-up runs once, in the last session, the one that
    # is measured.
    setups, get_spark_s = [], []
    spark = None
    for i in range(SETUPS):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        wl = WORKLOADS[args.workload](args.seed)
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(args.run_dir, traced))
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s.append(time.time() - t0)
        wl.stage(spark, os.path.join(args.run_dir, f"inputs-{i}"))
        setups.append(time.time() - t0)
    t0 = time.time()
    wl.warm(spark)
    warm_s = time.time() - t0
    log(f"process start {process_start_s:.2f} s, set-ups {[round(x, 2) for x in setups]} s, "
        f"warm-up {warm_s:.2f} s")

    tracer = Tracer(spark, spark_on=traced)
    if traced:
        wl.instrument(spark, tracer)
    t_run = time.time()
    wl.run(spark, tracer, t_run + args.seconds)
    run_wall = time.time() - t_run
    rss = tree_peak_rss_mb(os.getpid())
    tracer.unwrap_all()

    log(f"measured {len(tracer.ops())} ops in {run_wall:.2f} s")
    t0 = time.time()
    wl.check(spark)
    log(f"checks {time.time() - t0:.2f} s")
    canary_after = cpu_canary()

    ops = tracer.ops()
    op_walls = [op.duration for op in ops]
    passes = wl.passes(tracer)
    failed = len(wl.failures)
    attempted = max(wl.attempted, 1)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "nproc": os.cpu_count(), "commit": source_stamp(ROOT),
        "canary_before_s": round(canary_before, 4), "canary_after_s": round(canary_after, 4),
        "process_start_s": round(process_start_s, 3),
        "setups_s": [round(s, 3) for s in setups], "warm_s": round(warm_s, 3), "ops": len(ops), "passes": len(passes),
        "run_wall_s": round(run_wall, 3), "peak_rss_mb": round(rss, 1),
        "pass_wall_s": [round(p, 3) for p in passes], "warm_pass_wall_s": round(wl.warm_pass(tracer), 3),
        "pass_cpu_s": [round(c, 2) for c in wl.pass_cpu],
        # op latency: the median, and the p90 only when 10 samples lie beyond it
        "op_p50_s": round(median(op_walls), 3), "op_p90_s": tail_percentile(op_walls, 90),
        "failures": wl.failures,
    }
    for name, err in wl.failures:
        print(f"FAILED {name}: {err}", file=sys.stderr)

    if traced:
        n = max(len(ops), 1)
        selfs = self_times(tracer.spans)
        op_wall = sum(op.duration for op in ops)
        metrics = {name: 0.0 for name in units}
        metrics.update({
            "session.get_spark_s": median(get_spark_s),
            "fail_ratio": failed / attempted,
            "proc.peak_rss_mb": rss,
            "pass.cold_wall_s": passes[0],
            "pass.warm_wall_s": wl.warm_pass(tracer),
            "pass.cold_cpu_s": wl.pass_cpu[0],
            "pass.warm_cpu_s": median(wl.pass_cpu[1:]),
            "trace.bookkeeping_s": tracer.bookkeeping_s / n,
            "trace.coverage": sum(selfs.values()) / op_wall if op_wall else 0.0,
        })
        for key, value in tracer.counters.items():
            metrics[key] = value / n
        op_names = {op.name for op in ops}
        for name, value in selfs.items():
            key = ("self.op_s" if name in op_names
                   else "self.spark.jobs_s" if name == JOB else f"self.{name}_s")
            metrics[key] = metrics.get(key, 0.0) + value / n
        metrics.update(wl.layer_metrics(tracer))
        unknown = set(metrics) - set(units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        os.makedirs(os.path.join(ROOT, "perfbench-out"), exist_ok=True)
        tracer.dump(
            os.path.join(ROOT, "perfbench-out", f"trace-{args.workload}-s{args.seed}.json"), context
        )
        print_self_report(selfs, op_wall, tracer.bookkeeping_s)
    else:
        metrics = {
            "setup_s": process_start_s + median(setups) + warm_s,
            "cpu_per_op_s": sum(wl.pass_cpu) / max(len(ops), 1),
        }
        units = UNITS
    tracer.close()
    spark.stop()

    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def print_self_report(selfs: dict[str, float], op_wall: float, bookkeeping: float) -> None:
    """Human-readable self-time table, to stderr."""
    print(f"self time over {op_wall:.3f} s of op wall time:", file=sys.stderr)
    for name, value in sorted(selfs.items(), key=lambda kv: -kv[1]):
        share = value / op_wall if op_wall else 0.0
        print(f"  {name:36s} {value:9.3f} s  {share:6.1%}", file=sys.stderr)
    print(f"  tracer bookkeeping between ops      {bookkeeping:9.3f} s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
