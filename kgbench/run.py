#!/usr/bin/env python3
"""Seeded benchmark of the KG build pipeline and the document operators around it.

Run from the repository root:

    python3 kgbench/run.py --workload kg_fresh --seed 1 --seconds 5 --trace 0

Workloads (kgbench/workloads.py): kg_fresh, doc_operators.
Each run is one Spark application on the program's own session defaults, in a
closed loop with one client: the next iteration starts when the previous one
ends, until --seconds have passed (at least one iteration).

Timeline of a run: CPU calibration (bench.calibrate), seeded inputs and
oracle, Spark session start, warm-up on a smaller input of the same shape,
timed iterations, output checks, session stop, calibration again. setup_s is
process start to the first timed iteration minus the calibration, input and
oracle time.

The last stdout line is the result:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
attempted/failed count warm-up operations and timed iterations; an
exception or an output that differs from the oracle is a failure. With
--trace 0 the metrics are the end-to-end ones: wall_s and cpu_s (of the
Spark JVM plus its Python workers) are medians over the iterations. With
--trace 1 the session writes an event log and the metrics are the per-layer
ones (tracing.py); iteration.wall_s there minus wall_s of an untraced run of
the same seed is the tracing overhead. The line before the result holds the
full report: host stamp, calibration, warm-up and per-iteration records, and
all six end-to-end figures with units, including peak_rss_mb (JVM plus
workers, over the timed iterations), workdir_mb and fail_ratio.

Everything the run writes stays under .kgbench_work/ in the repository root.
"""

from __future__ import annotations

import time

_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
MB = 1024 * 1024
CALIBRATION_S = 0.5


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def highest_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile with at least ten samples above
    it, or None when the sample is too small to support one."""
    n = len(values)
    if n < 11:
        return None
    p = (n - 10) / n
    return round(100 * p, 1), sorted(values)[n - 11]


def count_failures(warmup: list[dict], iterations: list[dict]) -> tuple[int, int]:
    """(attempted, failed): every warm-up op and timed iteration is an
    attempt; one that raised or whose output failed the check is a failure."""
    ops = warmup + iterations
    return len(ops), sum(1 for op in ops if op.get("error") or not op.get("ok", True))


def result_line(warmup: list[dict], iterations: list[dict], metrics: dict, units: dict) -> dict:
    """The last stdout line: verdict, attempt counts and metrics with units."""
    attempted, failed = count_failures(warmup, iterations)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def host_stamp(spark) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_kb / 1024),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "cores": spark.sparkContext.defaultParallelism,
    }


def start_session(run_dir: str, trace: bool):
    """The program's session with its own defaults, except that Spark's
    scratch files go under run_dir."""
    from robokop_build_spark.session import get_spark

    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local")}
    if trace:
        from kgbench.tracing import event_log_conf

        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    spark = get_spark(app_name="kgbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


def _error(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()


def run(args: argparse.Namespace) -> int:
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import robokop_build_spark  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from kgbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM spark-submit starts (its launcher and the Spark JVM)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # benchmark_queries sizes its import-time minhash twin from the corpus
    # this names; point it inside the checkout (the benchmark derives its own)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(WORK, "data")
    # the Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        return _measure(args, wl, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, wl, run_dir: str) -> int:
    from bench import calibrate
    from kgbench import procstat, tracing, workloads

    ncpu = os.cpu_count() or 1
    t = time.monotonic()
    cal_pre = calibrate(ncpu, CALIBRATION_S)
    inputs = wl.prepare(os.path.join(WORK, "data"), args.seed)
    expected = wl.oracle(inputs)
    excluded_s = time.monotonic() - t

    spark = start_session(run_dir, bool(args.trace))
    try:
        cores = spark.sparkContext.defaultParallelism
        host = host_stamp(spark)
        tracer = tracing.Tracer(spark) if args.trace else None

        warmup = []
        for op, fn in wl.warmup_ops(spark, inputs, run_dir):
            t = time.perf_counter()
            try:
                fn()
                warmup.append({"op": op, "wall_s": time.perf_counter() - t})
            except Exception as exc:  # recorded and counted, not swallowed
                warmup.append({"op": op, "error": _error(exc)})
        setup_s = time.monotonic() - _T0 - excluded_s

        iterations: list[dict] = []
        with procstat.PeakRssSampler() as sampler:
            t_loop = time.monotonic()
            while not iterations or time.monotonic() - t_loop < args.seconds:
                i = len(iterations)
                rec: dict = {"iteration": i}
                if tracer:
                    tracer.begin(i)
                cpu0 = procstat.tree_usage()[0]
                t = time.perf_counter()
                try:
                    rec["output"] = wl.iteration(spark, inputs, run_dir, i, tracer)
                except Exception as exc:
                    rec["error"] = _error(exc)
                rec["wall_s"] = time.perf_counter() - t
                rec["cpu_s"] = procstat.tree_usage()[0] - cpu0
                if tracer:
                    tracer.end()
                iterations.append(rec)
                if "error" in rec:
                    break  # a failed session would fail every later iteration

        for rec in iterations:
            out = rec.pop("output", None)
            if out is None:
                continue
            try:
                rec["ok"] = wl.check(out, expected)
            except Exception as exc:
                rec["error"] = _error(exc)
            rec.update(wl.finish(out))
    finally:
        try:
            stop_session(spark)
        except Exception as exc:  # a JVM that died mid-run is already a failed iteration
            print(f"kgbench: stopping the session failed: {_error(exc)}", file=sys.stderr)
    cal_post = calibrate(ncpu, CALIBRATION_S)

    attempted, failed = count_failures(warmup, iterations)
    walls = [r["wall_s"] for r in iterations]
    end_to_end = {
        "wall_s": {
            "value": statistics.median(walls),
            "unit": "s",
            "highest_percentile": highest_percentile(walls),
            "n": len(walls),
        },
        "cpu_s": {"value": statistics.median(r["cpu_s"] for r in iterations), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": sampler.peak_bytes / MB, "unit": "MB"},
        "workdir_mb": {
            "value": statistics.median(r.get("workdir_mb", 0.0) for r in iterations),
            "unit": "MB",
        },
        "fail_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "calibration_miter_s": {"pre": cal_pre, "post": cal_post},
        "excluded_s": excluded_s,
        "end_to_end": end_to_end,
        "warmup": warmup,
        "iterations": iterations,
    }
    if args.trace:
        groups = tracing.group_metrics(os.path.join(run_dir, "eventlog"))
        spans = tracing.span_metrics(tracer.spans, groups, cores)
        layers = wl.layer_metrics(spans, inputs)
        layers["iteration.wall_s"] = statistics.median(walls)
        layers["iteration.peak_rss_mb"] = end_to_end["peak_rss_mb"]["value"]
        layers["driver.gap.wall_s"] = statistics.median(
            r["wall_s"] - sum(s["wall_s"] for s in spans if s["iteration"] == r["iteration"])
            for r in iterations
        )
        units = workloads.PER_LAYER_UNITS
        # layers this workload does not run read 0
        metrics = {name: layers.get(name, 0.0) for name in units}
        report["spans"] = spans
    else:
        units = workloads.END_TO_END_UNITS
        metrics = {name: end_to_end[name]["value"] for name in units}
    print(json.dumps(report, default=str))
    print(json.dumps(result_line(warmup, iterations, metrics, units)))
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
