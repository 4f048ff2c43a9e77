#!/usr/bin/env python3
"""Rides pipeline benchmark.

    python3 perfbench/run.py --workload {backlog,live,registry,all} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Workloads (see README.md for every metric):

- ``backlog``  closed loop: generated events drained Bronze → Silver →
  Gold one layer after another, then ``pipeline.batch_pipeline`` over the
  same Bronze;
- ``live``     open loop: one file landed every 0.08 s at a fixed event
  rate while the three streams run together;
- ``registry`` a fixed slice of the query registry at sf0.1, built and
  executed key by key;
- ``all``      the three in turn, each in its own process.

Prints each metric by name with its unit, the correctness verdict, the
host pinning, and as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Exits
non-zero, without that line, when the package cannot be imported or a
workload raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
WORKLOADS = ("backlog", "live", "registry")


def _metric_units(kind: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics listed in
    ``BENCHMARK.json``, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


E2E_UNITS = _metric_units("end_to_end")
PER_LAYER = _metric_units("per_layer")
#: units of the workload-specific figures printed with each run
INFO_UNITS = {
    "events_per_s": "events/s",
    "batch_events_per_s": "events/s",
    "events_per_s_offered": "events/s",
    "peak_rss_mb": "MB",
    **dict.fromkeys(
        (
            "stream_s", "batch_s", "registry_s", "gold_latency_p50_s", "gold_latency_p90_s",
            "stream_s_per_drain", "batch_s_per_drain", "stream_cpu_s_per_drain",
            "batch_cpu_s_per_drain", "stream_s_per_pass", "batch_s_per_pass", "cpu_s_per_pass",
        ),
        "s",
    ),
}


def pin_host(work: str) -> dict[str, str]:
    """Fix the settings a result depends on before Spark or the package is
    imported. The CPU count and driver memory may be overridden through the
    environment; scratch space always stays inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    return {
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
    }


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        pinning = pin_host(work)
        try:
            import pyspark

            import real_time_rides_data_pipeline_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
            return 2
        return run(args, work, pinning, pyspark.__version__)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # a trace file or another run's directory is there
            pass


def run_all(args) -> int:
    """Each workload in its own process, one after another."""
    worst = 0
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        worst = max(worst, subprocess.run(cmd).returncode)
    return worst


def run(args, work: str, pinning: dict[str, str], pyspark_version: str) -> int:
    from real_time_rides_data_pipeline_spark import sinks
    from real_time_rides_data_pipeline_spark.session import get_spark

    import harness
    import medallion
    import registry_slice

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = harness.Tracer(spark, f"{args.workload}-{args.seed}", bool(args.trace))
    tracer.add_span("get_spark", t0, t0 + session_s)
    workload = {
        "backlog": medallion.backlog,
        "live": medallion.live,
        "registry": registry_slice.run,
    }[args.workload]
    try:
        tracer.wrap_everywhere(sinks.merge_upsert_parquet, "merge_upsert_parquet")
        tracer.listen()
        host0 = harness.host_cpu()
        out = workload(spark, tracer, work, args.seed, args.seconds)
        pinning["cpu_steal"] = f"{harness.steal_share(host0, harness.host_cpu()):.3f}"
        out.metrics["setup_s"] = session_s + out.setup_s
        out.info["peak_rss_mb"] = out.peak_rss_mb
        layers = layer_metrics(tracer, out, session_s) if args.trace else {}
        tracer.write(os.path.join(
            os.path.dirname(work), f"trace-{args.workload}-{args.seed}.jsonl"
        ))
    finally:
        tracer.close()
        stop_spark(spark)

    report(args, out, pinning, pyspark_version, layers)
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes), and wait until it has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(tracer, out, session_s: float) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(out.layers)
    values["generator.gen_s"] = tracer.total("generate_events")
    values["session.start_s"] = session_s
    values["driver.peak_rss_mb"] = out.peak_rss_mb
    values["sinks.merge_calls"] = float(tracer.count("merge_upsert_parquet"))
    values["sinks.merge_s"] = tracer.total("merge_upsert_parquet")
    values["trace.overhead"] = tracer.overhead_s / out.timed_s
    return values


def report(args, out, pinning, pyspark_version: str, layers: dict[str, float]) -> None:
    correct = out.failed == 0 and all(ok for _, ok, _ in out.checks)
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}")
    host = {**pinning, "pyspark": pyspark_version, "commit": git_commit()}
    print("host " + "  ".join(f"{k}={v}" for k, v in host.items()))
    for name, value in out.info.items():
        shown = f"{value:.6g}" if isinstance(value, float) else value
        print(f"  {name:28s} {shown} {INFO_UNITS.get(name, '')}".rstrip())
    for name, unit in E2E_UNITS.items():
        print(f"  {name:28s} {out.metrics[name]:.6g} {unit}")
    for name, ok, detail in out.checks:
        if not ok:
            print(f"  FAILED {name}: {detail}")
    print(f"correctness {'pass' if correct else 'FAIL'}: "
          f"{out.attempted - out.failed}/{out.attempted} operations ok")
    if args.trace:
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": out.metrics[name], "unit": unit} for name, unit in E2E_UNITS.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    sys.exit(main())
