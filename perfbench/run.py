"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workloads and the metric names and
units are read from ``BENCHMARK.json`` at that root. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median


class Context:
    """What a workload's ``measure(spark, ctx)`` works with."""

    def __init__(self, args, run_dir: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tables = harness.TABLES
        self.tracer = harness.Tracer(self.trace)


def workloads() -> dict:
    """Workload name → its ``measure(spark, ctx)`` function."""
    from perfbench import batch, stream

    return {"batch_sf0.01": batch.measure, "order_stream": stream.measure}


def run(args, spec: dict) -> dict:
    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}-{int(time.time())}")
    harness.prepare_env(run_dir)
    ticks = harness.cpu_ticks()
    measure = workloads()[args.workload]
    try:
        ctx = Context(args, run_dir)
        with harness.RssSampler() as rss:
            setups = []
            for attempt in range(SETUPS):
                with ctx.tracer.span("setup", attempt=attempt) as setup:
                    with ctx.tracer.span("session_start") as start:
                        spark = harness.start_session(run_dir)
                    harness.warm_up(spark)
                setups.append(setup.seconds)
                if attempt == 0:
                    session_start_s = start.seconds
                harness.log(f"set-up {attempt + 1}: {setup.seconds:.2f}s "
                            f"(session {start.seconds:.2f}s)")
                if attempt < SETUPS - 1:
                    spark.stop()
            result = measure(spark, ctx)
            spark.stop()
            rss.sample()
            harness.log(f"rss: {rss.describe()}")
            steal = harness.steal_frac(ticks, harness.cpu_ticks())
            harness.log(f"host steal: {steal:.1%} of CPU time")
    finally:
        harness.shutdown_jvm()
        heap_mb = harness.heap_peak_mb(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
        harness.log(f"JVM stopped; heap after GC peaked at {heap_mb:.0f} MB")

    attempted, failed = result["attempted"], result["failed"]
    lat = result["latencies_ms"]
    values = {
        "setup_s": statistics.median(setups),
        "wall_s": result["wall_s"],
        "latency_iqm_ms": harness.interquartile_mean(lat),
        "latency_p80_ms": harness.quantile(lat, 0.8),
    }
    layers = result["layers"]
    layers["rss_peak_mb"] = rss.peak_mb
    layers["heap_peak_mb"] = heap_mb
    layers["session.start_s"] = session_start_s
    layers["host.steal_frac"] = steal
    layers["failed_frac"] = failed / attempted
    if ctx.trace:
        path = os.path.join(harness.WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": ctx.tracer.spans, "layers": layers}, f)
    # A layer the workload does not use reads 0.
    names, source = ((spec["per_layer"], layers) if ctx.trace
                     else (spec["end_to_end"], values))
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(f"{args.workload}: seed {args.seed}, {len(lat)} timed operations, "
          f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})", flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "flink_learning_practise_spark")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    try:
        out = run(args, spec)
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
