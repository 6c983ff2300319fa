#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of ``BENCHMARK.json`` untraced, its ``per_layer``
metrics with ``--trace 1``). The line before it holds the workload's own
figures. A full record of the run, with the environment and, when
traced, every span, is written to ``.perfbench/`` in the checkout.
Inputs, Spark scratch space and temporary files live under
``.perfbench/work-<pid>/``, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "scala_data_pipeline_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    spec = declared_metrics()
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Everything the run writes stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    sys.path.insert(0, ROOT)

    import harness
    import wl_chain
    import wl_queries
    from spans import Tracer

    runners = {
        "queries_sf0.1": wl_queries.run,
        "pipeline_chain": wl_chain.run,
    }
    probe = [harness.host_probe_s()]
    tracer = Tracer(traced=args.trace == 1)
    ctx = harness.Context(
        root=ROOT, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer
    )
    try:
        result = runners[args.workload](ctx)
        env = harness.environment(ctx)
        probe.append(harness.host_probe_s())
    finally:
        tracer.close()
        if ctx.spark is not None:
            ctx.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    units = spec[args.trace]
    measured = result["layers"] if args.trace else result["end_to_end"]
    unknown = set(measured) - set(units)
    if unknown:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json: {sorted(unknown)}")
    # A layer this workload does not exercise reads 0.
    values = {name: measured.get(name, 0) for name in units}
    line = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "environment": {**env, "host_probe_s": probe},
        **line,
        "end_to_end": result["end_to_end"],
        "layers": result["layers"],
        "detail": result["detail"],
        "phases": ctx.phases,
        "setups": ctx.setups,
        "spans": tracer.spans if args.trace else [],
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    ctx.mark("stop")
    print(json.dumps({"workload": args.workload, "phases": ctx.phases,
                      "host_probe_s": probe, **result["detail"]}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
