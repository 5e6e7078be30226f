#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Works from any working directory. The program under test is the
`block_explorer_spark` package in the directory above this one; the run
builds a local Spark session pinned to local[nproc], sets the Python
workers' import path, keeps every file it writes under
`perfbench/.work/` (removed at exit) and, with `--trace 1`, writes the
span artifact to `perfbench/out/`.

The last line of stdout is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"ingest_stream": "ingest", "api_serve": "serve"}

#: name -> unit, reported by every workload with --trace 0
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """name -> unit, reported by every workload with --trace 1 (0 where
    the workload does not exercise the layer)."""
    from perfbench import ingest, serve

    units = {
        # end-to-end figures too unsteady over one run to carry a bound:
        # a p95 over 20-40 samples is the run's slowest one or two, and
        # the JVM's heap growth moves peak RSS by a quarter between seeds
        "latency.p95_ms": "ms",
        "process.peak_rss_mb": "MB",
        "failed_ratio": "ratio",
        "trace.overhead_ms": "ms",
    }
    units.update(ingest.LAYER_UNITS)
    units.update(serve.LAYER_UNITS)
    return units


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _start_spark(work: str, cpus: int, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts (launcher and driver) keeps its temp files
    # in the run's own directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    from block_explorer_spark import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "block_explorer_spark", "__init__.py")):
        print(f"perfbench: no block_explorer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common

    cpus = _cpus()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    cpu0 = _cpu_times()
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cpus, bool(args.trace))
        print(f"# spark session up in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        ctx = common.Context(spark, args.seed, args.seconds, work, cpus)
        if args.trace:
            from perfbench.spans import Tracer

            ctx.tracer = Tracer(spark)
        module = importlib.import_module("perfbench." + WORKLOADS[args.workload])
        res = module.run(ctx)
        print(f"# workload done at {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        rss = common.peak_rss_mb(spark)
        if ctx.tracer is not None:
            ctx.tracer.unwrap_all()
            if ctx.tracer.hook_errors:
                raise RuntimeError(f"{ctx.tracer.hook_errors} tracing hooks failed")
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    print(f"# stopped at {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    cpu1 = _cpu_times()
    if len(cpu0) > 7 and len(cpu1) > 7:
        # steal: time the hypervisor gave this machine's CPUs to others,
        # the main source of run-to-run noise on a shared host
        d = [b - a for a, b in zip(cpu0, cpu1)]
        print(f"# cpu steal {d[7] / max(1, sum(d)):.1%} of machine time", file=sys.stderr)
    for note in res.notes:
        print(f"# {note}", file=sys.stderr)
    if args.trace:
        units = per_layer_units()
        layers = {**dict.fromkeys(units, 0.0), **res.layers,
                  "latency.p95_ms": res.p95_ms, "process.peak_rss_mb": rss,
                  "failed_ratio": res.failed / res.attempted if res.attempted else 0.0}
        unknown = set(layers) - set(units)
        if unknown:
            raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in units.items()}
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        artifact = os.path.join(out, f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.dump(artifact, {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "attempted": res.attempted, "failed": res.failed, "notes": res.notes,
            "metrics": metrics, "ops": res.ops,
        })
        print(f"# spans -> {artifact}", file=sys.stderr)
    else:
        values = {"setup_s": res.setup_s, "p50_ms": res.p50_ms, "ops_per_s": res.ops_per_s}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": bool(res.correct), "attempted": int(res.attempted),
                      "failed": int(res.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
