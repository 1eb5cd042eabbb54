#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as JSON.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every call into ``lance_spark``, joins them to
Spark's per-job stage metrics, and prints the per-layer metrics instead.
The traced run also writes a chrome trace and a per-span report to
``perfbench/out/``. The last line of stdout is always the result; exit code
0 means every output check passed.

The process pins its own Spark environment before Spark starts, through
the knobs ``lance_spark.session.get_spark`` already reads: one Spark core
per CPU, a driver heap well under the host's memory, no console progress
bar, and a fresh ``SPARK_LOCAL_DIRS`` under the run's work directory,
which is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

import layers
from common import Ctx
from spans import Attribution, Tracer, chrome_trace, fetch_jobs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "curate")
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "recall": "ratio",
    "bytes_per_row": "B",
}


def cpu_calibration_ms() -> float:
    """One pass of the fixed single-core Python loop ``bench.py`` uses:
    tells a slow host from a slow change."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(mem_gb // 4)))}g",
        SPARK_GRAFT_CONSOLE_PROGRESS="false",
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "nproc": cpus,
        "cpu_cal_ms": round(cpu_calibration_ms(), 1),
        "loadavg_start": os.getloadavg(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def check_manifest() -> None:
    """BENCHMARK.json and this code must name the same workloads and metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    if e2e != E2E_UNITS or per != [(n, u, b) for n, u, b, _ in layers.LAYERS]:
        raise SystemExit("BENCHMARK.json and perfbench disagree on the metric list")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        raise SystemExit("BENCHMARK.json and perfbench disagree on the workloads")


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "lance_spark")):
        print(f"no lance_spark package next to {HERE}: run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    check_manifest()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(work)
    try:
        context = pin_environment(work)
        print(f"# context {json.dumps(context)}", file=sys.stderr)
        return measure(args, run_id, work, context)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, run_id: str, work: str, context: dict) -> int:
    import lance_spark as ls

    t0 = time.perf_counter()
    spark = ls.get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext, run_id) if args.trace else None
        engine = ls.trace_to_chrome(file=os.path.join(work, "engine.json")) if args.trace else None
        workload = importlib.import_module(args.workload)
        try:
            result = workload.run(Ctx(spark, work, args.seed, args.seconds), tracer)
        finally:
            if engine is not None:
                engine.finish()
        if args.trace and not result.problems:
            result.layers["session.start_s"] = session_start_s
            report_layers(spark, tracer, result, run_id, work, context)
    finally:
        stop_spark(spark)

    for p in result.problems:
        print(f"# CHECK FAILED: {p}", file=sys.stderr)
    print(f"# detail {json.dumps(result.detail)}", file=sys.stderr)
    failed = max(result.failed, len(result.problems))
    if failed:
        print(json.dumps({"correct": False, "attempted": max(result.attempted, 1),
                          "failed": failed, "metrics": {}}))
        return 1
    if args.trace:
        metrics = {n: {"value": result.layers[n], "unit": u} for n, u, _, _ in layers.LAYERS}
    else:
        metrics = {n: {"value": result.metrics[n], "unit": u} for n, u in E2E_UNITS.items()}
    print(json.dumps({"correct": True, "attempted": result.attempted, "failed": 0,
                      "metrics": metrics}))
    return 0


def report_layers(spark, tracer, result, run_id: str, work: str, context: dict) -> None:
    """Join spans to Spark's jobs, compute the per-layer metrics into
    ``result.layers``, and write the chrome trace and per-span report."""
    jobs, stages = fetch_jobs(spark.sparkContext)
    attr = Attribution(tracer.spans, jobs, stages)
    pass_span = next(s for s in reversed(tracer.spans) if s.name == "pass")
    result.layers = layers.compute(attr, pass_span, dict(result.layers))
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(work, "engine.json")) as fh:
        engine_events = json.load(fh)["traceEvents"]
    chrome_trace(os.path.join(out, f"{run_id}.trace.json"), tracer.spans, engine_events, jobs)
    with open(os.path.join(out, f"{run_id}.layers.json"), "w") as fh:
        json.dump(
            {
                "context": context,
                "layers": [
                    {"name": n, "unit": u, "better": b, "moves": moves, "value": result.layers[n]}
                    for n, u, b, moves in layers.LAYERS
                ],
                "spans": attr.report(),
            },
            fh,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main())
