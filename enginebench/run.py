"""Engine benchmark: one workload, one seed, one run.

    python3 enginebench/run.py --workload rag_serve --seed 1 --seconds 8 --trace 0

Run from the repository root. The run builds its inputs from the seed in a
private directory under `.bench_work/` (removed at exit; Spark's local
dirs, warehouse, temp files and event log live there too), starts one
Spark session at local[nproc], sets the workload up, measures for
`--seconds`, checks every answer, and prints a report whose last line is
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run wraps each layer in spans, switches Spark's event log on, and reports
the per-layer metrics instead. Spans, counters and the full report are
written to `.bench_out/<workload>-seed<seed>-trace<0|1>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, parse_event_log  # noqa: E402

# Driver heap. With the engine's 8g default the JVM's peak resident memory
# on the curation pass varied from 3.1 to 4.4 GB between seeds (it follows
# garbage-collection timing); at 2g it stays near 1.9 GB.
DRIVER_MEM = "2g"



def isolate(work: str, trace: bool) -> None:
    """Point every temp, scratch and output location of Spark, the JVM and
    the engine at `work`, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.rolling.enabled=false",
                 "spark.eventLog.compress=false", f"spark.eventLog.dir=file://{os.path.join(work, 'events')}"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(probe.nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(args, work: str) -> dict:
    trace = bool(args.trace)
    sys.path.insert(0, ROOT)
    from ai_optimizer_spark import session  # absent outside a full checkout

    isolate(work, trace)
    speed_before = probe.box_speed()
    t0 = time.perf_counter()
    spark = session.get_spark("enginebench")
    t1 = time.perf_counter()
    session.ensure_package_shipped(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    timing = {"get_spark_s": t1 - t0, "ship_package_s": t2 - t1}

    tracer = Tracer(spark.sparkContext) if trace else None
    run = workloads.Run(spark, work, args.workload, args.seed, args.seconds, tracer)
    run.phases["session"] = t2 - t0
    try:
        if tracer is not None:
            workloads.instrument(tracer, run)
        workloads.WORKLOADS[args.workload](run)
    finally:
        if tracer is not None:
            tracer.unpatch()
        stop_spark(spark)
        run.phase("stop")
    speed_after = probe.box_speed()

    e2e = report.end_to_end(run, timing["get_spark_s"] + timing["ship_package_s"])
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "end_to_end": e2e,
        "summary": report.summary(run, e2e),
        "session": timing,
        "probe": probe.verdict(speed_before, speed_after),
        "errors": run.errors,
        "latency_s": run.latency,
        "cpu_s": run.cpu,
    }
    if trace:
        groups = parse_event_log(os.path.join(work, "events"))
        result["per_layer"] = report.per_layer(run, timing, groups)
        result["spans"] = [vars(s) for s in tracer.spans]
        result["per_op"] = run.per_op
    result["line"] = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": (result["per_layer"] if trace else e2e)[name], "unit": unit}
            for name, unit in (report.PER_LAYER if trace else report.END_TO_END).items()
        },
    }
    return result


def overhead(result: dict, out_dir: str) -> dict | None:
    """Traced minus untraced end-to-end numbers, when an untraced run of the
    same workload and seed left its report in `out_dir`."""
    path = os.path.join(out_dir, f"{result['workload']}-seed{result['seed']}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        base = json.load(fh)
    return {"cpu_ms_per_op": result["end_to_end"]["cpu_ms_per_op"] - base["end_to_end"]["cpu_ms_per_op"],
            "op_p50_ms": result["summary"]["op_p50_ms"] - base["summary"]["op_p50_ms"]}


def print_report(result: dict) -> None:
    print(f"# {result['workload']} seed={result['seed']} trace={int(result['trace'])} "
          f"probe={json.dumps(result['probe'])}")
    for name, unit in report.END_TO_END.items():
        print(f"{name:<28} {result['end_to_end'][name]:>14.4f} {unit}")
    for name, value in result["summary"].items():
        print(f"{name:<28} {value}")
    if result.get("overhead"):
        print(f"trace overhead               {json.dumps(result['overhead'])}")
    for err in result["errors"][:10]:
        print(f"error: {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(os.path.dirname(work)) and not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    if args.trace:
        result["overhead"] = overhead(result, out_dir)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    print_report(result)
    print(json.dumps(result["line"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
