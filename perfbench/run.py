"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload p1_sync --seed 1 --seconds 12 --trace 0

Runs from the repository root.  ``--trace 0`` reports the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` wraps the engine's layers,
enables the Spark event log and reports the per-layer metrics.  The
exit code is 1 when a correctness check failed and 2 when the engine
package is missing.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("p1_sync", "batch_stream")


@dataclass
class Context:
    spark: object
    tracer: object
    tally: object
    seed: int
    seconds: float
    work: str
    session_s: float
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    #: run details printed before the result line, not metrics
    info: dict = field(default_factory=dict)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_line(spec: dict, trace: bool, tally, e2e: dict, layers: dict) -> dict:
    """The final JSON object: every end-to-end metric (untraced) or
    every per-layer metric (traced; a layer the workload does not run
    reads 0)."""
    if trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched (it
    exits when its stdin closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sfs3_kinesis_spark", "__init__.py")):
        print(f"error: engine package sfs3_kinesis_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    sys.path.insert(0, ROOT)
    from perfbench import host

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    os.environ.update(host.launch_env(ROOT, work, event_log_dir=event_dir))
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "start": host.record(ROOT)}

    from perfbench import eventlog, wl_batch, wl_batch_stream, wl_p1
    from perfbench.tally import Tally
    from perfbench.tracer import Tracer
    from sfs3_kinesis_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Context(
        spark=spark,
        tracer=Tracer(spark, active=bool(args.trace)),
        tally=Tally(),
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        session_s=time.perf_counter() - PROCESS_START,
    )
    ctx.layers["session.start_s"] = time.perf_counter() - t
    module = {"p1_sync": wl_p1, "batch_stream": wl_batch_stream}[args.workload]
    try:
        ctx.tracer.start()
        try:
            module.run(ctx)
        finally:
            ctx.tracer.stop()
            for q in spark.streams.active:
                q.stop()
            t = time.perf_counter()
            stop_jvm(spark)
            ctx.info["stop_s"] = time.perf_counter() - t
        if event_dir:
            wl_batch.event_log_layers(ctx.layers, eventlog.parse_path(event_dir))
        if args.trace:
            for name in ("setup_s", "latency_p50_s", "throughput_per_s"):
                ctx.layers[f"traced.{name}"] = ctx.e2e[name]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    info["end"] = host.record(ROOT)
    info["steal_share"] = host.steal_share(info["start"], info["end"])
    info["fail_share"] = ctx.tally.fail_share
    info["failures"] = ctx.tally.failures()
    info["e2e"] = ctx.e2e
    info["layers"] = ctx.layers
    info.update(ctx.info)
    print(json.dumps(info, default=str), flush=True)
    print(json.dumps(result_line(spec, bool(args.trace), ctx.tally, ctx.e2e, ctx.layers)), flush=True)
    return 0 if ctx.tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
