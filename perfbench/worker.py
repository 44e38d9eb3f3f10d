"""One benchmark run in a fresh process (started by ``run.py``).

Sets up the engine session, runs one workload and prints, as its last
line, the run's JSON result. ``run.py`` owns the process isolation, the
inputs and the peak-memory sampling; this file owns everything that
happens inside the session.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import statistics
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402
from stopwatch import cpu_ticks, steal_share  # noqa: E402
from workloads import Ctx, tail_mean  # noqa: E402


def end_to_end(ctx: Ctx, workload: str, setup_s: float) -> dict:
    ops = ctx.samples.get("op", [])
    busy = sum(ops)
    if workload == "wave_fold":
        items = ctx.facts["events_timed"]
    else:
        items = ctx.facts["ops_timed"] * ctx.facts["items_per_op"]
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (ctx.samples["run"][0], "s"),
        "ops_ok_frac": (1.0 - ctx.failed / max(ctx.attempted, 1), "fraction"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_mean(ops), "s"),
        "read_p50_s": (statistics.median(ctx.samples["read"]), "s"),
        "items_per_s": (items / busy, "1/s"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--inputs", "--cache", "--work", "--eventlog"):
        ap.add_argument(a, required=True)
    for a in ("--seed", "--seconds", "--trace"):
        ap.add_argument(a, type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--ticks0", required=True, help="cpu_ticks() at --t0, as demand,steal")
    args = ap.parse_args()

    tracer = None
    if args.trace:
        from trace_layers import Tracer

        tracer = Tracer()
        tracer.install()
    from flink_playground_spark import get_spark
    from flink_playground_spark.session import tune

    spark = tune(get_spark("perfbench"))
    spark.range(10_000).selectExpr("sum(id)").collect()
    ticks0 = tuple(int(x) for x in args.ticks0.split(","))
    setup_s = (time.monotonic() - args.t0) * (1.0 - steal_share(ticks0, cpu_ticks()))
    print(f"phase setup done {time.monotonic():.3f}", flush=True)

    ctx = Ctx(spark, args.seed, args.seconds, args.inputs, args.cache, args.work, tracer)
    ctx.facts.update(json.loads(pathlib.Path(f"{args.inputs}/facts.json").read_text()))
    if tracer is None:
        measure = workloads.WORKLOADS[args.workload](ctx)
        measure("run")
        print(f"phase run done {time.monotonic():.3f}", flush=True)
        metrics = end_to_end(ctx, args.workload, setup_s)
    else:
        # the tracer covers set-up and one measured pass; the same pass run
        # untraced just before and just after it gives the op times it is
        # compared with, so that caches still warming across passes cancel
        tracer.enabled = False
        measure = workloads.WORKLOADS[args.workload](ctx)
        untraced = []
        for tag in ("untraced_1", "traced", "untraced_2"):
            ctx.samples = {}
            tracer.enabled = tag == "traced"
            start = time.time()
            measure(tag)
            if tracer.enabled:
                tracer.window = (start, time.time())
                traced = (ctx.samples, ctx.state_dir, ctx.leaked_rdds)
            else:
                untraced.append(ctx.samples["op"])
        tracer.enabled = False
        ctx.samples, ctx.state_dir, ctx.leaked_rdds = traced
        print(f"phase run done {time.monotonic():.3f}", flush=True)
        metrics = tracer.report(ctx, args.workload, args.eventlog, untraced)
    print(f"phase stopped {time.monotonic():.3f}", flush=True)
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "facts": ctx.facts,
            }
        ),
        flush=True,
    )
    # run.py kills the process group (the Spark JVM with it); skipping
    # the orderly session shutdown saves a second or two per run
    os._exit(0)


if __name__ == "__main__":
    main()
