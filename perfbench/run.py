#!/usr/bin/env python3
"""perfbench: the engine's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload ingest_wave --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the engine's public API on
``local[<cpus>]`` from one driver process with one client thread (a closed
loop), checks every answer, and prints as its last stdout line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` the loop's iterations alternate
untraced and traced, and the metrics are the per-layer ones plus the
tracing overhead.  Earlier stdout lines carry
the environment, sample counts and, when traced, a per-span summary.

Set-up (input generation, Spark start, the cold first wave and the
warm-up statements) is timed as ``setup_s`` and kept out of the loop; the
loop runs whole iterations within ``--seconds``, at least one, each
followed by its correctness checks.  An untraced run whose iterations
served fewer statements than the workload's ``min_queries`` then serves
further dashboard passes over the last catalog until it holds that many
latency samples, so its percentiles rest on the same count on a slow box.
The metric names and units are read from BENCHMARK.json.
Works from any directory: the engine is imported from this checkout and
its path is passed to Spark's Python workers.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "ingest_wave": ("ingest_wave", "IngestWave"),
    "live_append": ("live_append", "LiveAppend"),
}
# a run must end, Spark stopped, well inside the 180 s a caller allows it
DEADLINE_S = 150


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def iterations(until: float, minimum: int = 1):
    """Indices of a closed loop's whole iterations: at least ``minimum``,
    and after that only while another iteration as long as the last one
    still ends by ``until``, so a run measures at most its window."""
    i, last = 0, 0.0
    while i < minimum or time.perf_counter() + last <= until:
        t0 = time.perf_counter()
        yield i
        last = time.perf_counter() - t0
        i += 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "influxer_spark")):
        print(f"perfbench: no engine sources (influxer_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness as H

    work = H.Work(args.workload, args.seed)
    H.prepare_environment(work)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        mod_name, cls_name = WORKLOADS[args.workload]
        ops = H.Ops()
        wl = getattr(importlib.import_module(mod_name), cls_name)(work, args.seed, ops)
        t0 = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter()
        spark = H.start_spark(work)
        t_spark = time.perf_counter()
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        detail = {"datagen_s": t_gen - t0, "spark_start_s": t_spark - t_gen,
                  **wl.setup_detail}
        H.log(f"setup {setup_s:.2f}s {detail}")

        start = time.perf_counter()
        if args.trace:
            result = traced_run(spark, wl, start, args.seconds)
            metrics = result.pop("metrics")
        else:
            for i in iterations(start + args.seconds):
                wl.iteration(i)
                wl.check()
            wl.top_up()
            metrics = {"setup_s": setup_s, **wl.samples.end_to_end()}
            result = {"samples": wl.samples.counts()}
            if wl.samples.first_pass_s:
                result["first_pass_p50_ms"] = 1000.0 * H.median(wl.samples.first_pass_s)
        report = {
            "workload": args.workload,
            "env": H.environment(spark, args.seed),
            "setup": {"setup_s": setup_s, **detail},
            **result,
            "failures": ops.failures[:20],
        }
    finally:
        signal.alarm(0)
        if spark is not None:
            H.stop_spark(spark)
        work.close()

    print(json.dumps(report, default=str), flush=True)
    out = {}
    for name, unit in metric_units(args.trace).items():
        v = metrics.get(name)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            ops.fail("metric", f"{name} was not measured")
            v = None
        out[name] = {"value": v, "unit": unit}
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": out,
    }), flush=True)
    return 0


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of every metric the run must print, in BENCHMARK.json's
    order: the ``end_to_end`` list, or with tracing the ``per_layer`` one."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def traced_run(spark, wl, start: float, seconds: float) -> dict:
    """Iterations alternate untraced and traced (at least one of each), so
    both see the same warm-up; per-layer metrics come from the traced
    ones and the tracing overhead from comparing the two."""
    import harness as H
    import layers
    import tracing

    tracer = tracing.Tracer(spark)
    untraced, traced = wl.samples, H.Samples()
    jobs: list = []
    for i in iterations(start + seconds, minimum=2):
        if i % 2 == 0:
            wl.iteration(i)
        else:
            wl.tracer, wl.samples = tracer, traced
            tracer.install()
            mark = tracer.mark()
            try:
                with tracer.trace(f"iteration-{i}"):
                    wl.iteration(i)
            finally:
                tracer.uninstall()
                wl.tracer, wl.samples = None, untraced
            jobs += tracer.window(mark).jobs
        # checks run untraced and outside the job windows above
        wl.check()
    spans = list(tracer.spans)

    # every executor second of a wave is either span-tagged or untagged
    attribution = [layers.attribution(spans, w["window"]) for w in wl.waves]
    for a in attribution:
        wl.ops.check("trace attribution", layers.attribution_ok(a), f"{a}")
    mark = tracer.mark()
    extra = layers.probes(spark, tracer, wl.pages, wl.last_catalog())
    extra.update(wl.layer_counts())
    metrics = layers.per_layer(
        spans, jobs, wl.waves, traced, untraced, traced.iterations,
        H.cpu_count(), extra)
    return {
        "metrics": metrics,
        "samples": {"untraced": untraced.counts(), "traced": traced.counts()},
        "wave_attribution": attribution,
        "spans": tracing.span_summary(
            tracer.spans, jobs + tracer.window(mark).jobs),
    }


if __name__ == "__main__":
    sys.exit(main())
