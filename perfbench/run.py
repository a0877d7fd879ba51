"""Benchmark runner: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload mosaic_store --seed 1 --seconds 5 --trace 0

Run from the repository root. With ``--trace 0`` the run reports the
end-to-end metrics; with ``--trace 1`` it traces passes of the
workload's operation and reports the per-layer metrics instead. Every
metric is printed as ``name value unit`` and the last line of standard
output is the JSON result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the repository root

import harness  # noqa: E402
from workloads import PROBES, WORKLOADS, Tally  # noqa: E402

SETUP_CYCLES = 5

END_TO_END = {"setup_s": "s", "op_s": "s"}

PER_LAYER = {
    "build_scenes_per_s": "scenes/s",
    "rerun_s": "s",
    "scan_mb_per_s": "MB/s",
    "queries_s": "s",
    "warmup_s": "s",
    "error_rate": "ratio",
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.tables.scan_s": "s",
    "sources.codecs.decode_mb_per_s": "MB/s",
    "sources.chunkstore.read_tasks": "count",
    "sources.chunkstore.python_worker_s": "s",
    "sources.chunkstore.arrow_mb_from_python": "MB",
    "pipeline.synthetic_scene_ms": "ms",
    "pipeline.build.jobs": "count",
    "pipeline.build.stages": "count",
    "pipeline.build.fused_tasks": "count",
    "pipeline.build.parallelism": "ratio",
    "pipeline.build.driver_gap_s": "s",
    "pipeline.build.python_worker_s": "s",
    "pipeline.build.chunks_written": "count",
    "pipeline.target_scene_periods_s": "s",
    "pipeline.rerun.jobs": "count",
    "pipeline.rerun.driver_gap_s": "s",
    "pipeline.rerun.chunks_written": "count",
    "pipeline.scene_loads": "count",
    **{
        f"probes.{q}.{k}": u
        for q in PROBES
        for k, u in (
            ("s", "s"),
            ("jobs", "count"),
            ("driver_gap_s", "s"),
            ("executor_cpu_s", "s"),
            ("shuffle_bytes", "bytes"),
        )
    },
    "probes.spill_bytes": "bytes",
    "probes.gc_s": "s",
    "probes.python_worker_s": "s",
    "probes.arrow_bytes": "bytes",
    "probes.leaked_rdds": "count",
    "trace.op_s": "s",
    "trace.counts_unrepeatable": "count",
}

# Per-layer counts the repeatability self-check compares between passes.
COUNT_UNITS = ("count", "bytes")


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    """One benchmark run; ``size="tiny"`` shrinks every input for tests."""
    state = harness.State(os.getcwd())
    tracer = harness.Tracer(trace, run_id=f"{workload}-{seed}-{os.getpid()}")
    wl = WORKLOADS[workload](seed, size, state, tracer)
    tally = Tally()
    spark = sampler = None
    try:
        wl.prepare()
        # Set-up is session start (get_spark, which also ships the package
        # to the workers) plus a first job, repeated on fresh sessions for
        # a steady median; the first one also starts the JVM. The
        # workload's first calls into its layers fall in its warm-up.
        setups, get_sparks = [], []
        for _ in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
                wl.settle()  # untimed: background input work ends
            t0 = time.perf_counter()
            with tracer.span("get_spark"):
                spark = harness.start_session(state, trace)
            get_sparks.append(time.perf_counter() - t0)
            spark.range(1).count()
            setups.append(time.perf_counter() - t0)
            if sampler is None:
                sampler = harness.MemorySampler(spark.sparkContext._gateway.proc.pid)
        sampler.reset()  # workers of the stopped sessions have exited
        wl.oracle(spark)
        t0 = time.perf_counter()
        with tracer.span("warm_up", spark):
            wl.warm_up(spark, tally)
        warmup_s = time.perf_counter() - t0
        wl.settle()  # the timed operations run alone
        if trace:
            # at least two passes, for the repeatability check
            passes = []
            for i in range(max(2, wl.min_ops)):
                with tracer.span(f"pass{i}", spark):
                    passes.append(wl.op(spark, tally))
            gauges = wl.gauges(spark)
        else:
            ops = []
            ticks0 = harness.cpu_ticks()
            deadline = time.perf_counter() + seconds
            while len(ops) < wl.min_ops or time.perf_counter() < deadline:
                ops.append(wl.op(spark, tally))
            ticks = [b - a for a, b in zip(ticks0, harness.cpu_ticks())]
        peak = sampler.peak_mb()
    finally:
        try:
            wl.settle()
            if sampler is not None:
                sampler.stop()
            harness.shutdown(spark, sorted(sampler.seen) if sampler else [])
            if trace:
                groups = harness.read_event_logs(state.path("eventlog"))
        finally:
            state.close()

    if not trace:
        values = {
            "setup_s": statistics.median(setups),
            "op_s": statistics.median([o["op_s"] for o in ops]),
        }
        units = END_TO_END
        extra = {
            "ops": len(ops),
            "error_rate": tally.failed / max(tally.attempted, 1),
            "peak_rss_mb": peak,
            "warmup_s": warmup_s,
            "steal_share": ticks[0] / max(ticks[1], 1),
            **{
                k: statistics.median([o[k] for o in ops])
                for k in ("build_scenes_per_s", "rerun_s", "scan_mb_per_s", "queries_s")
                if k in ops[0]
            },
        }
    else:
        def stats(span):
            return harness.span_stats(tracer, span, groups)

        # per-layer numbers come from the last pass; the counts it shares
        # with the pass before are checked for exact repeats
        before, last = (wl.layer_metrics(p, stats) for p in passes[-2:])
        counts = {k for k in last if PER_LAYER[k] in COUNT_UNITS}
        differ = sorted(k for k in counts if before[k] != last[k])
        same = sorted(counts - set(differ))
        values = {k: 0 for k in PER_LAYER}
        values.update(last)
        values.update(gauges)
        values.update(
            {
                "error_rate": tally.failed / max(tally.attempted, 1),
                "session.get_spark_s": statistics.median(get_sparks),
                "session.peak_rss_mb": peak,
                "warmup_s": warmup_s,
                # the statistic op_s takes untraced, for the overhead
                "trace.op_s": statistics.median([p["op_s"] for p in passes[: wl.min_ops]]),
                "trace.counts_unrepeatable": len(differ),
            }
        )
        units = PER_LAYER
        extra = {"repeatable_counts": same, "unrepeatable_counts": differ}
        out = os.path.join(os.getcwd(), harness.STATE_ROOT, f"trace-{workload}-{seed}.json")
        tracer.write(out, {"metrics": values, **extra})
        extra["spans_file"] = out
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "extra": extra,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a plain kill still runs the clean-up in run()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for err in res["errors"]:
        print(f"FAILED {err}")
    for k, m in res["metrics"].items():
        print(f"{k:48s} {m['value']:>16.6g} {m['unit']}")
    for k, v in res["extra"].items():
        print(f"{k:48s} {v}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
