"""Print every metric of every workload, and the tracing overhead.

    python3 perfbench/report.py [--seed 1] [--seconds 5] [--workload NAME ...]

Run from the repository root. For each workload this runs
``perfbench/run.py`` twice, untraced then traced, in fresh processes,
prints each end-to-end and per-layer metric with its unit, and reports
the tracing overhead as the traced minus the untraced time of the
workload's operation (``trace.op_s - op_s``). Exits non-zero if any
run fails or any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--workload", nargs="*", default=sorted(WORKLOADS), choices=sorted(WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workload:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        ok &= plain["correct"] and traced["correct"]
        print(f"== {w}  correct={plain['correct'] and traced['correct']}  "
              f"failed={plain['failed'] + traced['failed']} of {plain['attempted'] + traced['attempted']}")
        for res in (plain, traced):
            for k, m in res["metrics"].items():
                print(f"  {k:48s} {m['value']:>16.6g} {m['unit']}")
        op = plain["metrics"]["op_s"]["value"]
        over = traced["metrics"]["trace.op_s"]["value"] - op
        print(f"  {'tracing_overhead_s':48s} {over:>16.6g} s ({over / op:+.1%} of op_s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
