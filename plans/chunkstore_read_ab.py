"""A/B of two checkouts' ``chunkstore.read_store`` scans.

Usage::

    python plans/chunkstore_read_ab.py OLD_CHECKOUT NEW_CHECKOUT [--pairs 10] [--cpus 4]

Writes one seeded zstd store (2 x 7 x 512 x 512 float32, 128 x 128
chunks, 32 files -- the benchmark's ``mosaic_store`` scan store, seed
101), then runs alternating pairs: each side is a fresh process on
``local[cpus]`` that imports ``read_store`` from its checkout, scans
once untimed, then times ``REPS`` scans, each a full sum of every
non-NaN payload value. A side's time is the median of its reps. Every
scan's sum and count are checked against numpy's exact values.
Prints one JSON line per side per pair, then the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPS = 5
SHAPE, CHUNKS = (2, 7, 512, 512), (1, 7, 128, 128)


def _scan_sum(spark, read_store, store):
    from pyspark.sql import functions as F

    vals = F.filter("payload", lambda x: x.isNotNull() & ~F.isnan(x))
    return (
        read_store(spark, store)
        .select(
            F.aggregate(vals, F.lit(0.0), lambda a, x: a + x.cast("double")).alias("s"),
            F.size(vals).alias("n"),
        )
        .agg(F.sum("s"), F.sum("n"))
        .first()
    )


def side(checkout: str, store: str, want: dict, cpus: int) -> dict:
    sys.path.insert(0, checkout)
    from flytemosaic_spark import shipping
    from flytemosaic_spark.session import get_spark
    from flytemosaic_spark.sources.chunkstore import read_store

    # workers import the package from the shipped zip: one per side
    shipping._ZIP_PATH = os.path.join(os.path.dirname(store), f"pkg-{os.getpid()}.zip")

    spark = get_spark("chunkstore-ab", cpus=cpus, driver_memory="2g")
    spark.sparkContext.setLogLevel("ERROR")
    _scan_sum(spark, read_store, store)
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        row = _scan_sum(spark, read_store, store)
        times.append(time.perf_counter() - t0)
        if row[0] != want["sum"] or row[1] != want["count"]:
            raise SystemExit(f"wrong scan result {tuple(row)} != {want}")
    tasks = read_store(spark, store).rdd.getNumPartitions()
    spark.stop()
    return {"s": statistics.median(times), "reps": times, "tasks": tasks}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--side", help=argparse.SUPPRESS)
    ap.add_argument("--store", help=argparse.SUPPRESS)
    ap.add_argument("--want", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.side:
        print(json.dumps(side(a.side, a.store, json.loads(a.want), a.cpus)))
        return

    sys.path.insert(0, os.path.abspath(a.new))
    from perfbench.inputs import make_store

    with tempfile.TemporaryDirectory() as d:
        store = os.path.join(d, "store")
        want = make_store(store, 101, SHAPE, CHUNKS)
        runs = {"old": [], "new": []}
        for i in range(a.pairs):
            order = ("old", "new") if i % 2 == 0 else ("new", "old")
            for name in order:
                out = subprocess.run(
                    [sys.executable, __file__, a.old, a.new, "--cpus", str(a.cpus),
                     "--side", os.path.abspath(getattr(a, name)),
                     "--store", store, "--want", json.dumps(want)],
                    check=True, capture_output=True, text=True, cwd=d,
                ).stdout.strip().splitlines()[-1]
                res = json.loads(out)
                runs[name].append(res["s"])
                print(json.dumps({"pair": i, "side": name, **res}), flush=True)
    wins = sum(n < o for o, n in zip(runs["old"], runs["new"]))
    q = {k: statistics.quantiles(v, n=4) for k, v in runs.items()}
    print(json.dumps({
        "median_old_s": statistics.median(runs["old"]),
        "median_new_s": statistics.median(runs["new"]),
        "iqr_old_s": q["old"][2] - q["old"][0],
        "iqr_new_s": q["new"][2] - q["new"][0],
        "new_faster_pairs": f"{wins}/{a.pairs}",
    }))


if __name__ == "__main__":
    main()
