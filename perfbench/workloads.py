"""The two benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), computes
what the program must output (``oracle``, untimed), warms the session
up with one untimed operation (``warm_up``) and then runs timed
operations that check their own outputs outside the timed region
(``op``). Oracle work may run in a background thread until ``settle``.
In a traced run, ``gauges`` times single layers on their own and
``layer_metrics`` turns the spans of one traced pass into per-layer
metrics.
"""

from __future__ import annotations

import os
import shutil
import threading
import traceback

import numpy as np

import harness
import inputs

SIZES = {
    "mosaic_store": {
        "full": {"n": 6, "px": 64, "shape": (2, 7, 512, 512), "chunks": (1, 7, 128, 128)},
        "tiny": {"n": 2, "px": 16, "shape": (1, 7, 64, 64), "chunks": (1, 7, 32, 32)},
    },
    "curation_queries": {"full": {"scale": 0.002, "n_queries": 13}, "tiny": {"scale": 0.001, "n_queries": 2}},
}

PROBES = (
    "a6_masked_mean_by_key",
    "j4_anti_join",
    "q05_local_supplier_volume",
    "q18_large_volume_customer",
    "x16_repetition_stats",
    "x24_curation_pipeline",
    "x104_clustering_coeff",
    "x113_cooccur_topk",
    "x191_theil_sen",
    "x216_spearman",
    "x238_langid",
    "x249_winnow_apply",
    "x252_txlog_cdf",
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")


class Tally:
    """Operations attempted and failed; a failed output check counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}")

    def error(self, what: str) -> None:
        self.check(what, False, traceback.format_exc(limit=3)[-400:])


class Workload:
    name = ""
    min_ops = 1  # timed operations per run, at least

    def __init__(self, seed: int, size: str, state: harness.State, tracer: harness.Tracer):
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.state = state
        self.tracer = tracer
        self._background: threading.Thread | None = None

    def in_background(self, fn) -> None:
        self._background = threading.Thread(target=fn)
        self._background.start()

    def settle(self) -> None:
        """Wait for the background oracle work, if any."""
        if self._background is not None:
            self._background.join()
            self._background = None

    def oracle(self, spark) -> None:
        pass

    def warm_up(self, spark, tally: Tally) -> None:
        self.op(spark, tally)


class MosaicStore(Workload):
    """A fresh ``build_mosaic`` and a ``skip_existing`` rerun, then
    ``read_store`` plus one full-sum reduce over a zstd store."""

    name = "mosaic_store"
    N_BANDS = 8

    def prepare(self) -> None:
        self.origin = inputs.mosaic_origin(self.seed)
        n, (ox, oy) = self.size["n"], self.origin
        self.bbox = (ox + 0.2, oy + 0.2, ox + n - 0.2, oy + n - 0.2)
        self.store = self.state.path("store")
        self.expect_scan = inputs.make_store(self.store, self.seed, self.size["shape"], self.size["chunks"])
        self.expected: dict[str, bytes] = {}

    def _build(self, spark, store, **kw) -> dict:
        from flytemosaic_spark.pipeline import build_mosaic

        return build_mosaic(
            spark, self.tiles, self.bbox, inputs.MOSAIC_TIMES, store, n_bands=self.N_BANDS,
            tile_px=self.size["px"], reducer="mean", **kw,
        )

    def oracle(self, spark) -> None:
        from flytemosaic_spark.fixtures import tile_grid
        from flytemosaic_spark.pipeline import target_scene_periods

        self.tiles = tile_grid(spark, n=self.size["n"], origin=self.origin)
        targets = [
            (r.tile_id, r.time, r.period)
            for r in target_scene_periods(spark, self.tiles, self.bbox, inputs.MOSAIC_TIMES).collect()
        ]
        self.scene_loads = len(targets)
        grid = [(r.tile_id, r.minx, r.miny) for r in self.tiles.collect()]

        def expect() -> None:
            self.expected = inputs.mosaic_oracle(targets, grid, self.N_BANDS, self.size["px"])

        self.in_background(expect)  # numpy, while the warm-up runs

    def warm_up(self, spark, tally: Tally) -> None:
        self.op(spark, tally, check=False)  # the oracle is not ready yet

    def _scan(self, spark):
        from pyspark.sql import functions as F

        from flytemosaic_spark.sources.chunkstore import read_store

        vals = F.filter("payload", lambda x: x.isNotNull() & ~F.isnan(x))
        return (
            read_store(spark, self.store)
            .select(
                F.aggregate(vals, F.lit(0.0), lambda a, x: a + x.cast("double")).alias("s"),
                F.size(vals).alias("n"),
            )
            .agg(F.sum("s"), F.sum("n"))
            .first()
        )

    def op(self, spark, tally: Tally, check: bool = True) -> dict:
        store = self.state.path("mosaic")
        shutil.rmtree(store, ignore_errors=True)
        reader = _counting_reader(spark) if self.tracer.enabled else None
        build = rerun = scan = {"s": 0.0}
        try:
            with self.tracer.span("build_mosaic", spark) as build:
                lay = self._build(spark, store, scene_reader=reader)
            build["chunks_written"] = lay["n_chunks_written"]
            if check:
                want = len(self.expected)
                tally.check("build chunks written", lay["n_chunks_written"] == want, f"{lay['n_chunks_written']} of {want}")
                bad = inputs.store_mismatches(store, self.expected)
                tally.check("build store equals oracle", not bad, f"chunks {bad[:5]}")
            with self.tracer.span("build_mosaic.rerun", spark) as rerun:
                lay2 = self._build(spark, store, skip_existing=True)
            rerun["chunks_written"] = lay2["n_chunks_written"]
            if check:
                tally.check("rerun writes nothing", lay2["n_chunks_written"] == 0, str(lay2["n_chunks_written"]))
                bad = inputs.store_mismatches(store, self.expected)
                tally.check("rerun leaves store unchanged", not bad, f"chunks {bad[:5]}")
            with self.tracer.span("read_store", spark) as scan:
                row = self._scan(spark)
            if check:
                want = self.expect_scan
                tally.check("scan count", row[1] == want["count"], f"{row[1]} != {want['count']}")
                tally.check("scan sum", row[0] == want["sum"], f"{row[0]!r} != {want['sum']!r}")
        except Exception:
            tally.error("mosaic_store")
        if reader is not None:
            build["scene_loads"] = reader.loads.value
        return {
            "op_s": build["s"] + rerun["s"] + scan["s"],
            "build_scenes_per_s": self.scene_loads / max(build["s"], 1e-9),
            "rerun_s": rerun["s"],
            "scan_mb_per_s": self.expect_scan["raw_mb"] / max(scan["s"], 1e-9),
            "spans": {"build": build, "rerun": rerun, "scan": scan},
        }

    def gauges(self, spark) -> dict:
        from flytemosaic_spark.pipeline import synthetic_scene, target_scene_periods
        from flytemosaic_spark.sources.chunkstore import read_template
        from flytemosaic_spark.sources.codecs import decompress_chunk

        with self.tracer.span("target_scene_periods", spark) as tsp:
            target_scene_periods(spark, self.tiles, self.bbox, inputs.MOSAIC_TIMES).count()
        n = 100
        with self.tracer.span("synthetic_scene") as sc:
            for p in range(n):
                synthetic_scene("000E_00N", 800 + p, self.N_BANDS, self.size["px"])
        comp = read_template(self.store)["compressor"]
        payloads = []
        for name in sorted(os.listdir(self.store)):
            if not name.startswith("."):
                with open(os.path.join(self.store, name), "rb") as f:
                    payloads.append(f.read())
        with self.tracer.span("decompress_chunk") as dec:
            raw = sum(len(decompress_chunk(p, comp)) for p in payloads)
        return {
            "pipeline.target_scene_periods_s": tsp["s"],
            "pipeline.synthetic_scene_ms": sc["s"] / n * 1000,
            "sources.codecs.decode_mb_per_s": raw / 1e6 / max(dec["s"], 1e-9),
        }

    def layer_metrics(self, result: dict, stats) -> dict:
        spans = result["spans"]
        b, r, s = stats(spans["build"]), stats(spans["rerun"]), stats(spans["scan"])
        return {
            "build_scenes_per_s": result["build_scenes_per_s"],
            "rerun_s": result["rerun_s"],
            "scan_mb_per_s": result["scan_mb_per_s"],
            "pipeline.build.jobs": b["jobs"],
            "pipeline.build.stages": b["stages"],
            "pipeline.build.fused_tasks": b["python_stage_tasks"],
            "pipeline.build.parallelism": b["executor_run_s"] / max(b["s"], 1e-9),
            "pipeline.build.driver_gap_s": b["driver_gap_s"],
            "pipeline.build.python_worker_s": b["python_worker_s"],
            "pipeline.build.chunks_written": spans["build"].get("chunks_written", 0),
            "pipeline.rerun.jobs": r["jobs"],
            "pipeline.rerun.driver_gap_s": r["driver_gap_s"],
            "pipeline.rerun.chunks_written": spans["rerun"].get("chunks_written", 0),
            "pipeline.scene_loads": spans["build"].get("scene_loads", 0),
            "sources.chunkstore.read_tasks": s["python_stage_tasks"],
            "sources.chunkstore.python_worker_s": s["python_worker_s"],
            "sources.chunkstore.arrow_mb_from_python": s["arrow_from_python_bytes"] / 1e6,
        }


def _counting_reader(spark):
    """The default scene reader, counting its calls in an accumulator."""
    loads = spark.sparkContext.accumulator(0)

    def read(tile_id, period, n_bands, size):
        from flytemosaic_spark.pipeline import synthetic_scene

        loads.add(1)
        return synthetic_scene(tile_id, period, n_bands, size)

    read.loads = loads
    return read


class CurationQueries(Workload):
    """Passes over the probe queries, each forced with the ``noop`` sink;
    the warm-up pass collects each query and checks it against its
    oracle."""

    name = "curation_queries"

    def prepare(self) -> None:
        from flytemosaic_spark.probes import all_probes

        self.sf = self.state.path("tables")
        inputs.make_tables(self.sf, self.seed, self.size["scale"])
        rng = np.random.default_rng([self.seed, 4])
        chosen = PROBES[: self.size["n_queries"]]
        self.order = [chosen[i] for i in rng.permutation(len(chosen))]
        self.probes = all_probes()
        self.expected: dict = {}
        self.in_background(self._run_oracles)  # DuckDB, while the JVM starts

    def _run_oracles(self) -> None:
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        for q in self.order:
            self.expected[q] = con.execute(self.probes[q].sql).fetchdf()
        con.close()

    def warm_up(self, spark, tally: Tally) -> None:
        self.op(spark, tally, check=True)

    def op(self, spark, tally: Tally, check: bool = False) -> dict:
        from tools.check_correctness import compare

        jrdds = spark.sparkContext._jsc
        spans, leaked = {}, 0
        for q in self.order:
            before = jrdds.getPersistentRDDs().size()
            spans[q] = {"s": 0.0}
            try:
                with self.tracer.span(f"probe.{q}", spark) as spans[q]:
                    df = self.probes[q].fn(spark, self.sf)
                    if check:
                        got = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if check:
                    verdict = compare(got, self.expected[q])
                    tally.check(f"{q} matches its oracle", verdict == "EXACT", verdict)
                else:
                    tally.check(f"{q} runs", True)
            except Exception:
                tally.error(q)
            leaked += max(0, jrdds.getPersistentRDDs().size() - before)
        total = sum(s["s"] for s in spans.values())
        return {"op_s": total, "queries_s": total, "leaked_rdds": leaked, "spans": spans}

    def gauges(self, spark) -> dict:
        from flytemosaic_spark.sources.tables import load_table

        with self.tracer.span("load_table", spark) as scan:
            load_table(spark, self.sf, "lineitem").count()
        return {"sources.tables.scan_s": scan["s"]}

    def layer_metrics(self, result: dict, stats) -> dict:
        out = {"queries_s": result["queries_s"], "probes.leaked_rdds": result["leaked_rdds"]}
        tot = {"spill_bytes": 0, "gc_s": 0.0, "python_worker_s": 0.0, "arrow_bytes": 0}
        for q, span in result["spans"].items():
            s = stats(span)
            for k in ("s", "jobs", "driver_gap_s", "executor_cpu_s", "shuffle_bytes"):
                out[f"probes.{q}.{k}"] = s[k]
            for k in tot:
                tot[k] += s[k]
        out.update({f"probes.{k}": v for k, v in tot.items()})
        return out


WORKLOADS = {w.name: w for w in (MosaicStore, CurationQueries)}
