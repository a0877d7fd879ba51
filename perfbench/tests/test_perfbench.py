"""The benchmark's own tests: a tiny-size smoke of every workload, a
corrupted chunk counted as a failure, and metric names and units that
match BENCHMARK.json.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from flytemosaic_spark import shipping  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    spec = _bench_json()
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert names and all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(set(run.END_TO_END) | set(run.PER_LAYER)) == len(run.END_TO_END) + len(run.PER_LAYER)


def test_benchmark_json_matches_the_runner():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


@pytest.fixture
def isolated(monkeypatch, tmp_path):
    """Run in ``tmp_path``; restore what a run points at its state dir."""
    monkeypatch.chdir(tmp_path)
    for k in ("SPARK_GRAFT_STATS_DIR", "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.setattr(shipping, "_ZIP_PATH", shipping._ZIP_PATH)
    return tmp_path


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_smoke(isolated, workload, trace):
    res = run.run(workload, seed=7, seconds=1, trace=trace, size="tiny")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res["errors"]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert os.listdir(isolated / ".perfbench") == ([f"trace-{workload}-7.json"] if trace else [])


def test_cli_prints_the_result_last(isolated, capsys, monkeypatch):
    monkeypatch.setattr(run, "run", lambda *a: {
        "correct": True, "attempted": 1, "failed": 0, "errors": [],
        "metrics": {"op_s": {"value": 1.5, "unit": "s"}}, "extra": {"ops": 1},
    })
    assert run.main(["--workload", "curation_queries", "--seed", "1", "--seconds", "1"]) == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(last) == {
        "correct": True, "attempted": 1, "failed": 0,
        "metrics": {"op_s": {"value": 1.5, "unit": "s"}},
    }


def test_corrupted_chunk_counts_as_failure(isolated, monkeypatch):
    make_store = inputs.make_store

    def corrupt_first_chunk(path, *args):
        out = make_store(path, *args)
        if os.path.basename(path) == "store":
            name = sorted(n for n in os.listdir(path) if not n.startswith("."))[0]
            with open(os.path.join(path, name), "r+b") as f:
                f.truncate(os.path.getsize(f.name) // 2)
        return out

    monkeypatch.setattr(inputs, "make_store", corrupt_first_chunk)
    res = run.run("mosaic_store", seed=3, seconds=0, trace=False, size="tiny")
    assert not res["correct"]
    assert res["failed"] >= 1 and res["attempted"] >= res["failed"]
    assert not os.listdir(isolated / ".perfbench")  # state removed at exit
