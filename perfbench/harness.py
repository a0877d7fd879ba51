"""Process plumbing shared by the workloads: a private state directory,
Spark session start and shutdown, a memory sampler, and the tracer
that attributes Spark jobs, stages and tasks to benchmark spans."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

STATE_ROOT = ".perfbench"


class State:
    """A private directory for one benchmark process.

    Holds the plans/stats cache, Spark local dirs, temp files, stores,
    tables, the event log and the shipped package zip, so two runs
    (for example of two commits) never share on-disk state. Removed
    by :meth:`close`."""

    def __init__(self, root: str):
        from flytemosaic_spark import shipping  # fails first outside a checkout

        os.makedirs(os.path.join(root, STATE_ROOT), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, STATE_ROOT))
        for sub in ("stats", "local", "tmp", "eventlog", "warehouse"):
            os.makedirs(self.path(sub))
        os.environ["SPARK_GRAFT_STATS_DIR"] = self.path("stats")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = None  # re-read TMPDIR
        # every JVM started from here keeps its temp files in the state
        # directory too (no /tmp/hsperfdata_* memory map)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        shipping._ZIP_PATH = self.path("flytemosaic_spark_pkg.zip")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``. Steal is time a virtual CPU was ready but its host
    ran something else: co-tenant load that slows every timing."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def start_session(state: State, trace: bool):
    from flytemosaic_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": state.path("warehouse")}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + state.path("eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cpus=cpus(), driver_memory="3g", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, procs: list) -> None:
    """Stop Spark, then end the JVM and every Python worker seen, and
    wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches
    deadline = time.time() + 30
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak resident memory of the JVM plus its Python workers.

    Each process's own peak comes from its ``VmHWM``, so sampling can
    be sparse: every 0.5 s the sampler notes the JVM's descendants (the
    Python daemon and its workers) and their peaks; :meth:`peak_mb`
    sums the JVM's peak and the peaks of every worker seen since
    :meth:`reset`."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.seen: set[int] = set()
        self._hwm_kb: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.jvm]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            pids = self._descendants()
            with self._lock:
                self.seen.update(pids)
                for p in pids:
                    self._hwm_kb[p] = max(self._hwm_kb.get(p, 0), _status_kb(p, "VmHWM"))

    def reset(self) -> None:
        with self._lock:
            self._hwm_kb.clear()

    def peak_mb(self) -> float:
        with self._lock:
            workers = sum(self._hwm_kb.values())
        return (_status_kb(self.jvm, "VmHWM") + workers) / 1024

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans around calls into the program's layers.

    Each span has a name, start, end, parent and run id, and runs
    under its own Spark job group, so ``statusTracker`` and the event
    log attribute every job, stage and task to exactly one span. When
    disabled, :meth:`span` only yields a record with start and end."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, spark=None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}.{len(self.spans)}",
        }
        sc = spark.sparkContext if (self.enabled and spark is not None) else None
        if self.enabled:
            self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    sc.setJobGroup(outer["group"], outer["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def subtree(self, span_id: int) -> list[dict]:
        ids, out = {span_id}, []
        for s in self.spans:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Job group -> task metrics summed from Spark's JSON event logs.

    Per group: job intervals (ms since the epoch), stages run,
    executor run and CPU time, GC, shuffle bytes written, spill, and
    the Python-worker SQL metrics; plus, per stage, its task count
    and Python-worker time."""
    groups: dict[str, dict] = {}
    for fn in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        app = os.path.basename(os.path.dirname(fn))
        jobs: dict[int, dict] = {}
        stage_group: dict[int, str] = {}
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = ev.get("Properties", {}).get("spark.jobGroup.id")
                    if gid:
                        jobs[ev["Job ID"]] = {"group": gid, "start": ev["Submission Time"]}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    job = jobs[ev["Job ID"]]
                    _group(groups, job["group"])["jobs"].append((job["start"], ev["Completion Time"]))
                elif kind == "SparkListenerStageSubmitted":
                    gid = ev.get("Properties", {}).get("spark.jobGroup.id")
                    if gid:
                        stage_group[ev["Stage Info"]["Stage ID"]] = gid
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    g = _group(groups, stage_group[ev["Stage ID"]])
                    tm = ev.get("Task Metrics") or {}
                    acc = {
                        a.get("Name"): int(a.get("Update", 0))
                        for a in ev["Task Info"].get("Accumulables", [])
                        if str(a.get("Update", "")).lstrip("-").isdigit()
                    }
                    stage = g["stages"].setdefault(f"{app}/{ev['Stage ID']}", {"tasks": 0, "python_ms": 0})
                    stage["tasks"] += 1
                    stage["python_ms"] += acc.get("time to run Python workers", 0)
                    g["run_ms"] += tm.get("Executor Run Time", 0)
                    g["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    g["gc_ms"] += tm.get("JVM GC Time", 0)
                    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0)
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["python_ms"] += acc.get("time to run Python workers", 0)
                    g["arrow_to_python"] += acc.get("data sent to Python workers", 0)
                    g["arrow_from_python"] += acc.get("data returned from Python workers", 0)
    return groups


def _group(groups: dict, gid: str) -> dict:
    return groups.setdefault(
        gid,
        {
            "jobs": [], "stages": {}, "run_ms": 0, "cpu_ns": 0,
            "gc_ms": 0, "spill_bytes": 0, "shuffle_bytes": 0, "python_ms": 0,
            "arrow_to_python": 0, "arrow_from_python": 0,
        },
    )


def span_stats(tracer: Tracer, span: dict, groups: dict[str, dict]) -> dict:
    """Spark counters for ``span`` and the spans nested in it."""
    tot = _group({}, "")
    for s in tracer.subtree(span["id"]):
        g = groups.get(s["group"])
        if g is None:
            continue
        for k, v in g.items():
            if k == "jobs":
                tot[k] = tot[k] + v
            elif k == "stages":
                tot[k].update(v)
            else:
                tot[k] += v
    wall = span["end"] - span["start"]
    lo, hi = span["start"] * 1000, span["end"] * 1000
    covered, reach = 0.0, lo
    for a, b in sorted(tot["jobs"]):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            covered += b - a
            reach = b
    py_stages = [st for st in tot["stages"].values() if st["python_ms"] > 0]
    return {
        "s": wall,
        "jobs": len(tot["jobs"]),
        "stages": len(tot["stages"]),
        "driver_gap_s": max(0.0, wall - covered / 1000),
        "executor_run_s": tot["run_ms"] / 1000,
        "executor_cpu_s": tot["cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000,
        "shuffle_bytes": tot["shuffle_bytes"],
        "spill_bytes": tot["spill_bytes"],
        "python_worker_s": tot["python_ms"] / 1000,
        "arrow_bytes": tot["arrow_to_python"] + tot["arrow_from_python"],
        "arrow_from_python_bytes": tot["arrow_from_python"],
        # tasks of the stage that spent the most time in Python workers
        "python_stage_tasks": max(py_stages, key=lambda st: st["python_ms"])["tasks"] if py_stages else 0,
    }
