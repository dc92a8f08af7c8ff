"""Benchmark plumbing: Spark session lifecycle, in-memory spans with Spark
status-store counters, and a /proc RSS sampler for the process tree.

Nothing here knows about a workload. `workloads.py` wraps each call into a
layer of the engine in `Tracer.span(...)`; the tracer tags the Spark jobs of
that call with a job group of its own, and at the end of the run reads every
stage once through the status store and attributes each stage to the span
whose job created it.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from contextlib import contextmanager

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")

# layers are named after the engine's modules (README.md in this directory)
LAYERS = ("harvest", "compat", "sinks", "cells", "cover", "pip", "lineage", "knn")
STAGE_COUNTERS = ("tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "input_records", "task_skew")


def core_count() -> int:
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


class Session:
    """One Spark application (and one JVM) for the whole run."""

    def __init__(self, repo_root: str, workdir: str, cores: int):
        self.repo_root = repo_root
        self.workdir = workdir
        self.cores = cores
        self.spark = None
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the engine from the checkout; temp files of
        # PySpark, Arrow and the JVM stay inside the work directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dlog4j2.configurationFile=file:{log4j}"
            ),
            # keep every job and stage of a run for the tracer
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        }

    def start(self):
        from stac_to_geocore_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark, then the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _process_tree_rss(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and open
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total * PAGE_BYTES


class RssSampler:
    """Peak resident set size of this process and all its descendants (the
    driver, the JVM and the Python workers), sampled from /proc, within a
    window opened by `start_window` and closed by `end_window`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = _process_tree_rss(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start_window(self) -> None:
        with self._lock:
            self._peak = 0
        self._sample()

    def end_window(self) -> int:
        self._sample()
        with self._lock:
            return self._peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span records name, start, end, parent, workload and pass; the counts a
    workload attaches; and, filled in by `finish`, the Spark counters of the
    stages its jobs ran. When disabled, `span` yields a throwaway record and
    touches no Spark.
    """

    def __init__(self, sc, workload: str, seed: int, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.seed = seed
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        self.pass_id = 0

    def _group(self, rec: dict | None) -> str:
        return f"perfbench-span-{rec['id']}" if rec is not None else "perfbench"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {"counts": {}}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "trace_id": f"{self.workload}-seed{self.seed}-pass{self.pass_id}",
            "id": len(self.spans),
            "parent": parent["id"] if parent is not None else None,
            "name": name,
            "workload": self.workload,
            "pass": self.pass_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(rec), name)
        rec["start_s"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent), parent["name"] if parent else "perfbench")

    def finish(self, path: str) -> None:
        """Attach stage counters and self times, then write the spans out as
        JSON lines."""
        stages = _stage_table(self.sc)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            job_ids = tracker.getJobIdsForGroup(self._group(rec))
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rec["spark_jobs"] = len(job_ids)
            rec["spark"] = _stage_counters(self.sc, [stages[s] for s in stage_ids if s in stages])
            rec["dur_s"] = rec["end_s"] - rec["start_s"]
        for rec in self.spans:
            kids = [k for k in self.spans if k["parent"] == rec["id"]]
            rec["self_s"] = rec["dur_s"] - _covered(kids)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _covered(spans: list[dict]) -> float:
    """Length of the union of the spans' [start, end] intervals."""
    total, hi = 0.0, float("-inf")
    for s in sorted(spans, key=lambda r: r["start_s"]):
        lo = max(s["start_s"], hi)
        if s["end_s"] > lo:
            total += s["end_s"] - lo
        hi = max(hi, s["end_s"])
    return total


def _stage_table(sc) -> dict:
    """Every stage the status store holds, by id (last attempt wins)."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    lst = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
    out = {}
    for i in range(lst.size()):
        s = lst.apply(i)
        out[s.stageId()] = s
    return out


def _task_skew(sc, stage) -> float:
    """Max task duration over the median task duration of one stage."""
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(stage.stageId(), stage.attemptId(), q)
    if not summary.isDefined():
        return 1.0
    dur = summary.get().duration()
    med, mx = dur.apply(0), dur.apply(1)
    return mx / med if med > 0 else 1.0


def _stage_counters(sc, stages: list) -> dict:
    done = [s for s in stages if str(s.status()) == "COMPLETE"]
    out = {
        "stages": len(done),
        "tasks": sum(s.numCompleteTasks() for s in done),
        "executor_cpu_s": sum(s.executorCpuTime() for s in done) / 1e9,
        "executor_run_s": sum(s.executorRunTime() for s in done) / 1e3,
        "gc_s": sum(s.jvmGcTime() for s in done) / 1e3,
        "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in done),
        "input_records": sum(s.inputRecords() for s in done),
        "task_skew": 1.0,
    }
    if done:
        heaviest = max(done, key=lambda s: s.executorRunTime())
        out["task_skew"] = _task_skew(sc, heaviest)
        out["heaviest_stage_run_s"] = heaviest.executorRunTime() / 1e3
    return out


def layer_counters(spans: list[dict]) -> dict:
    """Per-layer Spark counters for one pass: sums over the layer's spans,
    and the skew of the heaviest stage among them."""
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["name"].split(".", 1)[0] == layer]
        if not mine:
            continue
        c = {k: sum(s["spark"][k] for s in mine) for k in STAGE_COUNTERS if k != "task_skew"}
        heavy = max(mine, key=lambda s: s["spark"].get("heaviest_stage_run_s", 0.0))
        c["task_skew"] = heavy["spark"]["task_skew"]
        out[layer] = c
    return out


OFF = Tracer(None, "", 0, enabled=False)
