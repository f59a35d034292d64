"""Per-layer instruments, all applied from outside the engine.

Nothing here edits an engine file. Layer time is taken by wrapping the
layers' public functions where their callers look them up (module
attributes), py4j traffic by wrapping the gateway client's
``send_command``, Catalyst time from each executed ``QueryExecution``'s
planning tracker, and execution counters from Spark's status tracker and
the SQL metrics of the final (adaptive) physical plan.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# counter prefix -> (module, function) entry points of a layer. A call
# nested inside another call of the same layer is not timed again.
ENTRY_POINTS = {
    "sources.read": [("physioview_spark.plans.common", "read"),
                ("physioview_spark.plans.common", "read_fanned"),
                ("physioview_spark.sources.csv", "load_signal_csv")],
    "operators.build": [("physioview_spark.operators.metrics", "compute_metrics"),
                  ("physioview_spark.operators.metrics", "get_missing")],
    "llm.checkpoint": [("physioview_spark.llm.dedup",
                        "connected_components")],
}

# SQL metrics read from the executed plan: display name -> counter name.
PLAN_METRICS = {
    "shuffle bytes written": "exec.shuffle_write_bytes",
    "shuffle records written": "exec.shuffle_records",
    "peak memory": "exec.peak_mem_bytes",
    "time to collect": "exec.broadcast_collect_ms",
    "time to run Python workers": "functions.python_total_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_received",
}
MAX_METRICS = {"exec.peak_mem_bytes"}


class Tracer:
    """Collects per-layer counters while :meth:`active` is entered."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark.sparkContext._jvm
        self.counts: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._py4j = 0
        self._mapper = None

    @contextmanager
    def active(self):
        """Install the wrappers for the duration of the block."""
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted
        undo = [(m, a, f) for layer, eps in ENTRY_POINTS.items()
                for m, a, f in self._patch(layer, eps)]
        try:
            yield self
        finally:
            del client.send_command
            for module, attr, fn in undo:
                setattr(module, attr, fn)

    def _patch(self, layer: str, entry_points):
        originals = {id(f): f for f in (
            getattr(importlib.import_module(m), a) for m, a in entry_points)}
        for module in [m for n, m in list(sys.modules.items())
                       if n.startswith("physioview_spark") and m is not None]:
            for attr, fn in list(vars(module).items()):
                if originals.get(id(fn)) is fn:
                    setattr(module, attr, self._timed(layer, fn))
                    yield module, attr, fn

    def _timed(self, layer: str, fn):
        def wrapper(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                self.counts[f"{layer}_s"] += time.perf_counter() - t0
                self.counts[f"{layer}_calls"] += 1
        return wrapper

    @contextmanager
    def window(self, group: str):
        """Label the Spark jobs launched inside the block with ``group``
        and count the py4j calls it makes; yields a dict filled on exit."""
        self.sc.setJobGroup(group, group)
        n0 = self._py4j
        out: dict[str, int] = {}
        try:
            yield out
        finally:
            out["py4j_calls"] = self._py4j - n0

    def job_stats(self, group: str) -> dict[str, int]:
        """Jobs, stages that ran and completed tasks of one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = ran = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks:
                ran += 1
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}

    def phases_ms(self, qe) -> dict[str, float]:
        """Catalyst phase durations from a QueryExecution's tracker."""
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        phases = conv.asJava(qe.tracker().phases())
        out = {}
        for p in ("analysis", "optimization", "planning"):
            s = phases.get(p)
            out[f"catalyst.{p}_ms"] = float(s.durationMs()) if s else 0.0
        return out

    def plan_metrics(self, qe, seen: set[int]) -> dict[str, float]:
        """Total the :data:`PLAN_METRICS` of an executed plan, the final
        adaptive plan and any cached plan it scans included. The tree is
        serialized in one call (as Spark's event log does); each metric
        is read once per id in ``seen``, so a reused exchange or a cache
        scanned by several queries of a pass is not counted twice."""
        if self._mapper is None:
            self._mapper = self.jvm.com.fasterxml.jackson.databind \
                .ObjectMapper()
            self._mapper.registerModule(
                self.jvm.com.fasterxml.jackson.module.scala
                .DefaultScalaModule())
        info = self.jvm.org.apache.spark.sql.execution.SparkPlanInfo \
            .fromSparkPlan(qe.executedPlan())
        stack = [json.loads(self._mapper.writeValueAsString(info))]
        accums = self.jvm.org.apache.spark.util.AccumulatorContext
        out: dict[str, float] = defaultdict(float)
        while stack:
            node = stack.pop()
            stack.extend(node["children"])
            for m in node["metrics"]:
                counter = PLAN_METRICS.get(m["name"])
                if counter is None or m["accumulatorId"] in seen:
                    continue
                seen.add(m["accumulatorId"])
                acc = accums.get(m["accumulatorId"])
                if not acc.isDefined():
                    continue
                v = float(acc.get().value())
                if m["metricType"] == "nsTiming":
                    v /= 1e6
                out[counter] = (max(out[counter], v)
                                if counter in MAX_METRICS
                                else out[counter] + v)
        return out

    def take(self) -> dict[str, float]:
        """Return and reset the wrapped-function counters."""
        out, self.counts = dict(self.counts), defaultdict(float)
        return out


def cache_state(spark) -> dict[str, float]:
    """Operator pins held, caller caches registered, and the bytes of
    cached RDD blocks (memory + disk). Blocks of local checkpoints are
    kept apart: no later plan reads them, and Spark frees them only when
    the JVM collects the checkpointed RDD."""
    from physioview_spark import cache

    cached = checkpoint = 0.0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        size = float(info.memSize() + info.diskSize())
        if info.callSite().startswith("localCheckpoint"):
            checkpoint += size
        else:
            cached += size
    return {
        "pins": len(cache._PINNED),
        "cached_plans": 0 if spark._jsparkSession.sharedState()
        .cacheManager().isEmpty() else 1,
        "storage_bytes": cached,
        "checkpoint_bytes": checkpoint,
    }


def cardiac_kernel_cpu_s(signals, fs: float) -> float:
    """CPU seconds of the filter -> detector -> artifact kernels that the
    cohort pipeline's Arrow pass runs, called directly on each array."""
    from physioview_spark.functions.kernels_artifacts import \
        identify_artifacts
    from physioview_spark.functions.spark_kernels import DETECTORS, \
        default_filter

    t0 = time.process_time()
    for x in signals:
        xf = default_filter("ECG", fs)(x)
        beats = DETECTORS["manikandan"](xf, fs)
        identify_artifacts(beats, fs, method="cbd", tol=1.0,
                           initial_hr="auto")
    return time.process_time() - t0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (this Python process, the JVM, Python workers), sampled on a thread."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while True:
            self.peak_kib = max(self.peak_kib, tree_rss_kib())
            if self._stop.wait(self.period):
                return


def descendants(root: int) -> list[int]:
    """PIDs of ``root``'s process tree (``root`` included)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_kib() -> int:
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total
