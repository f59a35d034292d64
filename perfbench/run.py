"""Benchmark of the physioview_spark engine, one workload per run.

    python3 perfbench/run.py --workload {headline,cohort_csv,curation} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process drives ``local[<cores>]`` in a
closed loop with one client: each query is built fresh and drained to
completion before the next one is built. A run

1. sets up: generates the inputs from the seed into a work directory
   under the repository, starts the session, and warms up with
   :data:`WARM_UP_PASSES` passes at the workload's own size (``setup_s``
   covers all of it);
2. measures complete passes for ``--seconds``. With ``--trace 0`` it
   reports the end-to-end metrics; with ``--trace 1`` untraced and traced
   passes alternate and it reports the per-layer metrics of the traced
   passes and the tracing overhead;
3. checks the outputs once, outside the timed passes, and asserts after
   every pass that no cached block or operator pin is left behind.

It prints a record of the run (machine state, versions, seed, commit,
per-query times, failures) and, as its last line, the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402

# Warm-up passes at the workload's own size; the first one (2.5-4.5x as
# long as a warm pass) also captures the checked outputs. The count is
# fixed to keep setup_s steady: warming until two passes agree within
# 10% took 3 to 5 passes, which moved setup_s by whole passes.
WARM_UP_PASSES = 3

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "samples_per_s": "1/s",
    "peak_rss_mib": "MiB",
}
PER_LAYER = {
    "plans.construct_s": "s", "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "sources.read_s": "s", "sources.read_calls": "count",
    "operators.build_s": "s", "llm.checkpoint_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_records": "count", "exec.peak_mem_bytes": "bytes",
    "exec.broadcast_collect_ms": "ms",
    "functions.python_total_ms": "ms", "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "functions.kernel_cpu_s": "s", "functions.kernel_share": "ratio",
    "cache.pins_outstanding": "count", "cache.storage_bytes": "bytes",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}
# per-pass totals that keep the largest per-query value instead of a sum
PER_QUERY_MAX = {"exec.peak_mem_bytes", "cache.pins_outstanding",
                 "cache.storage_bytes"}


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "physioview_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work`` and make the engine
    importable by executor Python workers from any working directory
    (local-mode workers inherit PYTHONPATH, not ``sys.path``)."""
    import tempfile

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str, cores: int):
    from physioview_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf={
                          "spark.ui.enabled": "false",
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir":
                              os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={work}/tmp",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait for its JVM, which exits at the end of its
    stdin; stopping the context has already ended the Python workers."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout)


def _rows(df) -> tuple[list[str], list[dict]]:
    """A frame's columns and rows, read through Arrow as the oracle's are."""
    table = df.toArrow()
    return table.column_names, table.to_pylist()


class Runner:
    """Runs passes of one workload's queries and keeps the tallies."""

    def __init__(self, spark, workload, seed: int):
        from perfbench.layers import Tracer

        self.spark, self.wl = spark, workload
        self.rng = random.Random(seed)
        self.tracer = Tracer(spark)
        self.attempted = 0
        self.failures: list[str] = []
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.checkpoint_bytes = 0.0  # largest left after a pass
        self._n = 0

    def run_pass(self, traced: bool = False, capture: dict | None = None):
        """One pass over the workload's queries in seed-shuffled order;
        with ``capture``, the frames the checks read are collected into
        it (in place of their drains). Returns (pass seconds, query
        seconds, per-layer totals)."""
        totals: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        walls = []
        for q in self.wl.queries(self.rng):
            self.attempted += 1
            try:
                wall = (self._traced(q, totals, seen) if traced
                        else self._plain(q, capture))
            except Exception as ex:  # noqa: BLE001 - count it, keep going
                self.failures.append(f"{q.name}: {type(ex).__name__}: "
                                     f"{str(ex)[:300]}")
                continue
            walls.append(wall)
            if not traced and capture is None:
                self.latency[q.name].append(wall)
        self._hygiene()
        return sum(walls), walls, totals

    def _plain(self, q, capture=None) -> float:
        from physioview_spark import cache

        t0 = time.perf_counter()
        with cache.pinned_frames():
            outs = q.build(self.spark)
            checked = {}
            if capture is not None:
                checked = q.checked(outs)
                capture[q.name] = {k: _rows(df)
                                   for k, df in checked.items()}
            for key, how in q.drains:
                df = outs[key]
                if key in checked:
                    continue
                if how == "collect":
                    df.collect()
                elif how == "count":
                    df.count()
                else:
                    df._jdf.queryExecution().toRdd().count()
            if q.after:
                q.after(outs)
        return time.perf_counter() - t0

    def _traced(self, q, totals, seen) -> float:
        """Like :meth:`_plain`, split into construction, Catalyst and
        execution windows, each with its own Spark job group."""
        from physioview_spark import cache

        from perfbench.layers import cache_state

        tr, tag = self.tracer, f"pb{self._n}"
        self._n += 1
        qes = []
        with tr.active():
            t0 = time.perf_counter()
            with cache.pinned_frames():
                with tr.window(tag + "c") as w:
                    outs = q.build(self.spark)
                t1 = time.perf_counter()
                totals["plans.construct_s"] += t1 - t0
                totals["plans.py4j_calls"] += w["py4j_calls"]
                for key, how in q.drains:
                    with tr.window(tag + "x"):
                        tc = time.perf_counter()
                        df = outs[key]
                        if how == "count":
                            df = df.groupBy().count()
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        tx = time.perf_counter()
                        if how == "full":
                            qe.toRdd().count()
                        else:
                            df.collect()
                        te = time.perf_counter()
                    totals["catalyst.s"] += tx - tc
                    totals["exec.s"] += te - tx
                    qes.append(qe)
                state = cache_state(self.spark)
                if q.after:
                    q.after(outs)
            wall = time.perf_counter() - t0
        counts = tr.take()
        counts["plans.eager_jobs"] = tr.job_stats(tag + "c")["jobs"]
        counts.update({f"exec.{k}": v
                       for k, v in tr.job_stats(tag + "x").items()})
        counts["cache.pins_outstanding"] = state["pins"]
        counts["cache.storage_bytes"] = state["storage_bytes"]
        for qe in qes:
            for k, v in {**tr.phases_ms(qe),
                         **tr.plan_metrics(qe, seen)}.items():
                counts[k] = (max(counts.get(k, 0.0), v)
                             if k in PER_QUERY_MAX else counts.get(k, 0.0) + v)
        for k, v in counts.items():
            totals[k] = (max(totals[k], v) if k in PER_QUERY_MAX
                         else totals[k] + v)
        totals["trace.pass_s"] += wall
        return wall

    def _hygiene(self, wait_s: float = 5.0) -> None:
        """Nothing a pass cached may outlive it, or the next pass would
        read the previous pass's blocks. Garbage is collected first on
        both sides of py4j: blocks of a local checkpoint are removed only
        once the JVM collects the RDD that owns them. Every pass thus
        also starts on a collected heap."""
        from perfbench.layers import cache_state

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        deadline = time.monotonic() + wait_s
        while True:
            state = cache_state(self.spark)
            self.checkpoint_bytes = max(self.checkpoint_bytes,
                                        state.pop("checkpoint_bytes"))
            if not any(state.values()):
                return
            if state["pins"] or state["cached_plans"] \
                    or time.monotonic() > deadline:
                self.failures.append(f"cache left behind after a pass: "
                                     f"{state}")
                self.spark.catalog.clearCache()
                return
            time.sleep(0.05)  # unpersisted blocks are removed async

    def warm_up(self, captured: dict) -> list[float]:
        times = [self.run_pass(capture=captured)[0]]
        times += [self.run_pass()[0] for _ in range(WARM_UP_PASSES - 1)]
        self.latency.clear()
        return times


def measure(runner: Runner, seconds: float) -> tuple[dict, list[float]]:
    """End-to-end metrics of untraced passes for ``seconds``. A pass's
    time is the sum over its queries of each query's median latency, so
    one stalled query does not move the pass the way it moves a mean."""
    from perfbench.layers import RssSampler

    passes = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(runner.run_pass()[0])
    pass_s = sum(statistics.median(v) for v in runner.latency.values())
    return {
        "pass_s": pass_s,
        "samples_per_s": runner.wl.input_rows / pass_s,
        "peak_rss_mib": rss.peak_kib / 1024.0,
    }, passes


def measure_traced(runner: Runner, seconds: float) -> tuple[dict, list]:
    """Per-layer metrics: untraced and traced passes alternate, at least
    twice each, and each metric is the median over the traced passes of
    its per-pass total. Which of the two goes first alternates too, so an
    effect of one pass on the next cancels out of the overhead."""
    from perfbench.layers import cardiac_kernel_cpu_s

    plain, traced = [], []
    t0 = time.perf_counter()
    while len(traced) < 2 or time.perf_counter() - t0 < seconds:
        for trace in (False, True) if len(traced) % 2 == 0 else (True, False):
            if trace:
                traced.append(runner.run_pass(traced=True)[2])
            else:
                plain.append(runner.run_pass()[0])
    out = {k: statistics.median(t.get(k, 0.0) for t in traced)
           for k in PER_LAYER}
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(plain)
    signals = getattr(runner.wl, "signals", None)
    if signals:
        out["functions.kernel_cpu_s"] = cardiac_kernel_cpu_s(
            signals.values(), runner.wl.fs)
    python_s = out["functions.python_total_ms"] / 1000.0
    out["functions.kernel_share"] = (out["functions.kernel_cpu_s"] / python_s
                                     if python_s else 0.0)
    out["catalyst.s"] = statistics.median(t["catalyst.s"] for t in traced)
    return out, [plain, [t["trace.pass_s"] for t in traced]]


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work: str, tiny: bool = False) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (result, record)."""
    cores = len(os.sched_getaffinity(0))
    wl = workloads.make(name, tiny=tiny)
    record = _environment(name, seed, seconds, trace, cores)
    t0 = time.perf_counter()
    wl.prepare(os.path.join(work, "inputs"), seed)
    t1 = time.perf_counter()
    spark = start_session(work, cores)
    try:
        t2 = time.perf_counter()
        runner = Runner(spark, wl, seed)
        captured: dict[str, dict] = {}
        record["warm_up_passes_s"] = runner.warm_up(captured)
        setup = {"inputs_s": t1 - t0, "session_s": t2 - t1,
                 "warm_up_s": time.perf_counter() - t2}
        if trace:
            metrics, passes = measure_traced(runner, seconds)
            record["layer_detail"] = {"catalyst.s": metrics.pop("catalyst.s")}
        else:
            metrics, passes = measure(runner, seconds)
            metrics["setup_s"] = sum(setup.values())
        lat = sorted(x for v in runner.latency.values() for x in v)
        record.update(setup=setup, passes_s=passes, query_median_s={
            k: statistics.median(v) for k, v in runner.latency.items()},
            query_latencies=len(lat), query_p50_s=statistics.median(lat),
            query_p90_s=lat[int(0.9 * (len(lat) - 1))])
    finally:
        stop_session(spark)
    t3 = time.perf_counter()
    runner.attempted += wl.n_checks()
    runner.failures += wl.check(captured)
    record["check_s"] = time.perf_counter() - t3
    units = PER_LAYER if trace else END_TO_END
    failed = len(runner.failures)
    record.update(failures=runner.failures,
                  checkpoint_bytes_left=runner.checkpoint_bytes,
                  failed_frac=failed / runner.attempted,
                  loadavg_end=os.getloadavg())
    result = {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return result, record


def _environment(name, seed, seconds, trace, cores) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        from bench import _mem_epoch
        mem_epoch = _mem_epoch()
    except ImportError:
        mem_epoch = None
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        commit = out.stdout.strip() or None
    return {
        "workload": name, "seed": seed, "seconds": seconds,
        "trace": int(trace), "nproc": cores,
        "loadavg_start": os.getloadavg(), "mem_epoch": mem_epoch,
        "commit": commit, "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: no physioview_spark engine under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    isolate(work)
    try:
        result, record = run_workload(args.workload, args.seed,
                                      args.seconds, bool(args.trace), work,
                                      tiny=args.tiny)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
