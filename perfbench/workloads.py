"""The benchmark's workloads: inputs, the queries of one pass, and the
output checks.

- ``headline``: the 12 headline queries over sf0.1-shaped tables. Plan
  construction in Python and Catalyst are a large share of each query, so
  plan-building work shows here and kernel or shuffle work should not.
- ``cohort_csv``: the one-call ``run_pipeline`` over one ECG CSV per
  subject. The Arrow kernel pass, the dense sample-frame shuffles and CSV
  parsing dominate.
- ``curation``: the registry's two largest plans over the documents
  table. Exchanges, broadcasts and the eager checkpoint inside connected
  components dominate.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from typing import Callable


@dataclass
class Query:
    """One query of a pass. A drain consumes an output: ``collect`` its
    rows into Python, ``count`` them (the plan DataFrame.count runs),
    or ``full``: run the output's own plan to completion, every column of
    every row, returning nothing (the work of the noop sink)."""

    name: str
    build: Callable  # (spark) -> {output name: DataFrame}
    drains: list[tuple[str, str]]  # (output name, drain)
    checked: Callable  # (outputs) -> {name: DataFrame} the check reads
    after: Callable | None = None  # (outputs) -> None, once drained


class Workload:
    name = ""
    input_rows = 0  # rows of input one pass reads

    def prepare(self, work_dir: str, seed: int) -> None:
        raise NotImplementedError

    def queries(self, rng: random.Random) -> list[Query]:
        raise NotImplementedError

    def check(self, captured: dict[str, dict]) -> list[str]:
        """Check the outputs captured by one pass (query name -> checked
        frame name -> (columns, rows as dicts)); one message per failed
        check."""
        raise NotImplementedError

    def n_checks(self) -> int:
        raise NotImplementedError


class _Registry(Workload):
    """Declared registry queries checked against their DuckDB oracles."""

    tables: tuple[str, ...] = ()

    def __init__(self, sf: float, names: list[str]):
        import __spark_entry__

        self.sf, self.names = sf, names
        self.fns = __spark_entry__.queries()

    def prepare(self, work_dir, seed):
        from perfbench.inputs import make_tables

        self.dir = os.path.join(work_dir, "tables")
        self.input_rows = make_tables(self.dir, seed, self.sf, self.tables)

    def _query(self, name: str, drain: str) -> Query:
        fn = self.fns[name]
        return Query(name, lambda spark: {"out": fn(spark, self.dir)},
                     [("out", drain)], checked=lambda outs: outs)

    def n_checks(self):
        return len(self.names)

    def check(self, captured):
        import __spark_entry__
        from tools.check_oracle import compare_values

        oracles = __spark_entry__.oracle_sql()
        failures = []
        for name in self.names:
            if name not in captured:
                failures.append(f"{name}: no output captured")
                continue
            scols, srows = captured[name]["out"]
            dcols, drows = self._oracle(oracles[name])
            if set(scols) != set(dcols):
                failures.append(f"{name}: columns {sorted(scols)} != "
                                f"{sorted(dcols)}")
            elif len(srows) != len(drows):
                failures.append(f"{name}: rows {len(srows)} != {len(drows)}")
            else:
                # 'stale' is a one-grid-step float difference, not a
                # wrong answer
                status, detail = compare_values(srows, scols, drows, dcols)
                if status == "fail":
                    failures.append(f"{name}: {detail}")
        return failures

    def _oracle(self, sql: str) -> tuple[list[str], list[dict]]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute("SET memory_limit='2GB'")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.dir}/{t}.parquet')")
            table = con.execute(sql).fetch_arrow_table()
        finally:
            con.close()
        return table.column_names, table.to_pylist()


class Headline(_Registry):
    name = "headline"
    tables = ("nation", "customer", "orders", "lineitem", "events")

    def __init__(self, sf: float = 0.1):
        import bench

        super().__init__(sf, list(bench.HEADLINE))
        self.small = set(bench.SMALL_OUTPUT)

    def queries(self, rng):
        order = rng.sample(self.names, len(self.names))
        return [self._query(n, "collect" if n in self.small else "count")
                for n in order]


class Curation(_Registry):
    name = "curation"
    tables = ("documents",)

    def __init__(self, sf: float = 0.1):
        super().__init__(sf, ["doc_curation_pipeline_v3", "doc_dedup_delta"])

    def queries(self, rng):
        return [self._query(n, "full")
                for n in rng.sample(self.names, len(self.names))]


class CohortCsv(Workload):
    """``run_pipeline`` over one ECG CSV per subject."""

    name = "cohort_csv"
    fs = 256.0

    def __init__(self, n_subjects: int = 4, duration: float = 600.0):
        self.n_subjects, self.duration = n_subjects, duration

    def prepare(self, work_dir, seed):
        from perfbench.inputs import make_cohort

        self.dir = os.path.join(work_dir, "cohort")
        self.input_rows, self.signals, self.truth = make_cohort(
            self.dir, seed, self.n_subjects, self.duration, self.fs)

    def _run(self, spark):
        from physioview_spark import PipelineConfig, run_pipeline

        cfg = PipelineConfig(dtype="ECG", fs=self.fs,
                             headers={"Timestamp": "ts", "ECG": "ecg"})
        return run_pipeline(spark, cfg, path=self.dir)

    def queries(self, rng):
        return [Query("run_pipeline", self._run,
                      [("metrics", "collect"), ("summary", "collect"),
                       ("ibi", "full")],
                      checked=self._checked,
                      after=lambda out: out["samples"].unpersist())]

    @staticmethod
    def _checked(outs):
        from pyspark.sql import functions as F

        beats = outs["samples"].where(F.col("beat") == 1)
        return {"metrics": outs["metrics"], "summary": outs["summary"],
                "beats": beats.select("subject_id", "sample_idx")}

    def n_checks(self):
        return 2 + self.n_subjects

    def check(self, captured):
        import numpy as np
        from physioview_spark.testing import beat_match_stats

        if "run_pipeline" not in captured:
            return ["run_pipeline: no output captured"]
        rows = {k: r for k, (_, r) in captured["run_pipeline"].items()}
        failures = []
        want = self.n_subjects * math.ceil(self.duration / 60)
        if len(rows["metrics"]) != want:
            failures.append(f"metrics rows {len(rows['metrics'])} != {want}")
        if len(rows["summary"]) != self.n_subjects:
            failures.append(f"summary rows {len(rows['summary'])} != "
                            f"{self.n_subjects}")
        found: dict[str, list[int]] = {sid: [] for sid in self.truth}
        for r in rows["beats"]:
            found.setdefault(r["subject_id"], []).append(r["sample_idx"])
        for sid, true_idx in self.truth.items():
            recall, _ = beat_match_stats(np.sort(found[sid]), true_idx,
                                         self.fs)
            if recall < 0.95:
                failures.append(f"{sid}: beat sensitivity {recall:.3f}")
        return failures


def make(name: str, tiny: bool = False) -> Workload:
    """The named workload at benchmark size, or tiny for the smoke test."""
    if name == "headline":
        return Headline(sf=0.001 if tiny else 0.1)
    if name == "cohort_csv":
        return CohortCsv(*((2, 120.0) if tiny else ()))
    if name == "curation":
        return Curation(sf=0.01 if tiny else 0.1)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("headline", "cohort_csv", "curation")
