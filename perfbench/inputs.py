"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the seed and the size, so two runs with
the same seed read byte-identical files. The tables follow the engine's
TPC-H-like test corpora per scale factor: the same columns and Arrow
types (``events.ts`` included, a microsecond timestamp there too), row
counts, key ranges and value distributions. The cohort is one ECG CSV
per subject, synthesized with known beat positions.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def make_tables(out_dir: str, seed: int, sf: float,
                names: tuple[str, ...]) -> int:
    """Write the named tables at scale factor ``sf``; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    rows = 0
    for name in names:
        if name == "nation":
            k = np.arange(25, dtype=np.int32)
            rows += _write(out_dir, name, {
                "n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                "n_regionkey": k % 5})
        elif name == "customer":
            k = np.arange(n_cust, dtype=np.int64)
            rows += _write(out_dir, name, {
                "c_custkey": k,
                "c_name": [f"Customer#{i:09d}" for i in k],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"], n_cust)})
        elif name == "orders":
            rows += _write(out_dir, name, {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], n_ord)})
        elif name == "lineitem":
            n = 4 * n_ord
            rows += _write(out_dir, name, {
                "l_orderkey": rng.integers(0, n_ord, n),
                "l_partkey": rng.integers(0, int(200_000 * sf), n),
                "l_suppkey": rng.integers(0, int(10_000 * sf), n),
                "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n),
                "l_linestatus": rng.choice(["F", "O"], n),
                "l_shipdate": _days(rng, "1995-01-02", 2499, n)})
        elif name == "events":
            n = int(1_000_000 * sf)
            span_us = 30 * 86400 * 10**6
            ts = np.sort(rng.integers(0, span_us, n))
            rows += _write(out_dir, name, {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us") + ts.astype(
                    "timedelta64[us]"),
                "user_id": rng.integers(0, max(int(15_000 * sf), 2), n),
                "event_type": rng.choice(
                    ["click", "error", "purchase", "signup", "view"], n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
        elif name == "documents":
            rows += _write(out_dir, name, _documents(rng, int(50_000 * sf)))
        else:
            raise ValueError(f"unknown table {name}")
    return rows


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents over a 30-word vocabulary; ~5% are near
    copies of an original document (one token replaced by ``dup``) and
    ~0.2% exact copies, so the dedup stages have small clusters to find."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.052:
            toks = texts[originals[int(rng.integers(0, len(originals)))]] \
                .split()
            if r < 0.05:
                toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def make_cohort(out_dir: str, seed: int, n_subjects: int, duration: float,
                fs: float) -> tuple[int, dict[str, np.ndarray],
                                    dict[str, np.ndarray]]:
    """One ``Timestamp,ECG`` CSV per subject (Unix-seconds timestamps).

    Returns (total samples, signal per subject as written, true beat
    sample indices per subject)."""
    from physioview_spark.testing import synth_ecg

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    signals, truth = {}, {}
    for s in range(n_subjects):
        sid = f"s{s:03d}"
        x, beats = synth_ecg(fs=fs, duration=duration,
                             hr=float(rng.uniform(60, 85)),
                             seed=int(rng.integers(0, 2**31)))
        x = np.round(x, 6)
        ts = 1.7e9 + float(rng.integers(0, 10**6)) + np.arange(len(x)) / fs
        pd.DataFrame({"Timestamp": ts, "ECG": x}).to_csv(
            os.path.join(out_dir, f"{sid}.csv"), index=False,
            float_format="%.6f")
        signals[sid], truth[sid] = x, beats
    return sum(len(x) for x in signals.values()), signals, truth
