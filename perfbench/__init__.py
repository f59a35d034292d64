"""Benchmark of the physioview_spark engine; run ``python3 perfbench/run.py --help``."""
