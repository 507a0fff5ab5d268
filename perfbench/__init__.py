"""Benchmark of record for the engine; run ``python3 perfbench/run.py --help``."""
