"""Benchmark for kstreamjs_spark; run it with ``python3 perfbench/run.py``."""
