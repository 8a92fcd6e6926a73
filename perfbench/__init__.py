"""Benchmark for photohive_spark: seeded workloads, end-to-end and
per-layer metrics. Entry point: ``python3 perfbench/run.py``."""
