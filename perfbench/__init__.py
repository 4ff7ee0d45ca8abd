"""Benchmark for muller_spark: closed-loop workloads, output oracles and
a traced per-layer breakdown.  Entry point: ``perfbench/run.py``."""
