"""Benchmark for the rollup engine; see run.py."""
