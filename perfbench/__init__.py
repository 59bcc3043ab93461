"""Benchmark for the CDC engine: see perfbench/README.md."""
