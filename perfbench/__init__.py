"""Benchmark for the kommunedata Spark engine; see README.md."""
