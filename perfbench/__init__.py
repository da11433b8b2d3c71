"""Benchmark for the Spark span-extraction pipeline; see README.md."""
