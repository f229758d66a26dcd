"""Benchmark harness for streaminglens_spark (see README.md)."""
