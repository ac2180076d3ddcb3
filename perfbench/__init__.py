"""Benchmark of the fuzzycat_spark dedup pipeline (see README.md)."""
