"""Benchmark harness for kermit_spark; see README.md and run.py."""
