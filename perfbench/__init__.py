"""Benchmark of record for libgiddy_spark (see run.py)."""
