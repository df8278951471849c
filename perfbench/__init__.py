"""Benchmark of the pyhctsa_spark engine: see README.md and run.py."""
