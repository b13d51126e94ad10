"""Benchmark of the advisory pipeline and the registry; see run.py."""
