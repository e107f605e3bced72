"""Benchmark of the near-duplicate pipeline; entry point ``run.py``."""
