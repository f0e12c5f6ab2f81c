"""Benchmark of the near-duplicate engine (see README.md)."""
