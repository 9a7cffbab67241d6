"""Benchmark of the CLI verbs end to end and per layer (see README.md)."""
