"""Benchmark of the transcript validation engine; entry point is run.py."""
