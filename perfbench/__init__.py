"""Benchmark for the transcript extraction engine; see README.md."""
