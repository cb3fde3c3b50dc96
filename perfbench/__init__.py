"""Benchmark of the ocrd_segment_spark engine (see README.md)."""
