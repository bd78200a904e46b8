"""Benchmark of the plume_spark knowledge-graph build and store (``run.py``)."""
