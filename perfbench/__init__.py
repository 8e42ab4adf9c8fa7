"""Benchmark of the searchengine_spark engine (see run.py)."""
