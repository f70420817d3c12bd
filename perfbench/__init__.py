"""Benchmark of rdf2hk_spark: see run.py."""
