"""Benchmark of the fundamental_spark crawl and query tiers (see run.py)."""
