"""Benchmark of the swspark crawl and scrape paths (see run.py)."""
