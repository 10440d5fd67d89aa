"""Benchmark of the crawl engine; entry point ``python3 perfbench/run.py``."""
