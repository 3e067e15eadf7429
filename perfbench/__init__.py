"""Benchmark of the crawl engine, its warehouse and its query set; see README.md."""
