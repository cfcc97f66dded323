"""Crawl benchmark: seeded workloads, timing, tracing and output checks."""
