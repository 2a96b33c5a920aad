"""Layered benchmark for the crawl engine and the index queries.

Run ``python3 perfbench/run.py --help``; ``perfbench/README.md`` lists
the workloads and metrics."""
