"""Seeded benchmark for nimbus_crawler_spark: three workloads driven through
the package's public entry points, measured end to end and per layer from
outside the program. Entry point: ``python3 perfbench/run.py``; see
``perfbench/METRICS.md``."""
