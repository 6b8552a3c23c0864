"""Benchmark for laion_spark: search, ingest and dedup workloads (see README.md)."""
