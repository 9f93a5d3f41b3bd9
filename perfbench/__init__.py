"""Benchmark of storage_spark: four workloads, end-to-end and per-layer metrics."""
