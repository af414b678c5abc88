"""Benchmark for hive_udf_spark: three workloads, end-to-end and per-layer metrics."""
