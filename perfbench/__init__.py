"""Benchmark for the iceberg_demo_spark engine; entry point ``run.py``."""
