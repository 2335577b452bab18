"""Benchmark for the s3_manifest_spark engine: ``python3 perfbench/run.py``."""
