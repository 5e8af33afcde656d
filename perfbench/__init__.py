"""Benchmark for the snapshot ETL engine; see README.md."""
